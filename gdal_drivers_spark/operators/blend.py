"""Weighted-average feathered blend — the Blender driver's core math
(``/root/reference/gdal-drivers/blender.cpp:559-655``) as a distributed
grouped aggregation.

Semantics reproduced exactly (verified against a scalar oracle in
tests/test_pixelops.py):

- per-pixel weight = validity(inside valid extents) × feather ramp:
  area(valid ∩ 2ow×2oh kernel centered on the pixel) / kernel area
  (``blender.cpp:601-624``); ow=0 degrades to the hard inside
  indicator (``blender.cpp:590-600``);
- pixel centers at +0.5 (``blender.cpp:593``);
- accumulate ``acc += img*w; wacc += w`` in float64 regardless of
  storage dtype (``blender.cpp:223``, ``626-631``);
- zero-weight pixels → nodata value, or masked out when no nodata
  (``blender.cpp:634-646``);
- final cast to the output dtype (``blender.cpp:648-653``);
- output validity mask = OR over sources of (weight > 0)
  (``blender.cpp:657-731``).

Distributed shape: the reference's per-block nested loop over sources
(a block-nested-loop join, ``blender.cpp:570``) becomes one grouped
Arrow kernel per (cell, band) (``_groups.run_grouped`` over
``groupBy(cell, band)``), with each group's pixel math one vectorized
numpy pass. Co-partitioning on cell means the blend reuses
the shuffle of the upstream tile assignment. Skew (a cell with many
overlapping sources) is handled upstream by adaptive cell-split
(plans/skew.py) — the group function itself is O(sources × tile_px).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import codecs
from ..core.qcell import UNIT, Grid
from ._groups import run_grouped

BLEND_SCHEMA = (
    "cell long, band int, tile binary, mask binary, n_sources int, w int, h int"
)

_DTYPES = {
    "u8": np.uint8, "u16": np.uint16, "i16": np.int16,
    "u32": np.uint32, "i32": np.int32, "f32": np.float32, "f64": np.float64,
}


def blend_tiles(
    contribs: DataFrame,
    tile_px: int = 256,
    overlap: float = 0.0,
    nodata: float | None = None,
    out_dtype: str = "u8",
    grid: Grid = UNIT,
) -> DataFrame:
    """Blend per-(cell, band) source contributions into output tiles.

    ``contribs`` rows: (cell:long, band:int, source_id, tile:binary
    [raw-encoded pixels for the full cell span], vx0,vy0,vx1,vy1:double
    [source valid extents, world coords]) — plus an OPTIONAL ``mask``
    column (raw u8 tile_px² per contribution, 255=valid, NULL =
    all-valid; r04): a contribution's per-pixel validity (e.g. a
    warp's ``with_mask=True`` output) multiplies its feather weight,
    so warp-introduced nodata neither dilutes the blend with nodata
    VALUES nor contributes weight — exactly the reference's
    mask-aware accumulation (blender.cpp:626-646).

    Returns one row per (cell, band): blended tile + validity mask.
    """
    if out_dtype not in _DTYPES:
        # dtype domain exactly solid.cpp:408-440; anything else raises
        raise ValueError(f"unsupported dtype {out_dtype!r} (solid.cpp:437-439)")
    np_dtype = _DTYPES[out_dtype]
    gx0, gy0, gx1, gy1 = grid.x0, grid.y0, grid.x1, grid.y1

    def _blend(key, g):
        cell, band = key
        n_rows = len(g["tile"])
        # world extents of this cell (drives pixel-center coordinates)
        z = cell >> 52
        cx = (cell >> 26) & ((1 << 26) - 1)
        cy = cell & ((1 << 26) - 1)
        n = 1 << z
        cw = (gx1 - gx0) / n
        ch = (gy1 - gy0) / n
        x0 = gx0 + cx * cw
        y0 = gy0 + cy * ch
        # pixel centers (+0.5 — blender.cpp:593)
        pxs = x0 + (np.arange(tile_px) + 0.5) * (cw / tile_px)
        pys = y0 + (np.arange(tile_px) + 0.5) * (ch / tile_px)

        # the kernel weight is separable (wx(px)·wy(py), blender.cpp
        # 606-624 is two clamped 1-D ramps): two length-T ramps + one
        # outer product replace 4 min/max passes over T² points —
        # entrywise identical to feather_weight (same expressions)
        def _ramp(p, lo, hi, o):
            if o <= 0:
                return ((p >= lo) & (p < hi)).astype(np.float64)
            return np.clip((np.minimum(p + o, hi) - np.maximum(p - o, lo)) / (2.0 * o), 0.0, 1.0)

        acc = np.zeros((tile_px, tile_px), np.float64)
        wacc = np.zeros((tile_px, tile_px), np.float64)
        # accumulate in data order (extents, then payload), not shuffle
        # arrival order: float sums of 3+ sources are order-sensitive
        masks = g.get("mask") or [None] * n_rows
        srcs = sorted(
            zip(g["tile"], g["vx0"], g["vy0"], g["vx1"], g["vy1"], masks),
            key=lambda r: (r[1:5], r[0], r[5] or b""))
        for raw, rvx0, rvy0, rvx1, rvy1, rm in srcs:
            img = codecs.decode(raw).astype(np.float64)[:, :, 0]
            w = np.outer(
                _ramp(pys, rvy0, rvy1, overlap), _ramp(pxs, rvx0, rvx1, overlap)
            )
            if rm is not None:
                w = w * (
                    np.frombuffer(bytes(rm), np.uint8).reshape(img.shape) > 0
                )
            acc += img * w
            wacc += w
        valid = wacc > 0
        out = np.zeros((tile_px, tile_px), np.float64)
        out[valid] = acc[valid] / wacc[valid]
        if nodata is not None:
            out[~valid] = nodata  # blender.cpp:643-646
        # dtype cast with clipping saturation (blender.cpp:648-653)
        if np_dtype not in (np.float32, np.float64):
            info = np.iinfo(np_dtype)
            out = np.clip(np.rint(out), info.min, info.max)
        tile = out.astype(np_dtype)
        mask = (valid.astype(np.uint8) * 255)  # OR-combine (blender.cpp:721-722)
        return [(cell, band, tile.tobytes(), mask.tobytes(), n_rows, tile_px, tile_px)]

    # the grouping stays a groupBy, so a mosaic bucketed by (cell, band)
    # blends with ZERO exchanges (plan-asserted in test_layout)
    cols = ["tile", "vx0", "vy0", "vx1", "vy1"]
    if "mask" in contribs.columns:
        cols.append("mask")
    return run_grouped(contribs, ["cell", "band"], cols, _blend, BLEND_SCHEMA)


def check_compatibility(sources: pd.DataFrame, eps: float = 1e-4) -> None:
    """Multi-source gate (blender.cpp:120-185 / S10): equal resolution
    within ε and equal band count; first source is the reference."""
    if len(sources) == 0:
        raise ValueError("no sources")
    ref = sources.iloc[0]
    for _, s in sources.iterrows():
        if abs(s["res_x"] - ref["res_x"]) > eps or abs(s["res_y"] - ref["res_y"]) > eps:
            raise ValueError(
                f"source {s['source_id']}: resolution mismatch "
                f"({s['res_x']},{s['res_y']}) vs ({ref['res_x']},{ref['res_y']})"
            )
        if s["bands"] != ref["bands"]:
            raise ValueError(f"source {s['source_id']}: band count mismatch")


MOSAIC_SCHEMA = "cell long, raster binary, n_filled long, n_sources long"


def mosaic_lastwins(
    tiles: DataFrame,
    tile_px: int,
    nodata: int = 0,
    cell: str = "cell",
    src: str = "src_id",
    raster: str = "raster",
) -> DataFrame:
    """gdal_merge.py / gdalbuildvrt composition: sources paint in
    ``src_id`` order and a LATER source overrides an earlier one
    wherever its pixel is not ``nodata`` — no weighting, no feather
    (that is ``blend_tiles``); pixels every source leaves at nodata
    stay nodata. The order is keyed on data (src_id), so output is
    partitioning-invariant — gdal_merge's command-line file order,
    made explicit.

    One shuffle (groupBy cell) + one Arrow kernel; per-cell work is
    O(sources·t²) vectorized. Corrupt/NULL payloads poison the CELL
    (raster NULL, n_filled -1) — a silently skipped source would
    change the composite, so the row is flagged, never guessed."""
    t = int(tile_px)
    nd = int(nodata) & 0xFF

    def _kernel(key, g):
        kc = key[0]
        srcs, rasters = g["_src"], g["_raster"]
        poison = [(kc, None, -1, len(srcs))]
        # duplicate or NULL src_id = undefined paint order: flagged,
        # never guessed
        if None in srcs or len(set(srcs)) < len(srcs):
            return poison
        img = np.full((t, t), nd, np.uint8)
        for _, raw in sorted(zip(srcs, rasters), key=lambda r: r[0]):
            if raw is None or len(raw) != t * t:
                return poison
            v = np.frombuffer(raw, np.uint8).reshape(t, t)
            m = v != nd
            img[m] = v[m]
        return [(kc, img.tobytes(), int((img != nd).sum()), len(srcs))]

    return run_grouped(
        tiles.select(F.col(cell).alias("cell"), F.col(src).alias("_src"),
                     F.col(raster).alias("_raster")),
        ["cell"], ["_src", "_raster"], _kernel, MOSAIC_SCHEMA,
    )
