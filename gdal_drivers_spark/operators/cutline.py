"""Cutline masking — gdalwarp -cutline semantics over a tiled mosaic.

gdalwarp with -cutline keeps the output extent but writes nodata
outside the cutline polygon; a pixel is kept iff its CENTER is inside
(GDAL's default, no -cblend). The reference exposes the same read path
the blend/warp operators wrap (python/gdaldriversmodule.cpp:205-225);
masking composes with it.

Distributed shape — the per-tile work is CLASSIFIED so only boundary
tiles pay a per-pixel cost, which is what survives a 100 TB mosaic
where the cutline touches O(perimeter) of O(area) tiles:

- tiles whose pixel bbox is DISJOINT from the ring's bbox take the
  all-nodata constant payload **JVM-side** (a `when` over the cell's
  bit-unpacked tile coords — no Python, no decode);
- remaining tiles run one Arrow kernel that first tries the
  whole-tile shortcuts (all 4 corners inside + no ring edge bbox
  overlapping the tile → passthrough, bytes untouched; all corners
  outside + no edge overlap → all-nodata) and only rasterizes the
  even-odd PIP (core.geometry.points_in_polygon) for genuine
  boundary tiles.

Ring coordinates are GLOBAL PIXEL units at the tile grid's zoom;
pixel centers are (gx+0.5, gy+0.5). Centers exactly on an edge follow
points_in_polygon's half-open rule — callers pick rings off centers
(integer vertices with odd-slope edges), and the oracle-gated fixture
does."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.core import qcell
from gdal_drivers_spark.core.geometry import points_in_polygon
from gdal_drivers_spark.operators._groups import run_batches

_OUT_SCHEMA = "cell long, raster binary, n_kept long, boundary boolean"


def cutline_crop(
    tiles: DataFrame,
    ring,
    tile_px: int,
    nodata: int = 0,
    raster: str = "raster",
) -> DataFrame:
    """Mask every tile of a (cell, raster) mosaic against one cutline
    ring. Output keeps the full tile universe: (cell, raster with
    outside pixels = ``nodata``, n_kept inside-pixel count, boundary —
    true iff the tile actually ran the per-pixel test, the scale
    diagnostic). Corrupt payloads (wrong byte count) poison the row:
    raster NULL, n_kept -1."""
    r = np.asarray(ring, np.float64)
    if r.ndim != 2 or r.shape[1] != 2 or len(r) < 3:
        raise ValueError(f"ring must be (N>=3, 2), got {r.shape}")
    if np.array_equal(r[0], r[-1]):
        r = r[:-1]
    t = int(tile_px)
    nd = int(nodata) & 0xFF
    minx, miny = float(r[:, 0].min()), float(r[:, 1].min())
    maxx, maxy = float(r[:, 0].max()), float(r[:, 1].max())
    edges = np.stack([r, np.roll(r, -1, axis=0)], axis=1)  # (N, 2, 2)
    ring_c = r  # closure constants, shipped once per task

    _, tx, ty = qcell.unpack_col("cell")
    disjoint = (
        (tx * t >= F.lit(maxx)) | ((tx + 1) * t <= F.lit(minx))
        | (ty * t >= F.lit(maxy)) | ((ty + 1) * t <= F.lit(miny))
    )
    empty = bytes([nd]) * (t * t)
    # the fast path must NOT heal corrupt payloads: a truncated tile
    # that happens to sit away from the ring would otherwise come back
    # as a healthy all-nodata row, making poison counts depend on
    # where the cutline is. The length check is JVM-side — still no
    # decode, no Python.
    payload_ok = F.col(raster).isNotNull() & (F.length(F.col(raster)) == t * t)
    outside = tiles.filter(disjoint).select(
        "cell",
        F.when(payload_ok, F.lit(empty)).alias("raster"),
        F.when(payload_ok, F.lit(0)).otherwise(F.lit(-1))
        .cast("long").alias("n_kept"),
        F.lit(False).alias("boundary"),
    )

    ex0 = np.minimum(edges[:, 0, 0], edges[:, 1, 0])
    ex1 = np.maximum(edges[:, 0, 0], edges[:, 1, 0])
    ey0 = np.minimum(edges[:, 0, 1], edges[:, 1, 1])
    ey1 = np.maximum(edges[:, 0, 1], edges[:, 1, 1])
    dx = edges[:, 1, 0] - edges[:, 0, 0]
    dy = edges[:, 1, 1] - edges[:, 0, 1]

    def _tile(cell, buf):
        if buf is None or len(buf) != t * t:
            return cell, None, -1, True
        _, ctx, cty = qcell.unpack_int(cell)
        x0, y0 = ctx * t, cty * t
        # whole-tile shortcut: corner membership + EXACT segment-rect
        # intersection (an edge's bbox is a far too coarse gate for
        # long diagonal edges — it would classify most interior tiles
        # as boundary and destroy the O(perimeter) claim): an edge
        # enters the tile rect iff its bbox overlaps AND the rect's
        # four corners are not all strictly on one side of the edge's
        # line
        cx = np.array([x0 + 0.5, x0 + t - 0.5, x0 + 0.5, x0 + t - 0.5])
        cy = np.array([y0 + 0.5, y0 + 0.5, y0 + t - 0.5, y0 + t - 0.5])
        corners = points_in_polygon(cx, cy, ring_c)
        bbox_ov = (ex0 < x0 + t) & (ex1 > x0) & (ey0 < y0 + t) & (ey1 > y0)
        rx = np.array([x0, x0 + t, x0, x0 + t], np.float64)
        ry = np.array([y0, y0, y0 + t, y0 + t], np.float64)
        cross = (dx[None, :] * (ry[:, None] - edges[None, :, 0, 1])
                 - dy[None, :] * (rx[:, None] - edges[None, :, 0, 0]))
        one_side = (cross > 0).all(axis=0) | (cross < 0).all(axis=0)
        overlap = (bbox_ov & ~one_side).any()
        if not overlap and corners.all():
            return cell, buf, t * t, False
        if not overlap and not corners.any():
            return cell, empty, 0, False
        gx = (np.arange(t)[None, :] + x0 + 0.5).repeat(t, axis=0)
        gy = (np.arange(t)[:, None] + y0 + 0.5).repeat(t, axis=1)
        inside = points_in_polygon(gx.ravel(), gy.ravel(), ring_c).reshape(t, t)
        img = np.frombuffer(buf, np.uint8).reshape(t, t).copy()
        img[~inside] = nd
        return cell, img.tobytes(), int(inside.sum()), True

    boundary = run_batches(tiles.filter(~disjoint), ["cell", raster],
                           lambda g: map(_tile, g["cell"], g[raster]), _OUT_SCHEMA)
    return outside.unionByName(boundary)
