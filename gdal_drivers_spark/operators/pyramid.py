"""Overview pyramid — multi-resolution rollup.

The reference serves overviews from shallower quadtree depths
(``/root/reference/gdal-drivers/mask.cpp:170-174``, ``199-211``) and by
halving constant rasters until smaller than a tile
(``solid.cpp:352-369``). Distributed equivalent: the levels are rolled
up in strides of up to ``STRIDE`` levels. One stride is ONE grouped
kernel keyed on (ancestor at the stride's top level, band): it receives
the ≤ 4^STRIDE tiles of a subtree and computes every level of the
stride in numpy, rounding each level to u8 before the next, exactly as
a chain of one-level rollups would. A pyramid of depth d takes
⌈d/STRIDE⌉ shuffles, not d.

Two rollup kinds:
- pixel tiles: 4 child tiles → one parent tile, 2×2 mean downsample
  (or min/max, or mode — majority vote with ties → lowest value, the
  categorical-raster overview kernel); numpy per group;
- tristate masks: white/gray/black = all/any/none over children —
  relational ``min``/``max`` classification, no UDF at all
  (mask.cpp:240-256 tribool semantics, A7).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.core import qcell
from gdal_drivers_spark.operators._groups import run_batches, run_grouped

PYRAMID_SCHEMA = "cell long, band int, tile binary, ts int"
# Levels per grouped kernel: a group holds ≤ 4**STRIDE leaves, 64 tiles
# (4 MB) at 256 px u8.
STRIDE = 3


def _downsample(tile: bytes, ts: int, agg: str) -> np.ndarray:
    """One ts×ts u8 child → its (ts/2)² float64 2×2-block aggregate."""
    h = ts // 2
    blocks = np.frombuffer(tile, np.uint8).reshape(ts, ts).astype(np.float64).reshape(h, 2, h, 2)
    if agg == "mean":
        return blocks.mean(axis=(1, 3))
    if agg == "max":
        return blocks.max(axis=(1, 3))
    if agg == "mode":
        # majority vote of each 2×2 block, ties → LOWEST value (GDAL's
        # mode-overview rule; same count·256+(255−v) argmax encoding as
        # warp's mode kernel) — the categorical-raster overview where
        # mean would invent labels that exist nowhere in the input
        b4 = blocks.transpose(0, 2, 1, 3).reshape(h, h, 4)
        best_score = np.full((h, h), -1.0)
        best_val = np.zeros((h, h))
        for i in range(4):
            vi = b4[:, :, i]
            score = (b4 == vi[:, :, None]).sum(axis=2) * 256.0 + (255.0 - vi)
            upd = score > best_score
            best_score = np.where(upd, score, best_score)
            best_val = np.where(upd, vi, best_val)
        return best_val
    return blocks.min(axis=(1, 3))


def _parent_tile(pcell: int, band: int, tiles: dict, agg: str) -> tuple:
    """``(ts, tile)`` of parent ``pcell`` from its children in ``tiles``
    (``cell → (ts, tile)``); each child is downsampled 2×2 into its
    quadrant, missing children stay 0 (the nodata-black convention of
    the mask driver), and the result is rounded to u8."""
    kids = {q: tiles[c] for q, c in enumerate(qcell.children(pcell).tolist()) if c in tiles}
    sizes = sorted({ts for ts, _ in kids.values()})
    if len(sizes) > 1:
        raise ValueError(
            f"pyramid parent cell {pcell} (band {band}) has children of "
            f"tile sizes {sizes[0]} and {sizes[1]}")
    ts = sizes[0]
    h = ts // 2
    out = np.zeros((ts, ts), np.float64)
    for q, (_, tile) in kids.items():  # quadrants in qcell.children order
        qx, qy = q & 1, q >> 1
        out[qy * h:(qy + 1) * h, qx * h:(qx + 1) * h] = _downsample(tile, ts, agg)
    return ts, np.rint(out).clip(0, 255).astype(np.uint8).tobytes()


def _stride(new: DataFrame, stored: list, up: int, agg: str, emit_new: bool) -> DataFrame:
    """One grouped kernel per (ancestor ``up`` levels above ``new``,
    band). ``new`` holds the changed tiles of the stride's bottom level;
    a cell carried twice resolves to its greatest ``(ts, tile)``
    version. ``stored`` is ``[(levels above the root, frame)]``: stored
    tiles that complete the changed parents (unchanged siblings, and
    old versions that ``new`` or a recomputed tile replaces). The
    kernel recomputes every ancestor of a changed tile over ``up``
    levels and emits them (plus the resolved ``new`` rows if
    ``emit_new``) as ``PYRAMID_SCHEMA`` rows."""
    def tagged(df, k, is_new):
        return df.select(qcell.ancestor_col("cell", k).alias("_r"), "band", "cell", "tile",
                         "ts", F.lit(is_new).alias("_new"))

    def _roll(key, g):
        band = key[1]
        tiles, changed = {}, {}
        for cell, tile, ts, is_new in zip(g["cell"], g["tile"], g["ts"], g["_new"]):
            if not is_new:
                tiles[cell] = (ts, tile)
            elif cell not in changed or (ts, tile) > changed[cell]:
                changed[cell] = (ts, tile)
        out = [(c, band, tile, ts) for c, (ts, tile) in changed.items()] if emit_new else []
        for _ in range(up):
            tiles.update(changed)
            parents = sorted({int(qcell.parent(c)) for c in changed})
            changed = {p: _parent_tile(p, band, tiles, agg) for p in parents}
            out += [(c, band, tile, ts) for c, (ts, tile) in changed.items()]
        return out

    src = reduce(DataFrame.unionByName,
                 [tagged(new, up, True)] + [tagged(df, k, False) for k, df in stored])
    return run_grouped(src, ["_r", "band"], ["cell", "tile", "ts", "_new"], _roll,
                       PYRAMID_SCHEMA)


def _level(frame: DataFrame, z: int) -> DataFrame:
    return frame.filter(qcell.level_col("cell") == z)


def _strides(new: DataFrame, from_level: int, to_level: int, agg: str,
             stored: dict | None = None, keys: DataFrame | None = None):
    """Roll ``new`` (leaves at ``from_level``) up to ``to_level`` in
    ⌈depth/STRIDE⌉ chained strides; yields ``(levels, frame)`` per
    stride. With ``stored`` (the persisted ``{level: frame}``), ``new``
    is a delta: each stride also reads the stored children of every
    changed parent, found by a broadcast semi-join of the parent against
    ``keys`` (``_kc``/``_kb``: changed cells at every level), and the
    first stride emits the resolved delta leaves too."""
    bottom, emit_new = from_level, stored is not None
    while bottom > to_level or emit_new:
        top = max(to_level, bottom - STRIDE)
        sides = [] if stored is None else [
            (z - top, stored[z].join(
                keys, (qcell.ancestor_col("cell") == F.col("_kc")) & (F.col("band") == F.col("_kb")),
                "left_semi"))
            for z in range(bottom, top, -1)
        ]
        frame = _stride(new, sides, bottom - top, agg, emit_new)
        yield range(bottom if emit_new else bottom - 1, top - 1, -1), frame
        new, bottom, emit_new = _level(frame, top), top, False


def rollup_tiles_one_level(tiles: DataFrame, agg: str = "mean") -> DataFrame:
    """One pyramid step: children at level z → parents at z−1.

    Each parent group holds ≤4 child tiles; each child is downsampled
    2×2 and placed into its quadrant (missing children stay 0 — the
    nodata-black convention of the mask driver). Children of one parent
    must share a tile size (``ValueError`` naming the parent otherwise).

    Plan shape: the one-level stride — one ``groupBy(parent cell,
    band)`` exchange and one grouped Arrow kernel per parent
    (``_groups.run_grouped``), so a task holds one group at a time."""
    return _stride(tiles, [], 1, agg, False)


def build_pyramid(tiles: DataFrame, from_level: int, to_level: int = 0, agg: str = "mean"):
    """All levels from_level−1 … to_level. Returns dict level → DataFrame
    (``from_level`` maps to ``tiles``). Each value is a level filter of
    its stride's output, so a caller that writes the union of several
    levels shuffles the leaves once per stride and re-runs the stride's
    kernel per level over the reused shuffle."""
    levels = {from_level: tiles}
    for zs, frame in _strides(tiles, from_level, to_level, agg):
        levels.update({z: _level(frame, z) for z in zs})
    return levels


def _changed_keys(delta: DataFrame, depth: int) -> DataFrame:
    """Broadcast key frame ``(_kc, _kb)``: every delta cell and all its
    ancestors ``depth`` levels up (a packed cell carries its level, so
    one frame keys every level). Not deduplicated: a semi/anti join does
    not care, and a ``distinct`` would cost a shuffle."""
    return F.broadcast(delta.select(
        F.explode(F.array(*[qcell.ancestor_col("cell", k) for k in range(depth + 1)])).alias("_kc"),
        F.col("band").alias("_kb"),
    ))


def update_pyramid(
    levels: dict[int, DataFrame], delta: DataFrame, agg: str = "mean"
) -> dict[int, DataFrame]:
    """Incremental overview maintenance: apply a delta of leaf tiles
    (replacements and/or brand-new cells) and recompute ONLY the
    ancestors of changed cells.

    The reference rebuilds overviews whole (mask.cpp:170-174 derives
    every shallower depth from the full quadtree); at 100 TB a few
    thousand changed tiles must not trigger a full-pyramid rebuild.
    Plan shape: one broadcast key frame (the delta's cells and all
    their ancestors) drives both the semi-joins that fetch the stored
    siblings of every changed parent and each level's ``left_anti``
    replacement, so Spark plans one broadcast and reuses it; the delta
    plus those siblings go through one subtree kernel per stride (see
    ``_strides``), which also resolves a delta carrying two versions of
    one (cell, band): the greatest ``(ts, tile)`` wins. The stored
    levels are scanned, never shuffled. Deletions are out of scope
    (tiles are immutable snapshots; drop + rebuild the subtree for
    that).

    ``levels`` is ``{level: DataFrame}`` as returned by
    :func:`build_pyramid` (or read back from a persisted store);
    ``delta`` carries leaf tiles at ``max(levels)``. Returns the same
    dict shape with every level updated.
    """
    from_level, to_level = max(levels), min(levels)
    keys = _changed_keys(delta, from_level - to_level)
    out = {}
    for zs, frame in _strides(delta, from_level, to_level, agg, levels, keys):
        for z in zs:
            out[z] = levels[z].join(
                keys, (F.col("cell") == F.col("_kc")) & (F.col("band") == F.col("_kb")),
                "left_anti",
            ).unionByName(_level(frame, z))
    return out


def pyramid_delta(
    levels: dict[int, DataFrame], delta: DataFrame, agg: str = "mean"
) -> DataFrame:
    """The CHANGED tiles only — delta leaves plus every recomputed
    ancestor — as one frame with a ``level`` column. This is the
    commit unit for log-structured pyramid maintenance (streaming
    ingest commits these rows per epoch; readers resolve latest
    version per tile), sized O(|delta|·depth) regardless of corpus."""
    from_level, to_level = max(levels), min(levels)
    keys = _changed_keys(delta, from_level - to_level)
    frames = [f for _, f in _strides(delta, from_level, to_level, agg, levels, keys)]
    return reduce(DataFrame.unionByName, frames).select(
        qcell.level_col("cell").cast("int").alias("level"),
        "cell", "band", "tile", "ts",
    )


def rollup_tristate(quads: DataFrame) -> DataFrame:
    """Tristate rollup, fully relational (no UDF): parent is white if
    all 4 children white, black if all black, else gray. Missing
    children count as black (zeroed background)."""
    w = F.when(F.col("value") == "white", 1).otherwise(0)
    return (
        quads.groupBy(
            (F.col("level") - 1).alias("level"),
            F.shiftright(F.col("qx"), 1).alias("qx"),
            F.shiftright(F.col("qy"), 1).alias("qy"),
        )
        .agg(
            F.count("*").alias("n_children"),
            F.sum(w).alias("n_white"),
            F.max(F.when(F.col("value") != "black", 1).otherwise(0)).alias("any_nonblack"),
        )
        .withColumn(
            "value",
            F.when((F.col("n_white") == 4) & (F.col("n_children") == 4), "white")
            .when(F.col("any_nonblack") == 0, "black")
            .otherwise("gray"),
        )
        .drop("n_children", "n_white", "any_nonblack")
    )


# ---------------------------------------------------------------------------
# gdal_retile — change a mosaic's tile size
# ---------------------------------------------------------------------------

def retile(
    tiles: DataFrame,
    t_in: int,
    t_out: int,
    z: int,
    grid_wh: tuple,
    tile_col: str = "tile",
    nodata: int = 0,
) -> DataFrame:
    """gdal_retile.py: re-cut a (cell, tile) mosaic from ``t_in``-px to
    ``t_out``-px tiles over the same pixel plane. ``grid_wh`` counts
    INPUT tiles; the output grid is the same world re-gridded (world
    pixels must divide evenly into t_out — a partial edge tile would
    need a fill rule gdal_retile doesn't define for mosaics; raise).

    Distributed shape: each input tile is SLICED into the fragments
    that land in each output tile (one Arrow hop, ⌈t_in/t_out⌉²-ish
    fragments, numpy views — no per-pixel work), shuffled once on the
    output cell, and assembled by a second kernel. The shuffle moves
    exactly the raster bytes once — the optimal lower bound for a
    re-tiling whose input and output grids don't nest. Missing input
    tiles surface as ``nodata`` regions (mosaics are sparse); corrupt
    payloads poison the OUTPUT tiles they touch (ok=false, raster
    NULL) rather than the stage."""
    ti, to = int(t_in), int(t_out)
    gw, gh = int(grid_wh[0]), int(grid_wh[1])
    if ti < 1 or to < 1:
        raise ValueError("tile sizes must be >= 1")
    wpx, hpx = gw * ti, gh * ti
    if wpx % to or hpx % to:
        raise ValueError(
            f"world {wpx}x{hpx}px does not divide into {to}-px tiles")
    ow, ohn = wpx // to, hpx // to
    nd = int(nodata) & 0xFF

    frag_schema = ("ocell long, ox int, oy int, fw int, fh int, "
                   "frag binary, bad boolean")

    def _slice(g):
        for cell, raw in zip(g["cell"], g[tile_col]):
            _, tx, ty = qcell.unpack_int(cell)
            gx0, gy0 = tx * ti, ty * ti
            bad = raw is None or len(raw) != ti * ti
            img = None if bad else np.frombuffer(raw, np.uint8).reshape(ti, ti)
            for otx in range(gx0 // to, (gx0 + ti - 1) // to + 1):
                for oty in range(gy0 // to, (gy0 + ti - 1) // to + 1):
                    ix0 = max(gx0, otx * to)
                    ix1 = min(gx0 + ti, (otx + 1) * to)
                    iy0 = max(gy0, oty * to)
                    iy1 = min(gy0 + ti, (oty + 1) * to)
                    if ix0 >= ix1 or iy0 >= iy1:
                        continue
                    oc = qcell.pack_int(z, otx, oty)
                    if bad:
                        yield oc, 0, 0, 0, 0, b"", True
                        continue
                    fr = img[iy0 - gy0:iy1 - gy0, ix0 - gx0:ix1 - gx0]
                    yield (oc, ix0 - otx * to, iy0 - oty * to, ix1 - ix0, iy1 - iy0,
                           fr.tobytes(), False)

    def _assemble(key, g):
        kc = key[0]
        if any(g["bad"]):
            return [(kc, None, -1, False)]
        img = np.full((to, to), nd, np.uint8)
        for ox, oy, fw, fh, frag in zip(g["ox"], g["oy"], g["fw"], g["fh"], g["frag"]):
            img[oy:oy + fh, ox:ox + fw] = np.frombuffer(frag, np.uint8).reshape(fh, fw)
        return [(kc, img.tobytes(), len(g["frag"]), True)]

    frags = run_batches(tiles, ["cell", tile_col], _slice, frag_schema)
    assembled = run_grouped(
        frags, ["ocell"], ["ox", "oy", "fw", "fh", "frag", "bad"], _assemble,
        "cell long, tile binary, n_src long, ok boolean")
    universe = qcell.grid_cells(tiles.sparkSession, z, ow, ohn)
    empty = bytes([nd]) * (to * to)
    return universe.join(assembled, "cell", "left").select(
        "cell",
        F.when(F.col("ok").isNull(), F.lit(empty))
        .otherwise(F.col("tile")).alias("tile"),
        F.coalesce("n_src", F.lit(0)).alias("n_src"),
        F.coalesce("ok", F.lit(True)).alias("ok"),
    )
