"""Overview pyramid — multi-resolution rollup.

The reference serves overviews from shallower quadtree depths
(``/root/reference/gdal-drivers/mask.cpp:170-174``, ``199-211``) and by
halving constant rasters until smaller than a tile
(``solid.cpp:352-369``). Distributed equivalent: level z−1 is a
``groupBy(parent_cell)`` aggregation of level z — iterated down to
level 0, each step one shuffle whose key is the parent cell (the same
shape as ``cube``/``rollup`` but over the quadtree hierarchy).

Two rollup kinds:
- pixel tiles: 4 child tiles → one parent tile, 2×2 mean downsample
  (or min/max, or mode — majority vote with ties → lowest value, the
  categorical-raster overview kernel); numpy per group;
- tristate masks: white/gray/black = all/any/none over children —
  relational ``min``/``max`` classification, no UDF at all
  (mask.cpp:240-256 tribool semantics, A7).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.operators._groups import run_grouped

PYRAMID_SCHEMA = "cell long, band int, tile binary, ts int"


def parent_cell_col(cell="cell"):
    """Parent of a packed cell, as JVM Column arithmetic (z−1, x/2, y/2)."""
    z = F.shiftright(F.col(cell), 52)
    x = F.shiftright(F.col(cell), 26) % F.lit(1 << 26)
    y = F.col(cell) % F.lit(1 << 26)
    return (
        (z - 1) * F.lit(1 << 52)
        + F.shiftright(x, 1) * F.lit(1 << 26)
        + F.shiftright(y, 1)
    )


def rollup_tiles_one_level(tiles: DataFrame, agg: str = "mean") -> DataFrame:
    """One pyramid step: children at level z → parents at z−1.

    Each parent group holds ≤4 child tiles; each child is downsampled
    2×2 and placed into its quadrant (missing children stay 0 — the
    nodata-black convention of the mask driver).

    Plan shape: one ``groupBy(parent cell, band)`` exchange and one
    grouped Arrow kernel per parent (``_groups.run_grouped``), so a
    task holds one group — at most four child tiles — at a time."""

    def _roll(key, g):
        pcell, band = key
        ts = g["ts"][0]
        out = np.zeros((ts, ts), np.float64)
        half = ts // 2
        for cell, tile, cts in zip(g["cell"], g["tile"], g["ts"]):
            child = np.frombuffer(tile, np.uint8).reshape(cts, cts).astype(np.float64)
            blocks = child.reshape(cts // 2, 2, cts // 2, 2)
            if agg == "mean":
                small = blocks.mean(axis=(1, 3))
            elif agg == "max":
                small = blocks.max(axis=(1, 3))
            elif agg == "mode":
                # majority vote of each 2×2 block, ties → LOWEST value
                # (GDAL's mode-overview rule; same count·256+(255−v)
                # argmax encoding as warp's mode kernel) — the
                # categorical-raster overview where mean would invent
                # labels that exist nowhere in the input
                b4 = blocks.transpose(0, 2, 1, 3).reshape(
                    cts // 2, cts // 2, 4)
                best_score = np.full(b4.shape[:2], -1.0)
                best_val = np.zeros(b4.shape[:2])
                for i in range(4):
                    vi = b4[:, :, i]
                    cnt = (b4 == vi[:, :, None]).sum(axis=2)
                    score = cnt * 256.0 + (255.0 - vi)
                    upd = score > best_score
                    best_score = np.where(upd, score, best_score)
                    best_val = np.where(upd, vi, best_val)
                small = best_val
            else:
                small = blocks.min(axis=(1, 3))
            cx = (cell >> 26) & ((1 << 26) - 1)
            cy = cell & ((1 << 26) - 1)
            qx, qy = cx & 1, cy & 1
            out[qy * half : (qy + 1) * half, qx * half : (qx + 1) * half] = small
        return [(pcell, band, np.rint(out).clip(0, 255).astype(np.uint8).tobytes(), ts)]

    return run_grouped(
        tiles.withColumn("_p", parent_cell_col()), ["_p", "band"],
        ["cell", "tile", "ts"], _roll, PYRAMID_SCHEMA,
    )


def build_pyramid(tiles: DataFrame, from_level: int, to_level: int = 0, agg: str = "mean"):
    """All levels from_level−1 … to_level. Returns dict level → DataFrame.
    Each level is computed from the previous (persist between steps when
    iterating over large inputs — caller's choice)."""
    levels = {from_level: tiles}
    cur = tiles
    for z in range(from_level - 1, to_level - 1, -1):
        cur = rollup_tiles_one_level(cur, agg)
        levels[z] = cur
    return levels


def _pyramid_steps(levels: dict[int, DataFrame], delta: DataFrame, agg: str):
    """Shared core of the incremental-maintenance pair: walk from the
    leaf level down, yielding ``(level, changed_tiles, merged_level)``
    where ``changed_tiles`` is the delta (at the leaf) or the
    recomputed ancestor tiles, and ``merged_level`` is the full level
    after replacement (broadcast anti-join — the base level is scanned
    once, never shuffled; the rollup's groupBy shuffles only the
    affected parents' ≤ 4·|delta| children)."""
    from_level = max(levels)
    to_level = min(levels)
    # deterministic within-delta resolution: a delta carrying two
    # versions of one (cell, band) — e.g. one streaming epoch batching
    # several source files — would otherwise write the same parent
    # quadrant twice with shuffle-order picking the winner. Rule: the
    # lexicographically greatest (ts, tile) version wins.
    delta = (
        delta.groupBy("cell", "band")
        .agg(F.max(F.struct("ts", "tile")).alias("_v"))
        .select("cell", "band", F.col("_v.tile").alias("tile"), F.col("_v.ts").alias("ts"))
    )
    changed = delta.select("cell", "band").distinct()
    merged = (
        levels[from_level]
        .join(F.broadcast(changed), ["cell", "band"], "left_anti")
        .unionByName(delta)
    )
    yield from_level, delta, merged
    cur, cur_changed = merged, changed
    for z in range(from_level - 1, to_level - 1, -1):
        parent_changed = cur_changed.select(
            parent_cell_col().alias("cell"), "band"
        ).distinct()
        # all 4 children of every affected parent — unchanged siblings
        # included, so the recomputed parent tile is complete
        kids = cur.join(
            F.broadcast(
                parent_changed.select(
                    F.col("cell").alias("_pc"), F.col("band").alias("_pb")
                )
            ),
            (parent_cell_col() == F.col("_pc")) & (F.col("band") == F.col("_pb")),
            "left_semi",
        )
        recomputed = rollup_tiles_one_level(kids, agg)
        merged_z = (
            levels[z]
            .join(F.broadcast(parent_changed), ["cell", "band"], "left_anti")
            .unionByName(recomputed)
        )
        yield z, recomputed, merged_z
        cur, cur_changed = merged_z, parent_changed


def update_pyramid(
    levels: dict[int, DataFrame], delta: DataFrame, agg: str = "mean"
) -> dict[int, DataFrame]:
    """Incremental overview maintenance: apply a delta of leaf tiles
    (replacements and/or brand-new cells) and recompute ONLY the
    ancestors of changed cells, level by level.

    The reference rebuilds overviews whole (mask.cpp:170-174 derives
    every shallower depth from the full quadtree); at 100 TB a few
    thousand changed tiles must not trigger a full-pyramid rebuild.
    Per level the work is O(|delta|) Python — see ``_pyramid_steps``
    for the plan shape. Deletions are out of scope (tiles are
    immutable snapshots; drop + rebuild the subtree for that).

    ``levels`` is ``{level: DataFrame}`` as returned by
    :func:`build_pyramid` (or read back from a persisted store);
    ``delta`` carries leaf tiles at ``max(levels)``. Returns the same
    dict shape with every level updated.
    """
    return {z: merged for z, _, merged in _pyramid_steps(levels, delta, agg)}


def pyramid_delta(
    levels: dict[int, DataFrame], delta: DataFrame, agg: str = "mean"
) -> DataFrame:
    """The CHANGED tiles only — delta leaves plus every recomputed
    ancestor — as one frame with a ``level`` column. This is the
    commit unit for log-structured pyramid maintenance (streaming
    ingest commits these rows per epoch; readers resolve latest
    version per tile), sized O(|delta|·depth) regardless of corpus."""
    out = None
    for z, ch, _ in _pyramid_steps(levels, delta, agg):
        f = ch.select(
            F.lit(z).cast("int").alias("level"), "cell", "band", "tile", "ts"
        )
        out = f if out is None else out.unionByName(f)
    return out


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
    cell: str = "cell",
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

    def _slice(batches):
        for pdf in batches:
            out = []
            for r in pdf.itertuples():
                kc = int(getattr(r, cell))
                tx = (kc >> 26) & ((1 << 26) - 1)
                ty = kc & ((1 << 26) - 1)
                gx0, gy0 = tx * ti, ty * ti
                raw = getattr(r, tile_col)
                buf = b"" if raw is None else bytes(raw)
                bad = len(buf) != ti * ti
                img = (None if bad
                       else np.frombuffer(buf, np.uint8).reshape(ti, ti))
                for otx in range(gx0 // to, (gx0 + ti - 1) // to + 1):
                    for oty in range(gy0 // to, (gy0 + ti - 1) // to + 1):
                        ix0 = max(gx0, otx * to)
                        ix1 = min(gx0 + ti, (otx + 1) * to)
                        iy0 = max(gy0, oty * to)
                        iy1 = min(gy0 + ti, (oty + 1) * to)
                        if ix0 >= ix1 or iy0 >= iy1:
                            continue
                        oc = (int(z) << 52) + (otx << 26) + oty
                        if bad:
                            out.append((oc, 0, 0, 0, 0, b"", True))
                            continue
                        fr = img[iy0 - gy0:iy1 - gy0, ix0 - gx0:ix1 - gx0]
                        out.append((oc, ix0 - otx * to, iy0 - oty * to,
                                    ix1 - ix0, iy1 - iy0,
                                    fr.tobytes(), False))
            yield pd.DataFrame(
                out, columns=["ocell", "ox", "oy", "fw", "fh", "frag", "bad"])

    def _assemble(key, g):
        kc = key[0]
        if any(g["bad"]):
            return [(kc, None, -1, False)]
        img = np.full((to, to), nd, np.uint8)
        for ox, oy, fw, fh, frag in zip(g["ox"], g["oy"], g["fw"], g["fh"], g["frag"]):
            img[oy:oy + fh, ox:ox + fw] = np.frombuffer(frag, np.uint8).reshape(fh, fw)
        return [(kc, img.tobytes(), len(g["frag"]), True)]

    frags = tiles.select(cell, tile_col).mapInPandas(_slice, frag_schema)
    assembled = run_grouped(
        frags, ["ocell"], ["ox", "oy", "fw", "fh", "frag", "bad"], _assemble,
        "cell long, tile binary, n_src long, ok boolean")
    spark = tiles.sparkSession
    universe = spark.range(ow * ohn).select(
        (
            F.lit(int(z) << 52).cast("long")
            + (F.col("id") % ow) * F.lit(1 << 26) + (F.col("id") / ow).cast("long")
        ).alias("cell")
    )
    empty = bytes([nd]) * (to * to)
    return universe.join(assembled, "cell", "left").select(
        "cell",
        F.when(F.col("ok").isNull(), F.lit(empty))
        .otherwise(F.col("tile")).alias("tile"),
        F.coalesce("n_src", F.lit(0)).alias("n_src"),
        F.coalesce("ok", F.lit(True)).alias("ok"),
    )
