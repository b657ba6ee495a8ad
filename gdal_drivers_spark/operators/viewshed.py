"""Viewshed — gdal_viewshed semantics, distributed, bounded radius.

gdal_viewshed computes, for an observer standing on a DEM, which
pixels within a max distance are visible along the straight sight
line. GDAL's implementation (Wang-Robinson plane sweep) interpolates
heights in float; a distributed engine pins EXACT-INTEGER semantics so
output is partitioning-invariant and SQL-replayable:

- the sight line to target t = (a, b) relative to the observer is
  sampled at n = max(|a|,|b|) steps; step i lands on pixel
  (sx·((2i|a|+n) // 2n), sy·((2i|b|+n) // 2n)) — the rounded-ray rule,
  which degenerates to the exact axis on the dominant direction;
- target t is VISIBLE iff no intermediate step blocks:
  (h_i − H0)·n ≥ (h_t − H0)·i for any i ∈ [1, n) blocks (cross-
  multiplied slope comparison — integer-exact, grazing-equal counts
  as blocked, pinned); H0 = observer pixel height + observer_height;
- eligibility is the Euclidean disc a² + b² ≤ r² (gdal_viewshed -md);
  the observer's own pixel is visible by definition.

Distributed shape: observers are scattered to the DEM tiles their
(2r+1)² window touches (a JVM explode over ⌈(2r+t)/t⌉² tile keys —
the gridding scatter inverted), then ONE kernel per observer
assembles the window from its tile pieces and runs the vectorized
sweep — per-observer work is O(r³) integer numpy, independent of
raster size; the single shuffle is the observer re-key, sized
|observers|·window bytes, NOT raster bytes. Observers whose window
misses every tile still emit a row (all-invisible, n_window=0 —
set-at-a-time accounting). Corrupt tile payloads poison the observer
row (n_visible = -1) rather than the stage.

Reference surface: the gdaldem/analysis utility family around the
driver read path (python/gdaldriversmodule.cpp:205-225)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.operators._groups import run_grouped

_OUT_SCHEMA = (
    "oid long, vis binary, n_window long, n_eval long, n_visible long"
)


def viewshed(
    observers: DataFrame,
    tiles: DataFrame,
    tile_px: int,
    z: int,
    grid_wh: tuple,
    radius: int,
    observer_height: int = 2,
    oid: str = "oid",
    px: str = "px",
    py: str = "py",
    cell: str = "cell",
    tile_col: str = "tile",
) -> DataFrame:
    """Per-observer visibility over a (cell, tile) DEM mosaic. Output:
    (oid, vis — (2r+1)² u8 raster row-major around the observer, 1 =
    visible / 0 = not (out-of-grid and out-of-disc pixels are 0),
    n_window = in-grid window pixels, n_eval = in-disc in-grid pixels,
    n_visible). An observer standing OFF-grid whose window still
    touches it poisons its row (vis NULL, counts -1); one fully away
    from the grid emits the honest all-zero row."""
    t, r = int(tile_px), int(radius)
    if r < 1:
        raise ValueError(f"radius {radius} must be >= 1")
    gw, gh = int(grid_wh[0]), int(grid_wh[1])
    oh = int(observer_height)
    side = 2 * r + 1

    obs = observers.select(
        F.col(oid).alias("_oid"), F.col(px).alias("_px"), F.col(py).alias("_py")
    )
    # window-intersects-grid gate: keeps the clamped sequences ascending
    # (Spark sequence(lo, hi) with lo > hi would COUNT DOWN, scattering
    # to wrong tiles); observers fully beyond the margin emit the
    # all-zero row via the final left join instead
    touching = obs.filter(
        (F.col("_px") + r >= 0) & (F.col("_px") - r <= gw * t - 1)
        & (F.col("_py") + r >= 0) & (F.col("_py") - r <= gh * t - 1)
    )
    scattered = (
        touching.withColumn(
            "_tx",
            F.explode(F.sequence(
                F.greatest(F.expr(f"(_px - {r}) div {t}"), F.lit(0)),
                F.least(F.expr(f"(_px + {r}) div {t}"), F.lit(gw - 1)),
            )),
        )
        .withColumn(
            "_ty",
            F.explode(F.sequence(
                F.greatest(F.expr(f"(_py - {r}) div {t}"), F.lit(0)),
                F.least(F.expr(f"(_py + {r}) div {t}"), F.lit(gh - 1)),
            )),
        )
        .withColumn(
            "cell",
            F.lit(int(z) << 52).cast("long")
            + F.col("_tx") * F.lit(1 << 26) + F.col("_ty"),
        )
        .join(tiles.select(F.col(cell).alias("cell"),
                           F.col(tile_col).alias("_tile")), "cell", "left")
    )

    def _kernel(key, g):
        ko = key[0]
        ox, oy = int(g["_px"][0]), int(g["_py"][0])
        poison = [(ko, None, -1, -1, -1)]
        if not (0 <= ox < gw * t and 0 <= oy < gh * t):
            return poison
        # assemble the window; -1 marks out-of-grid / missing-tile px
        win = np.full((side, side), -1, np.int64)
        for kc, buf in zip(g["cell"], g["_tile"]):
            if buf is None:
                continue
            if len(buf) != t * t:
                return poison
            tx = (kc >> 26) & ((1 << 26) - 1)
            ty = kc & ((1 << 26) - 1)
            img = np.frombuffer(buf, np.uint8).astype(np.int64).reshape(t, t)
            # overlap of this tile with the window in global coords
            gx0, gx1 = max(tx * t, ox - r), min((tx + 1) * t, ox + r + 1)
            gy0, gy1 = max(ty * t, oy - r), min((ty + 1) * t, oy + r + 1)
            if gx0 >= gx1 or gy0 >= gy1:
                continue
            win[gy0 - (oy - r):gy1 - (oy - r), gx0 - (ox - r):gx1 - (ox - r)] = \
                img[gy0 - ty * t:gy1 - ty * t, gx0 - tx * t:gx1 - tx * t]
        if win[r, r] < 0:
            return poison  # observer pixel not covered by any tile
        h0 = int(win[r, r]) + oh
        vis = np.zeros((side, side), np.uint8)
        vis[r, r] = 1
        n_eval = 1
        for b in range(-r, r + 1):
            for a in range(-r, r + 1):
                if a == 0 and b == 0:
                    continue
                if a * a + b * b > r * r:
                    continue
                ht = win[b + r, a + r]
                if ht < 0:
                    continue
                n_eval += 1
                n = max(abs(a), abs(b))
                sx, sy = (1 if a > 0 else -1), (1 if b > 0 else -1)
                ii = np.arange(1, n)
                xi = sx * ((2 * ii * abs(a) + n) // (2 * n))
                yi = sy * ((2 * ii * abs(b) + n) // (2 * n))
                hi = win[yi + r, xi + r]
                if (hi < 0).any():
                    continue  # sight line leaves the grid: not visible
                if not ((hi - h0) * n >= (int(ht) - h0) * ii).any():
                    vis[b + r, a + r] = 1
        n_window = int((win >= 0).sum())
        return [(ko, vis.tobytes(), n_window, n_eval, int(vis.sum()))]

    computed = run_grouped(
        scattered, ["_oid"], ["_px", "_py", "cell", "_tile"], _kernel, _OUT_SCHEMA)
    # far-away observers (no kernel row — n_window IS NULL) get the
    # honest all-zero raster; NULL vis stays reserved for POISON rows,
    # which DO have a kernel row (counts -1)
    zero_vis = bytes(side * side)
    return obs.select(F.col("_oid").alias("oid")).join(
        computed, "oid", "left"
    ).select(
        "oid",
        F.when(F.col("n_window").isNull(), F.lit(zero_vis))
        .otherwise(F.col("vis")).alias("vis"),
        F.coalesce("n_window", F.lit(0)).alias("n_window"),
        F.coalesce("n_eval", F.lit(0)).alias("n_eval"),
        F.coalesce("n_visible", F.lit(0)).alias("n_visible"),
    )
