"""Scattered points → raster — gdal_grid's interpolation family,
distributed.

gdal_grid scans ALL points for every output pixel (its quadtree only
helps single-node). The distributed shape: each point is re-keyed to
every output tile whose ``radius``-expanded envelope contains it — a
JVM ``explode`` over at most ⌈2r/t+1⌉² tile keys (usually 1–4, pure
codegen, no Python) — then one grouped Arrow kernel per tile
(``_groups.run_grouped``) interpolates its t² pixels from ONLY the
local candidates. The single shuffle is the re-key; kernel cost is
O(candidates·t²) vectorized numpy, and the candidate count per tile
is bounded by point density × (t+2r)², independent of total raster
size — the plan is flat to a 10⁶-tile raster.

Tiles with NO candidate point still exist in the output (GDAL writes
nodata there): the kernel output left-joins the dense cell universe
(``spark.range`` over the grid — no driver list) and missing rasters
coalesce to a constant nodata payload JVM-side.

Two kernels, mirroring gdal_grid's algorithms:

- ``grid_nearest``: value of the nearest point within ``radius``
  (ties → LOWEST point id — gdal_grid leaves equidistant order
  unspecified; a distributed engine must pin it or output would vary
  by partitioning). Squared integer distances → exact, bit-replayable
  in SQL.
- ``grid_idw``: inverse-distance-power weighting Σwᵢvᵢ/Σwᵢ with
  w = 1/d^p over points within ``radius``; a pixel sitting ON a point
  takes that value exactly (GDAL's rule — w diverges). FP sums are
  order-sensitive, so candidates are summed in point-id order for
  reproducibility across partitionings; correctness is pinned by a
  scalar-oracle pytest (house rule for transcendental/FP kernels).

Reference surface: the utility family around the driver read path
(python/gdaldriversmodule.cpp:205-225); cell conventions
detail/mbtiles.cpp:146-155.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.operators._groups import run_grouped

_OUT_SCHEMA = "cell long, raster binary, n_points long, n_filled long"


def _scatter(
    points: DataFrame, tile_px: int, z: int, radius: int,
    grid_wh: tuple, px: str, py: str, val: str, pid: str,
) -> DataFrame:
    """Re-key each point to every tile whose radius-expanded envelope
    contains it (JVM explode; out-of-grid keys dropped)."""
    t, r = int(tile_px), int(radius)
    gw, gh = int(grid_wh[0]), int(grid_wh[1])
    return (
        points.select(
            F.col(pid).alias("_pid"), F.col(px).alias("_px"),
            F.col(py).alias("_py"), F.col(val).alias("_v"),
        )
        # envelope-intersects-grid gate (the viewshed.py:81 /
        # rasterize.py:220 fix applied here — VERDICT r05 #1): without
        # it a point beyond the grid margin makes the clamped
        # sequence(lo, hi) DESCEND (Spark counts down when lo > hi),
        # fanning one dirty point across an unbounded tile range. This
        # filter is what makes the docstring's "out-of-grid keys
        # dropped" true.
        .filter(
            (F.col("_px") + r >= 0) & (F.col("_px") - r <= gw * t - 1)
            & (F.col("_py") + r >= 0) & (F.col("_py") - r <= gh * t - 1)
        )
        .withColumn(
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
    )


def _grid(
    points: DataFrame,
    tile_px: int,
    z: int,
    radius: int,
    grid_wh: tuple,
    kernel,
    px: str, py: str, val: str, pid: str,
    nodata: int,
) -> DataFrame:
    t = int(tile_px)
    gw, gh = int(grid_wh[0]), int(grid_wh[1])
    if not 1 <= int(radius):
        raise ValueError(f"radius {radius} must be >= 1")
    scattered = _scatter(points, t, z, radius, grid_wh, px, py, val, pid)
    computed = run_grouped(scattered, ["cell"], ["_pid", "_px", "_py", "_v"], kernel, _OUT_SCHEMA)
    spark = points.sparkSession
    universe = spark.range(gw * gh).select(
        (
            F.lit(int(z) << 52).cast("long")
            + (F.col("id") % gw) * F.lit(1 << 26) + (F.col("id") / gw).cast("long")
        ).alias("cell")
    )
    empty = bytes([nodata]) * (t * t)
    return universe.join(computed, "cell", "left").select(
        "cell",
        F.coalesce("raster", F.lit(empty)).alias("raster"),
        F.coalesce("n_points", F.lit(0)).alias("n_points"),
        F.coalesce("n_filled", F.lit(0)).alias("n_filled"),
    )


def grid_nearest(
    points: DataFrame,
    tile_px: int,
    z: int,
    radius: int,
    grid_wh: tuple,
    px: str = "px", py: str = "py", val: str = "v", pid: str = "pid",
    nodata: int = 0,
) -> DataFrame:
    """gdal_grid -a nearest: each pixel takes the value of the nearest
    point within ``radius`` (squared-integer metric; equidistant ties
    → lowest point id), ``nodata`` where none is in reach. Output one
    row per grid cell: (cell, raster u8 t×t, n_points candidates seen,
    n_filled pixels written)."""
    t, r = int(tile_px), int(radius)
    cap = r * r + 1

    def _kernel(key, g):
        kc = key[0]
        tx = (kc >> 26) & ((1 << 26) - 1)
        ty = kc & ((1 << 26) - 1)
        gx = np.arange(t)[None, :] + tx * t
        gy = np.arange(t)[:, None] + ty * t
        best = np.full((t, t), cap, np.int64)
        bestv = np.full((t, t), nodata, np.uint8)
        pids = g["_pid"]
        for i in np.argsort(pids, kind="stable"):
            p, q = int(g["_px"][i]), int(g["_py"][i])
            d2 = (gx - p) ** 2 + (gy - q) ** 2
            # strict < keeps the FIRST (lowest-pid) point on ties
            m = (d2 <= r * r) & (d2 < best)
            best[m] = d2[m]
            bestv[m] = int(g["_v"][i]) & 0xFF
        n_filled = int((best <= r * r).sum())
        return [(kc, bestv.tobytes(), len(pids), n_filled)]

    return _grid(points, t, z, r, grid_wh, _kernel, px, py, val, pid, nodata)


_METRICS_SCHEMA = (
    "cell long, count binary, vmin binary, vmax binary, vrange binary, "
    "n_points long, n_filled long"
)


def grid_datametrics(
    points: DataFrame,
    tile_px: int,
    z: int,
    radius: int,
    grid_wh: tuple,
    px: str = "px", py: str = "py", val: str = "v", pid: str = "pid",
    nodata: int = 0,
) -> DataFrame:
    """gdal_grid's data-metrics family (-a count / minimum / maximum /
    range), one pass: per pixel, over the points within ``radius`` —
    how many, the smallest value, the largest, and their spread. GDAL
    runs each metric as a separate pass over all points; the candidate
    scan dominates, so the distributed form computes all four in ONE
    scatter + kernel and emits four u8 raster columns (pick your band;
    ``count`` saturates at 255, the only lossy edge of the u8 house
    format — documented, and mirrored by the oracle's least(n,255)).
    Pixels with no point in reach take ``nodata`` in vmin/vmax/vrange
    and 0 in count. Exact integer arithmetic end-to-end → closed-form
    SQL oracle, unlike the FP idw kernel."""
    t, r = int(tile_px), int(radius)
    gw, gh = int(grid_wh[0]), int(grid_wh[1])
    if not 1 <= r:
        raise ValueError(f"radius {radius} must be >= 1")

    def _kernel(key, g):
        kc = key[0]
        tx = (kc >> 26) & ((1 << 26) - 1)
        ty = kc & ((1 << 26) - 1)
        gx = np.arange(t)[None, :] + tx * t
        gy = np.arange(t)[:, None] + ty * t
        cnt = np.zeros((t, t), np.int64)
        vmin = np.full((t, t), 256, np.int64)
        vmax = np.full((t, t), -1, np.int64)
        for p, q, v in zip(g["_px"], g["_py"], g["_v"]):
            p, q, v = int(p), int(q), int(v) & 0xFF
            m = (gx - p) ** 2 + (gy - q) ** 2 <= r * r
            cnt += m
            vmin[m] = np.minimum(vmin[m], v)
            vmax[m] = np.maximum(vmax[m], v)
        filled = cnt > 0
        nd = int(nodata) & 0xFF
        out_cnt = np.minimum(cnt, 255).astype(np.uint8)
        out_min = np.where(filled, vmin, nd).astype(np.uint8)
        out_max = np.where(filled, vmax, nd).astype(np.uint8)
        out_rng = np.where(filled, vmax - vmin, nd).astype(np.uint8)
        return [(kc, out_cnt.tobytes(), out_min.tobytes(), out_max.tobytes(),
                 out_rng.tobytes(), len(g["_v"]), int(filled.sum()))]

    scattered = _scatter(points, t, z, r, grid_wh, px, py, val, pid)
    computed = run_grouped(scattered, ["cell"], ["_px", "_py", "_v"], _kernel, _METRICS_SCHEMA)
    spark = points.sparkSession
    universe = spark.range(gw * gh).select(
        (
            F.lit(int(z) << 52).cast("long")
            + (F.col("id") % gw) * F.lit(1 << 26) + (F.col("id") / gw).cast("long")
        ).alias("cell")
    )
    zeros = bytes(t * t)
    empty = bytes([int(nodata) & 0xFF]) * (t * t)
    return universe.join(computed, "cell", "left").select(
        "cell",
        F.coalesce("count", F.lit(zeros)).alias("count"),
        F.coalesce("vmin", F.lit(empty)).alias("vmin"),
        F.coalesce("vmax", F.lit(empty)).alias("vmax"),
        F.coalesce("vrange", F.lit(empty)).alias("vrange"),
        F.coalesce("n_points", F.lit(0)).alias("n_points"),
        F.coalesce("n_filled", F.lit(0)).alias("n_filled"),
    )


def grid_idw(
    points: DataFrame,
    tile_px: int,
    z: int,
    radius: int,
    grid_wh: tuple,
    power: int = 2,
    px: str = "px", py: str = "py", val: str = "v", pid: str = "pid",
    nodata: int = 0,
) -> DataFrame:
    """gdal_grid -a invdist: inverse-distance-power mean of the points
    within ``radius`` (w = 1/d^power, summed in point-id order so the
    FP result is partitioning-invariant); a pixel coincident with a
    point takes its value exactly; ``nodata`` out of reach. Output
    values are rounded half-to-even to u8 (the banker's rule every
    raster writer in this engine uses)."""
    t, r = int(tile_px), int(radius)
    pw = int(power)

    def _kernel(key, g):
        kc = key[0]
        tx = (kc >> 26) & ((1 << 26) - 1)
        ty = kc & ((1 << 26) - 1)
        gx = np.arange(t)[None, :] + tx * t
        gy = np.arange(t)[:, None] + ty * t
        wsum = np.zeros((t, t), np.float64)
        wvsum = np.zeros((t, t), np.float64)
        exact = np.full((t, t), -1, np.int64)  # pid of a coincident point
        exactv = np.zeros((t, t), np.uint8)
        pids = g["_pid"]
        for i in np.argsort(pids, kind="stable"):
            p, q = int(g["_px"][i]), int(g["_py"][i])
            v = int(g["_v"][i]) & 0xFF
            d2 = (gx - p) ** 2 + (gy - q) ** 2
            hit = d2 == 0
            if hit.any():
                first = exact[hit] < 0
                if first.any():
                    yy, xx = np.nonzero(hit)
                    exact[yy[first], xx[first]] = pids[i]
                    exactv[yy[first], xx[first]] = v
            m = (d2 <= r * r) & ~hit
            w = np.zeros((t, t), np.float64)
            w[m] = 1.0 / (d2[m].astype(np.float64) ** (pw / 2.0))
            wsum += w
            wvsum += w * v
        outv = np.full((t, t), nodata, np.uint8)
        reach = wsum > 0
        with np.errstate(invalid="ignore"):
            vals = np.where(reach, wvsum / np.where(reach, wsum, 1.0), nodata)
        outv[reach] = np.rint(vals[reach]).astype(np.uint8)
        on_pt = exact >= 0
        outv[on_pt] = exactv[on_pt]
        n_filled = int((reach | on_pt).sum())
        return [(kc, outv.tobytes(), len(pids), n_filled)]

    return _grid(points, t, z, r, grid_wh, _kernel, px, py, val, pid, nodata)
