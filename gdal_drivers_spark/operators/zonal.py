"""Zonal statistics — per-zone aggregates of raster pixels.

The classic GDAL raster workflow (for each zone/polygon: count, sum,
min, max, mean of the pixels inside it), re-expressed so that PIXELS
NEVER SHUFFLE:

1. ``tile_stats``: each tile row reduces to (n_px, px_sum, px_sq,
   px_min, px_max) in ONE Arrow hop — a narrow map, no shuffle; after it the
   frame is a few longs per tile regardless of tile size;
2. the tile-stat rows join the zone map on the cell id — a plain
   equi-join (zone maps are cell→zone products of ``rasterize`` /
   ``spatial_join``; AQE broadcasts them when small);
3. ``groupBy(zone)``: every aggregate combines (sum of sums, min of
   mins), so partial aggregation runs map-side and the shuffle
   carries one row per (task, zone).

At 100 TB the plan moves |tiles| stat rows (≈ 32 bytes each), not
pixels — the same discipline as the blend/pyramid operators. Nodata
pixels are excluded when ``nodata`` is given (count excludes them, so
mean = sum/count stays correct per zone).

Zone boundaries are cell-granular by construction: the reference's own
answer to sub-cell zones is quadtree descent until nodes are pure
(``mask.cpp:246-248``), i.e. refine the rasterized zone layer, not the
stats operator.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import codecs, qcell
from ._groups import row_udf, run_batches

_STAT_SCHEMA = (
    "n_px long, px_sum long, px_sq long, px_min long, px_max long, px_ok boolean"
)


def tile_stats(tiles: DataFrame, nodata: int | None = None) -> DataFrame:
    """Append per-tile pixel statistics (one Arrow hop, narrow). Tile
    payloads go through the codec registry (magic sniff), so any
    registered format works; stats are shape-agnostic. ``px_sq`` is
    Σx², the second moment ``raster_stats`` needs. With ``nodata``,
    pixels equal to it are excluded from all five stats; an all-nodata
    tile reports n_px=0 and neutral min/max (255/0).

    Poison policy (same as decode.decode_stats): a NULL or corrupt
    payload among 10^12 rows must mark ITS row (``px_ok=false``,
    neutral stats), never kill the stage."""

    def _stats(b):
        try:
            px = codecs.decode(bytes(b)).ravel()
        except Exception:
            return 0, 0, 0, 255, 0, False
        if nodata is not None:
            px = px[px != nodata]
        if not px.size:
            return 0, 0, 0, 255, 0, True
        x = px.astype(np.int64)
        return int(px.size), int(x.sum()), int((x * x).sum()), int(px.min()), int(px.max()), True

    stats = row_udf(_stats, f"struct<{_STAT_SCHEMA}>")
    return tiles.withColumn("_s", stats(F.col("tile"))).select(
        *[c for c in tiles.columns if c != "tile"], "_s.*"
    )


def zonal_stats(
    tiles: DataFrame,
    zones: DataFrame,
    nodata: int | None = None,
) -> DataFrame:
    """Per-zone pixel statistics: ``tiles`` (cell, tile, …) × ``zones``
    (cell, zone). Output one row per zone: n_tiles (decodable tiles),
    n_bad_tiles (poison rows — counted, never fatal), n_px, px_sum,
    px_min, px_max, mean. A zone with zero countable pixels reports
    NULL min/max/mean — never the neutral fold elements (a min>max
    pair would be fabricated data). Cells absent from the zone map
    drop out (inner join), matching rasterized-zone semantics."""
    s = tile_stats(tiles, nodata=nodata)
    no_px = F.col("n_px") == 0
    return (
        s.join(zones, "cell")
        .groupBy("zone")
        .agg(
            F.sum(F.col("px_ok").cast("long")).alias("n_tiles"),
            F.sum((~F.col("px_ok")).cast("long")).alias("n_bad_tiles"),
            F.sum("n_px").alias("n_px"),
            F.sum("px_sum").alias("px_sum"),
            F.min("px_min").alias("px_min"),
            F.max("px_max").alias("px_max"),
        )
        .withColumn("px_min", F.when(~no_px, F.col("px_min")))
        .withColumn("px_max", F.when(~no_px, F.col("px_max")))
        .withColumn(
            "mean",
            F.when(~no_px, F.col("px_sum") / F.col("n_px")),
        )
    )


def tile_class_counts(tiles: DataFrame, nodata: int | None = None) -> DataFrame:
    """Per-tile class histogram for CATEGORICAL rasters, exploded to
    relational (…, value, n_px) rows — the zonal twin of the mode
    resampling kernels (a label raster has few distinct values, so
    ≤|classes| narrow rows per tile replace the pixels; every
    downstream step is a plain groupBy with map-side partial
    aggregation, mergeable at any scale).

    Poison policy (house rule): an undecodable payload yields one row
    with value NULL, n_px NULL and ``px_ok=false`` for ITS tile —
    counted downstream, never fatal, never silently dropped. An
    all-nodata tile is NOT poison: it also explodes to a NULL-value
    row (it carries no classes) but keeps ``px_ok=true`` — "sparse
    absent" and "present but corrupt" stay distinguishable."""

    def _counts(b):
        try:
            px = codecs.decode(bytes(b)).ravel()
        except Exception:
            return None
        if nodata is not None:
            px = px[px != nodata]
        vals, cnts = np.unique(px, return_counts=True)
        return list(zip(vals.tolist(), cnts.tolist()))

    counts = row_udf(_counts, "array<struct<value int, n_px long>>")
    other = [c for c in tiles.columns if c != "tile"]
    return (
        tiles.withColumn("_h", counts(F.col("tile")))
        .withColumn("px_ok", F.col("_h").isNotNull())
        # explode_outer keeps corrupt AND empty tiles as a NULL-value row
        .select(*other, "px_ok", F.explode_outer("_h").alias("_e"))
        .select(
            *other,
            "px_ok",
            F.col("_e.value").alias("value"),
            F.col("_e.n_px").alias("n_px"),
        )
    )


def zonal_histogram(
    tiles: DataFrame,
    zones: DataFrame,
    nodata: int | None = None,
) -> DataFrame:
    """Per-zone class histogram: one row per (zone, value) with the
    pixel count. Corrupt tiles surface as one (zone, NULL, n_bad)
    row per zone where n_px counts the BAD TILES (poison accounted,
    never fatal); all-nodata tiles contribute no classes and are NOT
    counted as bad. Same plan discipline as zonal_stats: pixels
    reduce to per-tile class counts in one Arrow hop, only count rows
    join and shuffle."""
    c = tile_class_counts(tiles.select("cell", "tile"), nodata=nodata)
    # empty-but-valid tiles (all nodata) carry no class — drop their
    # NULL row so the NULL bucket counts only poison
    c = c.filter(F.col("value").isNotNull() | ~F.col("px_ok"))
    joined = c.join(zones, "cell")
    return joined.groupBy("zone", "value").agg(
        F.when(F.col("value").isNull(), F.count("*"))
        .otherwise(F.sum("n_px"))
        .alias("n_px")
    )


def raster_stats(tiles: DataFrame, nodata: int | None = None) -> DataFrame:
    """gdalinfo -stats for the whole tiled raster: one row of
    (n_tiles, n_bad_tiles, n_px, px_min, px_max, mean, stddev) —
    GDAL's GetStatistics quartet plus the engine's poison accounting.
    stddev is the population form sqrt(E[x²]−mean²), GDAL's formula;
    both moments ride exact integer sums (Σx, Σx² — a u8 raster needs
    ~2⁵³/65025 ≈ 1.4·10⁸ tiles of 256² px before Σx² can overflow a
    long, and the partial aggregation is mergeable at any scale), so
    the only FP ops are the final two divisions and one sqrt — single
    correctly-rounded IEEE ops, bit-replayable in a SQL oracle.
    Plan: one Arrow hop to per-tile moments (``tile_stats``), one
    map-side-combined global aggregate — pixels never shuffle."""
    m = tile_stats(tiles.select("tile"), nodata=nodata)
    no_px = F.col("n_px") == 0
    mean = F.col("px_sum") / F.col("n_px")
    return (
        m.agg(
            F.sum(F.col("px_ok").cast("long")).alias("n_tiles"),
            F.sum((~F.col("px_ok")).cast("long")).alias("n_bad_tiles"),
            F.sum("n_px").alias("n_px"),
            F.sum("px_sum").alias("px_sum"),
            F.sum("px_sq").alias("px_sq"),
            F.min("px_min").alias("px_min"),
            F.max("px_max").alias("px_max"),
        )
        .withColumn("px_min", F.when(~no_px, F.col("px_min")))
        .withColumn("px_max", F.when(~no_px, F.col("px_max")))
        .withColumn("mean", F.when(~no_px, mean))
        .withColumn(
            "stddev",
            F.when(~no_px, F.sqrt(F.col("px_sq") / F.col("n_px") - mean * mean)),
        )
        .drop("px_sq")
    )


def raster_histogram(tiles: DataFrame) -> DataFrame:
    """gdalinfo -hist: one row per pixel value with its global count
    (GDAL's exact 256-bucket histogram for Byte rasters). Pixels
    reduce to ≤256 (value, n) rows per tile in one Arrow hop
    (``tile_class_counts``); the groupBy then moves count rows only,
    with map-side partial aggregation. Corrupt tiles surface as ONE
    (value NULL, n_bad_tiles) row — poison counted, never fatal;
    values never seen simply have no row (GDAL prints 0 buckets; the
    relational form is absence)."""
    c = tile_class_counts(tiles.select("tile"))
    c = c.filter(F.col("value").isNotNull() | ~F.col("px_ok"))
    return c.groupBy("value").agg(
        F.when(F.col("value").isNull(), F.count("*"))
        .otherwise(F.sum("n_px"))
        .alias("n_px")
    )


def zonal_mode(tiles: DataFrame, zones: DataFrame) -> DataFrame:
    """Majority class per zone — ties → LOWEST value, the same rule as
    the warp/pyramid mode kernels. The score is a struct (n_px, −value)
    under Spark's lexicographic struct ordering, so one ``max_by``
    replaces a window sort and the tie-break holds for ANY integer
    dtype (not just u8 — a u16 label raster would overflow a
    count·256 encoding). Corrupt tiles are excluded from the vote
    (they carry no class); count them via zonal_histogram's NULL row
    if needed."""
    hist = zonal_histogram(tiles, zones).filter(F.col("value").isNotNull())
    score = F.struct(F.col("n_px"), (-F.col("value")).alias("neg_v"))
    return hist.groupBy("zone").agg(
        F.max_by("value", score).alias("mode_value"),
        F.max_by("n_px", score).alias("n_px"),
    )


def to_xyz(
    tiles: DataFrame,
    tile_px: int,
    tile_col: str = "tile",
    skip_value: int | None = None,
) -> DataFrame:
    """gdal2xyz.py: export a tiled raster as (gx, gy, v) point rows —
    global pixel coordinates derived from the cell key inside the same
    Arrow hop that decodes. ``skip_value`` mirrors -skipnodata (rows
    with that value are dropped AT THE SOURCE, before anything
    shuffles — at 100 TB the point of the flag is exactly that the
    export never materializes the nodata ocean). Corrupt/NULL payloads
    surface as one (gx=-1, gy=-1, v=-1) poison row per tile, counted
    never silent.

    This is a fan-out export (t² rows per tile): downstream writes
    should go straight to a partitioned sink; there is deliberately no
    collect-shaped form."""
    t = int(tile_px)
    sk = skip_value

    def _kernel(g):
        for kc, raw in zip(g["cell"], g[tile_col]):
            if raw is None or len(raw) != t * t:
                yield -1, -1, -1
                continue
            _, tx, ty = qcell.unpack_int(kc)
            v = np.frombuffer(raw, np.uint8).astype(np.int64)
            gx = (np.arange(t)[None, :] + tx * t).repeat(t, 0).ravel()
            gy = (np.arange(t)[:, None] + ty * t).repeat(t, 1).ravel()
            if sk is not None:
                m = v != sk
                gx, gy, v = gx[m], gy[m], v[m]
            yield from zip(gx.tolist(), gy.tolist(), v.tolist())

    return run_batches(tiles, ["cell", tile_col], _kernel, "gx long, gy long, v long")
