"""Keyed tile lookup — the MBTiles fetch path
(``/root/reference/gdal-drivers/detail/mbtiles.cpp:128-225``) as a
distributed keyed join:

- ``z-x-y`` request parse with strict non-negative ints
  (``mbtiles.cpp:63-110``) → ``regexp_extract`` + casts (F10);
- bounds check against ``max = 2^z − 1`` (``mbtiles.cpp:146-152``);
- **TMS row flip** ``row = max − row`` (``mbtiles.cpp:154-155``);
- the SQLite point lookup (``mbtiles.cpp:166-183``) → equi-join on
  (zoom, x, row) — a broadcast-hash join for small request sets;
- gzip sniff (magic 1f 8b) + gunzip (``mbtiles.cpp:214-224``) in
  an Arrow-batched decode (F11);
- missing tile → no row (empty result, not an error —
  ``mbtiles.cpp:188-192``): inner join semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import qcell
from ..sources.mbtiles import gunzip_col

PATH_RE = r"^(\d+)-(\d+)-(\d+)$"


def parse_requests(paths: DataFrame) -> DataFrame:
    """'z-x-y' ``path`` strings → typed (zoom,x,y) with bounds validation.
    Malformed or out-of-bounds paths are dropped (the reference raises
    per request; set-at-a-time the analogue is filtering, with a
    'rejected' side channel available via the inverse filter)."""
    p = paths.withColumn("_z", F.regexp_extract(F.col("path"), PATH_RE, 1)) \
        .withColumn("_x", F.regexp_extract(F.col("path"), PATH_RE, 2)) \
        .withColumn("_y", F.regexp_extract(F.col("path"), PATH_RE, 3))
    return (
        p.filter((F.col("_z") != "") & (F.col("_x") != "") & (F.col("_y") != ""))
        .select(
            "*",
            F.col("_z").cast("int").alias("zoom"),
            F.col("_x").cast("long").alias("x"),
            F.col("_y").cast("long").alias("y"),
        )
        .drop("_z", "_x", "_y")
        .filter(
            (F.col("x") <= F.expr("shiftleft(CAST(1 AS BIGINT), zoom) - 1"))
            & (F.col("y") <= F.expr("shiftleft(CAST(1 AS BIGINT), zoom) - 1"))
        )
    )


def fetch_tiles(requests: DataFrame, store: DataFrame) -> DataFrame:
    """requests(zoom,x,y) ⋈ store(zoom,x,y[TMS],tile_data) with the TMS
    flip applied to the request row, then gunzip-sniff decode."""
    flipped = requests.withColumn(
        "tms_y", F.expr("shiftleft(CAST(1 AS BIGINT), zoom) - 1 - y")
    )
    joined = flipped.join(
        F.broadcast(store.withColumnRenamed("y", "tms_y")),
        ["zoom", "x", "tms_y"],
        "inner",
    )
    return joined.withColumn("tile_data", gunzip_col(F.col("tile_data")))


def sample_points(
    points: DataFrame,
    tiles: DataFrame,
    tile_px: int,
    z: int,
    grid_origin: tuple = (0, 0),
) -> DataFrame:
    """gdallocationinfo, set-at-a-time: sample the pixel value under
    each point of ``points`` (global integer pixel coords ``px``/
    ``py``) from a tiled u8 raster — the label-sampling primitive of a
    training pipeline (fetch ground-truth class under 10⁹ annotation
    points).

    ENTIRELY JVM-side: the tile key is integer bit-arithmetic, the
    byte extraction is ``conv(hex(substring(tile, off, 1)), 16, 10)``
    — one whole-stage-codegen projection, no Python worker, no Arrow
    hop; the only exchange is the point⇄tile equi-join on the cell id
    (points broadcast). Points
    outside the tile grid or on a missing tile produce NO row (inner
    join — gdallocationinfo prints "outside raster"; set-at-a-time
    the analogue is absence, same rule as ``fetch_tiles``); a
    too-short/corrupt payload yields value NULL with ``px_ok=false``
    (house poison rule). Reference surface: the dataset read path the
    utility family consumes (python/gdaldriversmodule.cpp:252-256);
    cell conventions detail/mbtiles.cpp:146-155."""
    t = int(tile_px)
    ox, oy = int(grid_origin[0]), int(grid_origin[1])
    n = 1 << int(z)
    pts = (
        points.withColumn("_tx", F.expr(f"(px div {t}) + {ox}"))
        .withColumn("_ty", F.expr(f"(py div {t}) + {oy}"))
        .filter(
            (F.col("px") >= 0) & (F.col("py") >= 0)
            & (F.col("_tx") >= 0) & (F.col("_tx") < n)
            & (F.col("_ty") >= 0) & (F.col("_ty") < n)
        )
        .withColumn("_cell", qcell.pack_col(z, F.col("_tx"), F.col("_ty")))
    )
    joined = F.broadcast(pts).join(
        tiles.select(F.col("cell").alias("_cell"), F.col("tile").alias("_tile")),
        "_cell",
    )
    # 1-based substring; one byte → 2 hex chars → base-16 parse
    off = F.expr(f"(py % {t}) * {t} + (px % {t})")
    val = F.conv(F.hex(F.substring(F.col("_tile"), off + F.lit(1), 1)), 16, 10)
    out_cols = [c for c in points.columns]
    return joined.select(
        *out_cols,
        F.col("_cell").alias("cell_id"),
        val.cast("int").alias("value"),
    ).withColumn("px_ok", F.col("value").isNotNull())
