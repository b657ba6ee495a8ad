"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pipeline (synthesize images from the
sf0.001 orders table → Arrow-batch decode → tile-assign → cell join →
per-region counts). ``queries()`` / ``oracle_sql()`` expose each
implemented operator from SURVEY.md §2 with a DuckDB-checkable ANSI-SQL
twin. All oracle-checked arithmetic is exact-integer or power-of-two
float so Spark and DuckDB agree bit-for-bit.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gdal_drivers_spark.operators._groups import row_udf, run_batches, run_grouped  # noqa: E402

Z_ASSIGN = 6  # 64×64 grid for assignment queries
_CELL0 = 6 * (1 << 52)  # packed level prefix


def _ship(spark: SparkSession) -> SparkSession:
    from gdal_drivers_spark import _ship as ship

    return ship(spark)


def _pixel_checksum(col, decoded: bool = False):
    """The house per-raster hash-gate reduction as a
    ``struct<v_sum, vpos_sum>`` Column: the value sum and the 1-based
    position-weighted value sum of a binary column's raw u8 bytes, or,
    ``decoded``, of its codec-decoded pixels."""
    import numpy as np

    from gdal_drivers_spark.core import codecs

    def _ck(b):
        flat = codecs.decode(b).ravel() if decoded else np.frombuffer(b, np.uint8)
        flat = flat.astype(np.int64)
        return int(flat.sum()), int((flat * (np.arange(flat.size) + 1)).sum())

    return row_udf(_ck, "struct<v_sum:long,vpos_sum:long>")(col)


def _tile_checksums(out: DataFrame, raster: str, *cols: str) -> DataFrame:
    """(tcx, tcy, *cols, v_sum, vpos_sum) per row of a cell-keyed frame
    whose ``raster`` column holds raw u8 pixels."""
    return out.select(
        (F.shiftright(F.col("cell"), 26) % F.lit(1 << 26)).alias("tcx"),
        (F.col("cell") % F.lit(1 << 26)).alias("tcy"),
        *cols,
        _pixel_checksum(F.col(raster)).alias("_c"),
    ).select("tcx", "tcy", *cols, "_c.v_sum", "_c.vpos_sum")


def _orders_footprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic integer footprints (inclusive cell ranges at
    Z_ASSIGN) derived from the orders table — the relational shadow of
    sources.synth.footprint_of, exact in both engines."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    h1 = (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4096)
    return o.select(
        F.col("o_orderkey").alias("k"),
        (h1 % 64).alias("cx0"),
        (h1.cast("long") / 64).cast("long").alias("cy0"),
        F.least(h1 % 64 + F.col("o_orderkey") % 3, F.lit(63)).alias("cx1"),
        F.least(
            (h1.cast("long") / 64).cast("long")
            + (F.col("o_orderkey").cast("long") / 3).cast("long") % 3,
            F.lit(63),
        ).alias("cy1"),
    )


_ORDERS_FOOTPRINT_SQL = """
  SELECT o_orderkey AS k,
         ((o_orderkey * 2654435761) % 4096) % 64 AS cx0,
         ((o_orderkey * 2654435761) % 4096) // 64 AS cy0,
         least(((o_orderkey * 2654435761) % 4096) % 64 + o_orderkey % 3, 63) AS cx1,
         least(((o_orderkey * 2654435761) % 4096) // 64 + (o_orderkey // 3) % 3, 63) AS cy1
  FROM orders
"""


def _assigned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprints exploded to covering cells (tile assignment, S5/J1):
    narrow sequence+explode, no shuffle, all codegen."""
    from gdal_drivers_spark.core.qcell import pack_col

    fp = _orders_footprints(spark, sf_dir)
    return (
        fp.withColumn("cx", F.explode(F.sequence("cx0", "cx1")))
        .withColumn("cy", F.explode(F.sequence("cy0", "cy1")))
        .withColumn("cell", pack_col(Z_ASSIGN, F.col("cx"), F.col("cy")))
    )


_ASSIGNED_SQL = f"""
  SELECT k, cx, cy,
         ({Z_ASSIGN}::BIGINT * {1 << 52}) + (cx * {1 << 26}) + cy AS cell
  FROM ({_ORDERS_FOOTPRINT_SQL}) fp,
       LATERAL (SELECT unnest(generate_series(fp.cx0, fp.cx1)) AS cx) gx,
       LATERAL (SELECT unnest(generate_series(fp.cy0, fp.cy1)) AS cy) gy
"""


# --------------------------------------------------------------- queries

def q_tile_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/J1: tile assignment — per-cell image count + distinct images."""
    return (
        _assigned(spark, sf_dir)
        .groupBy("cell")
        .agg(F.count("*").alias("n_assign"), F.countDistinct("k").alias("n_images"))
    )


def q_cell_join_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/P3: cell equi-join against the boundary table (region attr =
    r(x+y)%8, FIXTURES.md §2), grouped by region. The boundary side is
    a broadcast (4^z rows)."""
    from gdal_drivers_spark.sources.synth import region_boundaries

    bounds = region_boundaries(spark, Z_ASSIGN, 8)
    a = _assigned(spark, sf_dir)
    return (
        a.join(F.broadcast(bounds), "cell", "inner")
        .groupBy("region")
        .agg(
            F.count("*").alias("n_assign"),
            F.countDistinct("k").alias("n_images"),
            F.countDistinct("cell").alias("n_cells"),
        )
    )


def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: exact kNN (k=3) of supplier query points against customer
    points via cell-ring expansion, certified termination."""
    from gdal_drivers_spark.operators.knn import knn_join

    span = 65536
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("pid"),
        ((F.col("c_custkey") * 48271) % span).alias("px"),
        ((F.col("c_custkey") * 69621) % span).alias("py"),
    )
    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("qid"),
        ((F.col("s_suppkey") * 16807) % span).alias("qx"),
        ((F.col("s_suppkey") * 39916801) % span).alias("qy"),
    )
    return knn_join(supp, cust, k=3, z=4, coord_span=span)


def q_pricing_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 relational shadow: partial+final weighted aggregation with
    exact integer-cents arithmetic (order-independent, engine-exact)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("qty_cents"),
            F.sum(
                F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100).cast(
                    "long"
                )
            ).alias("revenue_cents"),
            F.count("*").alias("n_rows"),
        )
    )


def q_tristate_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A7: quadtree pyramid rollup with tristate classification
    (white/gray/black = all/any/none, mask.cpp:240-256 semantics) —
    leaves at z=4 derived from part, parents at z=3."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    h = (F.col("p_partkey") * F.lit(2654435761)) % F.lit(256)
    leaves = (
        p.select(
            (h % 16).alias("qx"),
            (h.cast("long") / 16).cast("long").alias("qy"),
            (F.col("p_partkey") % 2).alias("bit"),
        )
        .groupBy("qx", "qy")
        .agg(F.max("bit").alias("bit"))  # OR-combine (A3, blender.cpp:657-731)
    )
    return (
        leaves.groupBy(
            (F.col("qx").cast("long") / 2).cast("long").alias("px"),
            (F.col("qy").cast("long") / 2).cast("long").alias("py"),
        )
        .agg(
            F.count("*").alias("n_children"),
            F.sum("bit").alias("n_white"),
        )
        .withColumn(
            "klass",
            F.when(F.col("n_white") == 0, "black")
            .when(F.col("n_white") == F.col("n_children"), "white")
            .otherwise("gray"),
        )
    )


def q_tms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13/J2: keyed z-x-y lookup with the TMS row flip
    (row = 2^z−1−y, mbtiles.cpp:154-155) as an equi-join."""
    z = 5
    n = 1 << z
    store = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(
            ((F.col("p_partkey") * 7) % n).alias("x"),
            (F.lit(n - 1) - (F.col("p_partkey") * 13) % n).alias("tms_row"),
            F.col("p_partkey").alias("payload_id"),
        )
        .groupBy("x", "tms_row")
        .agg(F.min("payload_id").alias("payload_id"))
    )
    requests = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("req_id"),
        ((F.col("s_suppkey") * 11) % n).alias("x"),
        ((F.col("s_suppkey") * 5) % n).alias("y"),
    )
    flipped = requests.withColumn("tms_row", F.lit(n - 1) - F.col("y"))
    return flipped.join(store, ["x", "tms_row"], "inner").select(
        "req_id", "x", "y", "tms_row", "payload_id"
    )


def q_warp_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 cross-SRS (warp(srs=...), gdaldriversmodule.cpp:182-204): a
    128×128 EPSG:4326 source raster (global pattern (gx·3+gy·5+11)%256)
    resampled nearest onto a 128×128 EPSG:3857 grid via the closed-form
    spherical-Mercator transform (core/srs.py). The oracle replays the
    exact per-pixel chain — dst center → world → inverse Mercator →
    source pixel floor → pattern — in SQL; all grid constants are
    powers of two so the affine steps are exact, and ln/tan/atan/exp
    agree bit-for-bit across numpy/libm/DuckDB (verified on this
    platform). Dst bbox strictly inside the source so no clamping."""
    import math

    import numpy as np

    from gdal_drivers_spark.core.srs import R_MERC
    from gdal_drivers_spark.operators.warp import warp_tiles

    TS = 32
    # source: lon [0,8)°, lat (40,48]°, 128×128 px, dx=dy=2^-4 (exact)
    src_gt = np.array([0.0, 0.0625, 0.0, 48.0, 0.0, -0.0625])

    def merc_y(lat_deg: float) -> float:
        return R_MERC * math.log(math.tan(math.pi / 4.0 + lat_deg * math.pi / 360.0))

    # dst: strictly inside — lon [0.5,7.5], lat [40.5,47.5] in 3857
    x0 = 0.5 * R_MERC * math.pi / 180.0
    x1 = 7.5 * R_MERC * math.pi / 180.0
    y1, y0 = merc_y(40.5), merc_y(47.5)
    dst_gt = np.array([x0, (x1 - x0) / 128.0, 0.0, y0, 0.0, (y1 - y0) / 128.0])

    out = warp_tiles(
        _pattern_src_tiles(spark, ts=TS, ntiles=4), src_gt, dst_gt, (128, 128), tile_px=TS,
        method="nearest", src_srs="EPSG:4326", dst_srs="EPSG:3857",
    )
    return out.select("ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"), "ts")


def _warp_reproject_oracle_sql() -> str:
    import math

    from gdal_drivers_spark.core.srs import R_MERC

    def merc_y(lat_deg: float) -> float:
        return R_MERC * math.log(math.tan(math.pi / 4.0 + lat_deg * math.pi / 360.0))

    x0 = 0.5 * R_MERC * math.pi / 180.0
    x1 = 7.5 * R_MERC * math.pi / 180.0
    y1, y0 = merc_y(40.5), merc_y(47.5)
    dx, dy = (x1 - x0) / 128.0, (y1 - y0) / 128.0
    # inverse source affine (gt_invert of [0,2^-4,0,48,0,-2^-4]) is
    # exactly scol = lon*16, srow = 768 + lat*(-16)
    return f"""
        WITH px AS (
            SELECT gc.c AS col, gr.r AS row
            FROM generate_series(0, 127) gc(c), generate_series(0, 127) gr(r)
        ), w AS (
            SELECT col, row,
                   ({x0!r} + (col + 0.5) * {dx!r}) / {R_MERC * math.pi / 180.0!r} AS lon,
                   (2.0 * atan(exp(({y0!r} + (row + 0.5) * {dy!r}) / {R_MERC!r}))
                    - {math.pi / 2.0!r}) / {math.pi / 180.0!r} AS lat
            FROM px
        ), s AS (
            SELECT col, row,
                   CAST(floor(0.0 + lon * 16.0) AS BIGINT) AS scol,
                   CAST(floor(768.0 + lat * (-16.0)) AS BIGINT) AS srow
            FROM w
        )
        SELECT col // 32 AS ocx, row // 32 AS ocy,
               CAST(sum((scol * 3 + srow * 5 + 11) % 256) AS BIGINT) AS px_sum,
               CAST(32 AS INT) AS ts
        FROM s GROUP BY 1, 2
    """


def q_warp_utm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 cross-SRS, round 3: ellipsoidal transverse Mercator (UTM
    zone 33N, Snyder series — core/srs.py tm_forward/tm_inverse) and
    UPS North polar stereographic, driven entirely through Column
    expressions (COL_OPS backend). The oracle SQL is GENERATED from the
    same formula source via the SQL_OPS backend, so both engines
    evaluate the identical IEEE expression tree — bit-parity by
    construction (verified 25/25 exact on this platform). Inputs are a
    deterministic lon/lat grid over zone 33 (supplier keys); outputs
    include the series round-trip so the inverse is under the hash
    gate too. The raster-warp plumbing over these transforms (cover
    sampling, gather, seams) is pinned by test_warp_solid's scalar
    oracles."""
    from gdal_drivers_spark.core.srs import COL_OPS, tm_forward, tm_inverse, ups_north_forward

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("k")
    )
    lon = F.lit(12.0) + ((F.col("k") % 600).cast("double") * F.lit(0.01))
    lat = F.lit(-75.0) + ((F.col("k") % 1500).cast("double") * F.lit(0.1))
    e, n = tm_forward(lon, lat, 15.0, 0.0, COL_OPS)
    df = supp.select("k", e.alias("easting"), n.alias("northing"))
    lon2, lat2 = tm_inverse(F.col("easting"), F.col("northing"), 15.0, 0.0, COL_OPS)
    plon = F.lit(-180.0) + (F.col("k") % 360).cast("double")
    plat = F.lit(65.0) + ((F.col("k") % 240).cast("double") * F.lit(0.1))
    ux, uy = ups_north_forward(plon, plat, COL_OPS)
    return df.select(
        "k", "easting", "northing",
        lon2.alias("lon_rt"), lat2.alias("lat_rt"),
        ux.alias("ups_e"), uy.alias("ups_n"),
    )


def _warp_utm_oracle_sql() -> str:
    from gdal_drivers_spark.core.srs import (
        SQL_OPS, _SqlExpr, tm_forward, tm_inverse, ups_north_forward,
    )

    lon = _SqlExpr("(12.0 + (CAST((s_suppkey % 600) AS DOUBLE) * 0.01))")
    lat = _SqlExpr("((- 75.0) + (CAST((s_suppkey % 1500) AS DOUBLE) * 0.1))")
    e, n = tm_forward(lon, lat, 15.0, 0.0, SQL_OPS)
    lon2, lat2 = tm_inverse(_SqlExpr("easting"), _SqlExpr("northing"), 15.0, 0.0, SQL_OPS)
    plon = _SqlExpr("((- 180.0) + CAST((s_suppkey % 360) AS DOUBLE))")
    plat = _SqlExpr("(65.0 + (CAST((s_suppkey % 240) AS DOUBLE) * 0.1))")
    ux, uy = ups_north_forward(plon, plat, SQL_OPS)
    return f"""
        WITH base AS (
            SELECT s_suppkey AS k, {e.s} AS easting, {n.s} AS northing,
                   {ux.s} AS ups_e, {uy.s} AS ups_n
            FROM supplier
        )
        SELECT k, easting, northing,
               {lon2.s} AS lon_rt, {lat2.s} AS lat_rt,
               ups_e, ups_n
        FROM base
    """


def q_warp_lcc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 cross-SRS, round 3b: Lambert conformal conic 2SP
    (Lambert-93 / EPSG:2154 parameters — the family behind the French
    national grid and US State Plane; validated offline against the
    EPSG GN7-2 worked example to <0.01 ft). Same generated-oracle
    treatment as warp_utm: one formula source → Column backend here,
    SQL-text backend in the oracle; forward + conformal-series
    round-trip over a France-sized grid, all raw doubles under the
    hash gate."""
    from gdal_drivers_spark.core.srs import (
        COL_OPS, LCC_EPSG_2154, lcc2sp_forward, lcc2sp_inverse,
    )

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("k")
    )
    lon = F.lit(-4.5) + ((F.col("k") % 1250).cast("double") * F.lit(0.01))
    lat = F.lit(41.5) + ((F.col("k") % 950).cast("double") * F.lit(0.01))
    e, n = lcc2sp_forward(lon, lat, LCC_EPSG_2154, COL_OPS)
    df = supp.select("k", e.alias("easting"), n.alias("northing"))
    lon2, lat2 = lcc2sp_inverse(
        F.col("easting"), F.col("northing"), LCC_EPSG_2154, COL_OPS
    )
    return df.select(
        "k", "easting", "northing", lon2.alias("lon_rt"), lat2.alias("lat_rt")
    )


def _warp_lcc_oracle_sql() -> str:
    from gdal_drivers_spark.core.srs import (
        LCC_EPSG_2154, SQL_OPS, _SqlExpr, lcc2sp_forward, lcc2sp_inverse,
    )

    lon = _SqlExpr("((- 4.5) + (CAST((s_suppkey % 1250) AS DOUBLE) * 0.01))")
    lat = _SqlExpr("(41.5 + (CAST((s_suppkey % 950) AS DOUBLE) * 0.01))")
    e, n = lcc2sp_forward(lon, lat, LCC_EPSG_2154, SQL_OPS)
    lon2, lat2 = lcc2sp_inverse(
        _SqlExpr("easting"), _SqlExpr("northing"), LCC_EPSG_2154, SQL_OPS
    )
    return f"""
        WITH base AS (
            SELECT s_suppkey AS k, {e.s} AS easting, {n.s} AS northing
            FROM supplier
        )
        SELECT k, easting, northing,
               {lon2.s} AS lon_rt, {lat2.s} AS lat_rt
        FROM base
    """


def q_mbtiles_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13 over a REAL SQLite archive (mbtiles.cpp:128-225): a genuine
    ``.mbtiles`` file is written (tiles stored TMS, gzip on even
    payloads), scanned back executor-side via sources/mbtiles (per-zoom
    work units, stdlib sqlite3), and served through the full request
    path — z-x-y string parse (F10), bounds check, TMS flip, keyed
    join, gzip sniff + gunzip (F11). Fixture tiles mirror the
    tms_lookup store so the oracle is the same relational lookup.

    The archive is built on the driver (fixture construction — a real
    deployment reads archives from shared storage); the SCAN runs on
    executors."""
    import gzip as _gzip
    import os
    import tempfile

    from gdal_drivers_spark.sources.mbtiles import read_mbtiles, write_mbtiles
    from gdal_drivers_spark.operators.lookup import parse_requests, fetch_tiles

    z = 5
    n = 1 << z
    store_rows = (
        spark.read.parquet(f"{sf_dir}/part.parquet")
        .select(
            ((F.col("p_partkey") * 7) % n).alias("x"),
            (F.lit(n - 1) - (F.col("p_partkey") * 13) % n).alias("tms_row"),
            F.col("p_partkey").alias("payload_id"),
        )
        .groupBy("x", "tms_row")
        .agg(F.min("payload_id").alias("payload_id"))
        .collect()
    )
    tmpdir = tempfile.mkdtemp(prefix="gds_mbtiles_")
    path = os.path.join(tmpdir, "fixture.mbtiles")
    write_mbtiles(
        path,
        [
            (
                z, int(r.x), int(r.tms_row),
                _gzip.compress(str(int(r.payload_id)).encode(), mtime=0)
                if r.payload_id % 2 == 0
                else str(int(r.payload_id)).encode(),
            )
            for r in store_rows
        ],
        metadata={"name": "fixture", "format": "txt"},
    )

    store = read_mbtiles(spark, [path]).select(
        "zoom", "x", F.col("tms_y").alias("y"), "tile_data"
    )
    requests = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("req_id"),
        F.concat_ws(
            "-", F.lit(z), (F.col("s_suppkey") * 11) % n, (F.col("s_suppkey") * 5) % n
        ).alias("path"),
    )
    hits = fetch_tiles(parse_requests(requests), store)
    return hits.select(
        "req_id", "x", "y", "tms_y",
        F.col("tile_data").cast("string").cast("long").alias("payload_id"),
    )


_MBTILES_ORACLE_SQL = """
    WITH store AS (
        SELECT (p_partkey * 7) % 32 AS x,
               31 - (p_partkey * 13) % 32 AS tms_row,
               min(p_partkey) AS payload_id
        FROM part GROUP BY 1, 2
    ), req AS (
        SELECT s_suppkey AS req_id, (s_suppkey * 11) % 32 AS x,
               (s_suppkey * 5) % 32 AS y FROM supplier
    )
    SELECT req.req_id, req.x, req.y, 31 - req.y AS tms_y, store.payload_id
    FROM req JOIN store ON store.x = req.x AND store.tms_row = 31 - req.y
"""


# Deterministic triangle table for the PIP join (P4 generalized):
# all-dyadic vertices, no horizontal edges (the even-odd crossing rule
# is then identical in numpy and SQL, bit-for-bit).
_TRIANGLES = [
    (0, [(0.0625, 0.0625), (0.4375, 0.125), (0.1875, 0.40625)]),
    (1, [(0.5625, 0.0625), (0.9375, 0.15625), (0.6875, 0.375)]),
    (2, [(0.0625, 0.5625), (0.40625, 0.625), (0.15625, 0.9375)]),
    (3, [(0.5625, 0.5625), (0.90625, 0.65625), (0.625, 0.9375)]),
    (4, [(0.25, 0.25), (0.75, 0.3125), (0.46875, 0.78125)]),
    (5, [(0.03125, 0.03125), (0.96875, 0.09375), (0.5, 0.21875)]),
]


def q_pip_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 generalized (point-in-polygon join): customer points → level-3
    cell prune → broadcast candidate map → exact vectorized ray-cast
    refine (the distributed form of blender.cpp:590-600 containment)."""
    from gdal_drivers_spark.operators.spatial_join import pip_join

    pts = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        F.col("c_custkey").alias("pid"),
        (((F.col("c_custkey") * 48271) % 65536) / F.lit(65536.0)).alias("px"),
        (((F.col("c_custkey") * 69621) % 65536) / F.lit(65536.0)).alias("py"),
    )
    polys_pdf = pd.DataFrame(
        {"poly_id": [t[0] for t in _TRIANGLES], "ring": [t[1] for t in _TRIANGLES]}
    )
    j = pip_join(pts, polys_pdf, z=3)
    return j.groupBy("poly_id").agg(
        F.count("*").alias("n_points"), F.sum("pid").alias("key_sum")
    )


def _pip_oracle_sql() -> str:
    edges = []
    for pid, ring in _TRIANGLES:
        for i in range(3):
            (x0, y0), (x1, y1) = ring[i], ring[(i + 1) % 3]
            edges.append(f"({pid}, {x0!r}, {y0!r}, {x1!r}, {y1!r})")
    values = ",\n                   ".join(edges)
    return f"""
        WITH pts AS (
            SELECT c_custkey AS pid,
                   ((c_custkey * 48271) % 65536) / 65536.0 AS px,
                   ((c_custkey * 69621) % 65536) / 65536.0 AS py
            FROM customer
        ), edges(poly_id, x0, y0, x1, y1) AS (
            VALUES {values}
        ), cross_ AS (
            SELECT p.pid, e.poly_id,
                   CASE WHEN ((e.y0 > p.py) != (e.y1 > p.py))
                             AND p.px < e.x0 + (p.py - e.y0) / (e.y1 - e.y0) * (e.x1 - e.x0)
                        THEN 1 ELSE 0 END AS c
            FROM pts p, edges e
        ), inside AS (
            SELECT pid, poly_id FROM cross_ GROUP BY pid, poly_id HAVING sum(c) % 2 = 1
        )
        SELECT CAST(poly_id AS BIGINT) AS poly_id, count(*) AS n_points,
               CAST(sum(pid) AS BIGINT) AS key_sum
        FROM inside GROUP BY poly_id
    """


_TILE_ROWS = "z int, tx long, ty long, data binary"  # one protobuf .mvt blob per row


def q_mvt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11/J4/F1-F9/W2 end-to-end: per-supplier vector-tile layers are
    ENCODED on executors (zigzag + command words + cursor deltas,
    mvt.cpp:164-261 inverse) and framed as protobuf tiles, then decoded
    by the engine's batch MVT reader (dictionary tag join with
    out-of-bounds drop + odd-trailing ignore, winding-rule polygon
    assembly, Trafo to world). The oracle
    computes the expected world coordinates relationally — the
    round-trip must reproduce them exactly (×1024 quantization is
    lossless: all coords are dyadic)."""
    import json

    import numpy as np

    from gdal_drivers_spark.core import mvtcodec, mvtproto
    from gdal_drivers_spark.operators.mvt import decode_features

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey")

    def gen(g):
        for s in g["s_suppkey"]:
            tx, ty = s % 4, (s * 3) % 4
            pts = np.array(
                [[(s * 17 + 31 * j) % 256, (s * 23 + 41 * j) % 256] for j in range(3)],
                np.int64,
            )
            a, b = (s * 29) % 200, (s * 37) % 200
            ring_a = np.array([[a, b], [a + 40, b + 8], [a + 8, b + 48]], np.int64)
            ring_b = np.array(
                [[a + 12, b + 12], [a + 14, b + 20], [a + 20, b + 14]], np.int64
            )
            feats = [
                {
                    "id": 2 * s,
                    "tags": [0, s % 3],
                    "geom_type": mvtcodec.GEOM_POINT,
                    "geometry": mvtcodec.encode_geometry(mvtcodec.GEOM_POINT, [pts]).tolist(),
                },
                {
                    "id": 2 * s + 1,
                    # (0,s%3) + (1,3) kept, (7,9) out-of-bounds dropped,
                    # trailing 0 ignored (mvt.cpp:545-560)
                    "tags": [0, s % 3, 1, 3, 7, 9, 0],
                    "geom_type": mvtcodec.GEOM_POLYGON,
                    "geometry": mvtcodec.encode_geometry(
                        mvtcodec.GEOM_POLYGON, [ring_a, ring_b]
                    ).tolist(),
                },
            ]
            yield 2, tx, ty, mvtproto.encode_tile([{
                "name": "suppliers", "extent": 256, "version": 2, "keys": ["kind", "flag"],
                "values": [("string", v) for v in "abcx"], "features": feats}])

    feats = decode_features(run_batches(supp, ["s_suppkey"], gen, _TILE_ROWS))

    def coord_sums(g):
        pts = []

        def rec(n):
            if n and not isinstance(n[0], list):
                pts.append(n)
            else:
                for m in n:
                    rec(m)

        rec(json.loads(g))
        arr = np.asarray(pts, np.float64)
        return int(np.rint(arr[:, 0] * 1024).sum()), int(np.rint(arr[:, 1] * 1024).sum())

    return feats.select(
        "fid", "geom_type", "n_parts", "n_rings", "n_vertices",
        row_udf(coord_sums, "struct<sum_xq:long,sum_yq:long>")(F.col("geom_json")).alias("cs"),
        F.col("props")["kind"].alias("kind"), F.col("props")["flag"].alias("flag"),
    ).select(
        "fid", "geom_type", "n_parts", "n_rings", "n_vertices", "cs.sum_xq", "cs.sum_yq",
        "kind", "flag",
    )


_MVT_ORACLE_SQL = """
    WITH s AS (
        SELECT s_suppkey AS k, s_suppkey % 4 AS tx, (s_suppkey * 3) % 4 AS ty,
               (s_suppkey * 29) % 200 AS a, (s_suppkey * 37) % 200 AS b
        FROM supplier
    )
    SELECT 2 * k AS fid, 'point' AS geom_type, 1 AS n_parts, 0 AS n_rings,
           3 AS n_vertices,
           3 * tx * 256 + ((k*17) % 256) + ((k*17+31) % 256) + ((k*17+62) % 256) AS sum_xq,
           3 * 1024 - 3 * ty * 256
             - (((k*23) % 256) + ((k*23+41) % 256) + ((k*23+82) % 256)) AS sum_yq,
           CASE k % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS kind,
           NULL AS flag
    FROM s
    UNION ALL
    SELECT 2 * k + 1, 'polygon', 1, 2, 8,
           8 * tx * 256 + 8 * a + 106,
           8 * 1024 - 8 * ty * 256 - (8 * b + 114),
           CASE k % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END,
           'x'
    FROM s
"""


def q_mvt_proto_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11 + F9 over the REAL wire format: per-tile Mapbox Vector Tile
    protobuf blobs (varint framing per proto/vector_tile.proto:7-80)
    are built on executors by the engine's own encoder, then decoded
    through the full proto scan (mvt.cpp:732-770 parse → typed Value
    dispatch mvt.cpp:457-520 incl. bool subtype :469-474 → dictionary
    tag join → geometry). One point feature per supplier with all six
    typed attribute kinds; the oracle reproduces every typed value and
    the canonical string rendering relationally."""
    import numpy as np

    from gdal_drivers_spark.core import mvtproto
    from gdal_drivers_spark.operators.mvt import decode_features

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey", "s_name", (F.col("s_suppkey") % 4).alias("tx")
    )

    def build_tile(key, g):
        keys = ["cnt", "flag", "name", "neg", "score", "w"]
        values, feats = [], []
        for k, name in sorted(zip(g["s_suppkey"], g["s_name"])):
            base = len(values)
            values += [
                ("int", 3 * k + 1),
                ("bool", k % 2 == 1),
                ("string", str(name)),
                ("sint", -(k + 7)),
                ("double", k / 4.0),
                ("float", k * 0.5),
            ]
            tags = []
            for j in range(6):
                tags += [j, base + j]
            feats.append(
                {
                    "id": k + 1,
                    "tags": np.asarray(tags, np.uint64),
                    "geom_type": 1,  # point
                    "geometry": np.asarray(
                        [(1 << 3) | 1,  # MoveTo count=1
                         ((k * 7) % 256) << 1, ((k * 11) % 256) << 1],
                        np.uint64,
                    ),
                }
            )
        blob = mvtproto.encode_tile(
            [{"name": "typed", "extent": 256, "version": 2,
              "keys": keys, "values": values, "features": feats}]
        )
        return [(2, key[0], 1, blob)]

    tiles = run_grouped(supp, ["tx"], ["s_suppkey", "s_name"], build_tile, _TILE_ROWS)
    feats = decode_features(tiles)
    tp = F.col("props_typed")
    return feats.select(
        "fid",
        tp["name"]["s"].alias("name"),
        tp["cnt"]["i"].alias("cnt"),
        tp["neg"]["i"].alias("neg"),
        tp["flag"]["b"].alias("flag"),
        tp["score"]["d"].alias("score"),
        tp["w"]["d"].alias("w"),
        tp["cnt"]["t"].alias("t_cnt"),
        F.col("props")["score"].alias("score_str"),
        "n_vertices",
    )


_MVT_PROTO_ORACLE_SQL = """
    SELECT s_suppkey + 1 AS fid,
           s_name AS name,
           CAST(3 * s_suppkey + 1 AS BIGINT) AS cnt,
           CAST(-(s_suppkey + 7) AS BIGINT) AS neg,
           s_suppkey % 2 = 1 AS flag,
           CAST(s_suppkey AS DOUBLE) / 4.0 AS score,
           CAST(CAST(s_suppkey * 0.5 AS REAL) AS DOUBLE) AS w,
           'int' AS t_cnt,
           printf('%.6f', s_suppkey / 4.0) AS score_str,
           CAST(1 AS INT) AS n_vertices
    FROM supplier
"""


def q_vectorize_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 + inverse: part-derived quads (values alternate by cell
    parity, so no 2×2 sibling quartet is ever uniform) are rasterized
    to tiles and vectorized back — the non-black output must equal the
    input quad set exactly (mask write/read cycle, mask.cpp:219-308)."""
    from gdal_drivers_spark.operators.rasterize import rasterize_quads, vectorize_tiles

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    h = (F.col("p_partkey") * F.lit(2654435761)) % F.lit(256)
    quads = (
        p.select((h % 16).alias("qx"), (h.cast("long") / 16).cast("long").alias("qy"))
        .distinct()
        .select(
            F.lit(4).alias("level"),
            "qx",
            "qy",
            F.when((F.col("qx") + F.col("qy")) % 2 == 0, "white")
            .otherwise("gray")
            .alias("value"),
        )
    )
    tiles = rasterize_quads(quads, depth=4, tile_px=8)
    return vectorize_tiles(tiles, depth=4, tile_px=8).filter(F.col("value") != "black")


_VECTORIZE_ORACLE_SQL = """
    WITH cells AS (
        SELECT DISTINCT ((p_partkey * 2654435761) % 256) % 16 AS qx,
               ((p_partkey * 2654435761) % 256) // 16 AS qy
        FROM part
    )
    SELECT 4 AS level, qx, qy, CAST(1 AS BIGINT) AS size,
           CASE WHEN (qx + qy) % 2 = 0 THEN 'white' ELSE 'gray' END AS value
    FROM cells
"""


def q_warp_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 (warp: grid resample, gdaldriversmodule.cpp:182-204): a
    256×256 source raster of constant-valued 32-px tiles is resampled
    2× down with nearest-neighbor onto a 128×128 grid. Sample points
    land strictly inside constant source tiles, so the per-output-tile
    pixel sum is closed-form — the oracle computes it relationally."""
    import numpy as np

    from gdal_drivers_spark.core import codecs
    from gdal_drivers_spark.operators.warp import warp_tiles

    def gen(g):
        for i in g["id"]:
            scx, scy = i % 8, i // 8
            v = (scx * 13 + scy * 29) % 251
            yield scx, scy, codecs.encode_raw(np.full((32, 32, 1), v, np.uint8))

    src = run_batches(spark.range(0, 64, 1, min(64, spark.sparkContext.defaultParallelism)),
                      ["id"], gen, "scx long, scy long, tile binary")
    src_gt = np.array([0.0, 1 / 256, 0.0, 1.0, 0.0, -1 / 256])
    dst_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    out = warp_tiles(src, src_gt, dst_gt, dst_shape=(128, 128), tile_px=32, method="nearest")
    return out.select("ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"))


_WARP_ORACLE_SQL = """
    WITH g AS (SELECT unnest(generate_series(0, 3)) AS v),
         o AS (SELECT unnest(generate_series(0, 1)) AS d)
    SELECT gx.v AS ocx, gy.v AS ocy,
           CAST(256 * sum(((2 * gx.v + sx.d) * 13 + (2 * gy.v + sy.d) * 29) % 251) AS BIGINT) AS px_sum
    FROM g gx, g gy, o sx, o sy
    GROUP BY gx.v, gy.v
"""


def _pattern_src_tiles(spark, ts: int = 32, ntiles: int = 4, quant: int = 1):
    """Deterministic source raster for the warp-kernel contract
    queries: (scx, scy, tile) rows of ts-px codec-raw tiles whose global
    pixel (gx, gy) = (gx·3 + gy·5 + 11) % 256 — the
    ``_grid_pattern_tiles`` grid at level 0, keyed by tile column/row.
    ``quant`` floors values to multiples of quant — quant=64 gives the
    4-class categorical raster the mode kernel votes over."""
    tiles = _grid_pattern_tiles(
        spark, 0, ntiles, ts, lambda gx, gy: (gx * 3 + gy * 5 + 11) % 256 // quant * quant,
        encode=True,
    )
    return tiles.select(
        F.shiftright(F.col("cell"), 26).alias("scx"),
        (F.col("cell") % F.lit(1 << 26)).alias("scy"),
        "tile",
    )


def q_warp_cubic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r04 (reference Resampling.cubic,
    gdaldriversmodule.cpp:205-225): 2× cubic-convolution (Keys a=−0.5)
    upsample of the central half of a 128×128 pattern raster. On this
    power-of-two grid every fractional tap position is 0.25/0.75, so
    all 16 Keys weights are dyadic rationals and the whole tap sum is
    EXACT in IEEE double — order-free, hence replayable in SQL; the
    only rounding is the final banker's round to u8 (np.rint ↔ DuckDB
    round_even). Tile seams exercise the widened cubic gather pad."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.25, 1 / 256, 0.0, 0.75, 0.0, -1 / 256])
    out = warp_tiles(src, src_gt, dst_gt, (128, 128), tile_px=32, method="cubic")
    return out.select("ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"))


_WARP_CUBIC_ORACLE_SQL = """
    WITH px AS (
        SELECT ox.v AS ox, oy.v AS oy,
               31.75 + ox.v * 0.5 AS tx, 31.75 + oy.v * 0.5 AS ty
        FROM generate_series(0, 127) ox(v), generate_series(0, 127) oy(v)
    ), fr AS (
        SELECT ox, oy,
               CAST(floor(tx) AS BIGINT) AS x0, tx - floor(tx) AS fx,
               CAST(floor(ty) AS BIGINT) AS y0, ty - floor(ty) AS fy
        FROM px
    ), taps AS (
        SELECT f.ox, f.oy,
               (CASE i.v
                    WHEN 0 THEN -0.5*(1.0+f.fx)*(1.0+f.fx)*(1.0+f.fx) + 2.5*(1.0+f.fx)*(1.0+f.fx) - 4.0*(1.0+f.fx) + 2.0
                    WHEN 1 THEN 1.5*f.fx*f.fx*f.fx - 2.5*f.fx*f.fx + 1.0
                    WHEN 2 THEN 1.5*(1.0-f.fx)*(1.0-f.fx)*(1.0-f.fx) - 2.5*(1.0-f.fx)*(1.0-f.fx) + 1.0
                    ELSE -0.5*(2.0-f.fx)*(2.0-f.fx)*(2.0-f.fx) + 2.5*(2.0-f.fx)*(2.0-f.fx) - 4.0*(2.0-f.fx) + 2.0
                END)
               * (CASE j.v
                    WHEN 0 THEN -0.5*(1.0+f.fy)*(1.0+f.fy)*(1.0+f.fy) + 2.5*(1.0+f.fy)*(1.0+f.fy) - 4.0*(1.0+f.fy) + 2.0
                    WHEN 1 THEN 1.5*f.fy*f.fy*f.fy - 2.5*f.fy*f.fy + 1.0
                    WHEN 2 THEN 1.5*(1.0-f.fy)*(1.0-f.fy)*(1.0-f.fy) - 2.5*(1.0-f.fy)*(1.0-f.fy) + 1.0
                    ELSE -0.5*(2.0-f.fy)*(2.0-f.fy)*(2.0-f.fy) + 2.5*(2.0-f.fy)*(2.0-f.fy) - 4.0*(2.0-f.fy) + 2.0
                END)
               * CAST(((f.x0 - 1 + i.v) * 3 + (f.y0 - 1 + j.v) * 5 + 11) % 256 AS DOUBLE) AS term
        FROM fr f, generate_series(0, 3) i(v), generate_series(0, 3) j(v)
    ), pxv AS (
        SELECT ox, oy,
               LEAST(GREATEST(CAST(round_even(SUM(term), 0) AS BIGINT), 0), 255) AS v8
        FROM taps GROUP BY ox, oy
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy, CAST(SUM(v8) AS BIGINT) AS px_sum
    FROM pxv GROUP BY 1, 2
"""


def q_warp_cubicspline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r05 (reference Resampling.cubicspline,
    gdaldriversmodule.cpp:205-225 — the smoothing, non-interpolating
    B-spline kernel; this closes the FULL GRA_* enum): 2× cubic
    B-spline upsample of the central half of the pattern raster, same
    dyadic grid as warp_cubic. The kernel computes with ×6-scaled
    B-spline weights — dyadic rationals at dyadic fracs, so the whole
    16-tap sum is EXACT and order-free — and divides ONCE by 36 at the
    end (see warp._bspline_w6); numpy and SQL perform that single
    division and the final banker's round identically, which is what
    makes this oracle bit-exact despite B₃'s non-representable 1/6."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.25, 1 / 256, 0.0, 0.75, 0.0, -1 / 256])
    out = warp_tiles(src, src_gt, dst_gt, (128, 128), tile_px=32,
                     method="cubicspline")
    return out.select("ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"))


_WARP_CUBICSPLINE_ORACLE_SQL = """
    WITH px AS (
        SELECT ox.v AS ox, oy.v AS oy,
               31.75 + ox.v * 0.5 AS tx, 31.75 + oy.v * 0.5 AS ty
        FROM generate_series(0, 127) ox(v), generate_series(0, 127) oy(v)
    ), fr AS (
        SELECT ox, oy,
               CAST(floor(tx) AS BIGINT) AS x0, tx - floor(tx) AS fx,
               CAST(floor(ty) AS BIGINT) AS y0, ty - floor(ty) AS fy
        FROM px
    ), taps AS (
        -- x6-scaled uniform cubic B-spline weights (warp._bspline_w6):
        -- offsets -1,0,1,2 -> (1-f)^3, 3f^3-6f^2+4, 3(1-f)^3-6(1-f)^2+4, f^3
        SELECT f.ox, f.oy,
               (CASE i.v
                    WHEN 0 THEN (1.0-f.fx)*(1.0-f.fx)*(1.0-f.fx)
                    WHEN 1 THEN 3.0*f.fx*f.fx*f.fx - 6.0*f.fx*f.fx + 4.0
                    WHEN 2 THEN 3.0*(1.0-f.fx)*(1.0-f.fx)*(1.0-f.fx) - 6.0*(1.0-f.fx)*(1.0-f.fx) + 4.0
                    ELSE f.fx*f.fx*f.fx
                END)
               * (CASE j.v
                    WHEN 0 THEN (1.0-f.fy)*(1.0-f.fy)*(1.0-f.fy)
                    WHEN 1 THEN 3.0*f.fy*f.fy*f.fy - 6.0*f.fy*f.fy + 4.0
                    WHEN 2 THEN 3.0*(1.0-f.fy)*(1.0-f.fy)*(1.0-f.fy) - 6.0*(1.0-f.fy)*(1.0-f.fy) + 4.0
                    ELSE f.fy*f.fy*f.fy
                END)
               * CAST(((f.x0 - 1 + i.v) * 3 + (f.y0 - 1 + j.v) * 5 + 11) % 256 AS DOUBLE) AS term
        FROM fr f, generate_series(0, 3) i(v), generate_series(0, 3) j(v)
    ), pxv AS (
        SELECT ox, oy,
               LEAST(GREATEST(CAST(round_even(SUM(term) / 36.0, 0) AS BIGINT), 0), 255) AS v8
        FROM taps GROUP BY ox, oy
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy, CAST(SUM(v8) AS BIGINT) AS px_sum
    FROM pxv GROUP BY 1, 2
"""


def q_warp_bilinear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r04: 2× bilinear upsample of the central
    half of the pattern raster — same dyadic grid as warp_cubic (tap
    fractions 0.25/0.75), so all four tap weights and the weighted sum
    are EXACT doubles; the only rounding is the final banker's round
    (np.rint ↔ round_even). With warp_downsample (nearest), warp_cubic
    and warp_average this puts ALL FOUR resampling kernels under the
    hash gate."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.25, 1 / 256, 0.0, 0.75, 0.0, -1 / 256])
    out = warp_tiles(src, src_gt, dst_gt, (128, 128), tile_px=32, method="bilinear")
    return out.select("ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"))


_WARP_BILINEAR_ORACLE_SQL = """
    WITH px AS (
        SELECT ox.v AS ox, oy.v AS oy,
               31.75 + ox.v * 0.5 AS tx, 31.75 + oy.v * 0.5 AS ty
        FROM generate_series(0, 127) ox(v), generate_series(0, 127) oy(v)
    ), fr AS (
        SELECT ox, oy,
               CAST(floor(tx) AS BIGINT) AS x0, tx - floor(tx) AS fx,
               CAST(floor(ty) AS BIGINT) AS y0, ty - floor(ty) AS fy
        FROM px
    ), pxv AS (
        SELECT ox, oy,
               LEAST(GREATEST(CAST(round_even(
                     CAST((x0*3     + y0*5     + 11) % 256 AS DOUBLE) * (1.0-fx) * (1.0-fy)
                   + CAST(((x0+1)*3 + y0*5     + 11) % 256 AS DOUBLE) * fx * (1.0-fy)
                   + CAST((x0*3     + (y0+1)*5 + 11) % 256 AS DOUBLE) * (1.0-fx) * fy
                   + CAST(((x0+1)*3 + (y0+1)*5 + 11) % 256 AS DOUBLE) * fx * fy
                   , 0) AS BIGINT), 0), 255) AS v8
        FROM fr
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy, CAST(SUM(v8) AS BIGINT) AS px_sum
    FROM pxv GROUP BY 1, 2
"""


def q_warp_average(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r04 (reference Resampling.average — the
    overview-building kernel): exact area-weighted 2× downsample of
    the 128×128 pattern raster. Every destination footprint is exactly
    2×2 source pixels (unit weights, denominator 4), so the mean is an
    exact quarter-integer and the only rounding is the final banker's
    round (np.rint ↔ round_even — ties at .5 are COMMON here, which is
    precisely what this oracle pins)."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.0, 1 / 64, 0.0, 1.0, 0.0, -1 / 64])
    out = warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=32, method="average")
    return out.select("ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"))


_WARP_AVERAGE_ORACLE_SQL = """
    WITH pxv AS (
        SELECT x.v AS ox, y.v AS oy,
               LEAST(GREATEST(CAST(round_even((
                     CAST(((2*x.v)*3   + (2*y.v)*5   + 11) % 256
                        + ((2*x.v+1)*3 + (2*y.v)*5   + 11) % 256
                        + ((2*x.v)*3   + (2*y.v+1)*5 + 11) % 256
                        + ((2*x.v+1)*3 + (2*y.v+1)*5 + 11) % 256 AS DOUBLE)
                   ) / 4.0, 0) AS BIGINT), 0), 255) AS v8
        FROM generate_series(0, 63) x(v), generate_series(0, 63) y(v)
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy, CAST(SUM(v8) AS BIGINT) AS px_sum
    FROM pxv GROUP BY 1, 2
"""


def q_warp_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r04 continuation (reference Resampling
    min/max): unweighted extrema over every contributing source pixel
    of the 2× footprint (exactly 2×2 per dst pixel — exact integers
    end-to-end). Both kernels in one contract frame joined on the
    tile key."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.0, 1 / 64, 0.0, 1.0, 0.0, -1 / 64])
    mn = warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=32, method="min").select(
        "ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("min_sum")
    )
    mx = warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=32, method="max").select(
        "ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("max_sum")
    )
    return mn.join(mx, ["ocx", "ocy"])


_WARP_MINMAX_ORACLE_SQL = """
    WITH pxv AS (
        SELECT x.v AS ox, y.v AS oy,
               LEAST(LEAST(((2*x.v)*3   + (2*y.v)*5   + 11) % 256,
                           ((2*x.v+1)*3 + (2*y.v)*5   + 11) % 256),
                     LEAST(((2*x.v)*3   + (2*y.v+1)*5 + 11) % 256,
                           ((2*x.v+1)*3 + (2*y.v+1)*5 + 11) % 256)) AS vmin,
               GREATEST(GREATEST(((2*x.v)*3   + (2*y.v)*5   + 11) % 256,
                                 ((2*x.v+1)*3 + (2*y.v)*5   + 11) % 256),
                        GREATEST(((2*x.v)*3   + (2*y.v+1)*5 + 11) % 256,
                                 ((2*x.v+1)*3 + (2*y.v+1)*5 + 11) % 256)) AS vmax
        FROM generate_series(0, 63) x(v), generate_series(0, 63) y(v)
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy,
           CAST(SUM(vmin) AS BIGINT) AS min_sum,
           CAST(SUM(vmax) AS BIGINT) AS max_sum
    FROM pxv GROUP BY 1, 2
"""


def q_warp_sumrms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r04 continuation (reference Resampling
    sum/rms): area-weighted sum (u8-saturated) and quadratic mean of
    the exact 2×2 footprints. rms = sqrt(sumsq/4) is one
    correctly-rounded IEEE expression over exact ints — identical in
    Spark/numpy and DuckDB; the final u8 is banker's-rounded in both
    (np.rint ↔ round_even)."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.0, 1 / 64, 0.0, 1.0, 0.0, -1 / 64])
    sm = warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=32, method="sum").select(
        "ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("sum_sum")
    )
    rm = warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=32, method="rms").select(
        "ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("rms_sum")
    )
    return sm.join(rm, ["ocx", "ocy"])


_WARP_SUMRMS_ORACLE_SQL = """
    WITH v AS (
        SELECT x.v AS ox, y.v AS oy,
               ((2*x.v)*3   + (2*y.v)*5   + 11) % 256 AS v00,
               ((2*x.v+1)*3 + (2*y.v)*5   + 11) % 256 AS v10,
               ((2*x.v)*3   + (2*y.v+1)*5 + 11) % 256 AS v01,
               ((2*x.v+1)*3 + (2*y.v+1)*5 + 11) % 256 AS v11
        FROM generate_series(0, 63) x(v), generate_series(0, 63) y(v)
    ), pxv AS (
        SELECT ox, oy,
               LEAST(v00 + v10 + v01 + v11, 255) AS vsum,
               LEAST(GREATEST(CAST(round_even(sqrt(
                   CAST(v00*v00 + v10*v10 + v01*v01 + v11*v11 AS DOUBLE) / 4.0
               ), 0) AS BIGINT), 0), 255) AS vrms
        FROM v
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy,
           CAST(SUM(vsum) AS BIGINT) AS sum_sum,
           CAST(SUM(vrms) AS BIGINT) AS rms_sum
    FROM pxv GROUP BY 1, 2
"""


def q_warp_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 mask propagation, r04 (the reference's warp(withMask=True)
    returning (data, mask) — gdaldriversmodule.cpp:126-158): nearest
    2× downsample of the pattern raster whose source mask invalidates
    pixels with (gx·7+gy·11)%13 < 3. The mask band rides the same
    gather as the data; per destination tile the oracle replays the
    sampled source pixel's validity and value — n_valid counts mask
    pixels, px_sum sums data (nodata 0 at invalid), so a mask that
    leaked values or a data band that kept values at invalid pixels
    both break the hash."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    def mask(scx, scy):
        gx = np.arange(32) + scx * 32
        gy = np.arange(32) + scy * 32
        return ((((gx[None, :] * 7 + gy[:, None] * 11) % 13) >= 3).astype(np.uint8) * 255).tobytes()

    src = _pattern_src_tiles(spark, ts=32, ntiles=4).withColumn(
        "mask", row_udf(mask, "binary")(F.col("scx"), F.col("scy"))
    )
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.0, 1 / 64, 0.0, 1.0, 0.0, -1 / 64])
    out = warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=32, method="nearest",
                     with_mask=True)
    n_valid = row_udf(lambda b: int((np.frombuffer(b, np.uint8) > 0).sum()), "long")
    return out.select(
        "ocx", "ocy",
        _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"),
        n_valid(F.col("mask")).alias("n_valid"),
    )


_WARP_MASK_ORACLE_SQL = """
    WITH px AS (
        SELECT x.v AS ox, y.v AS oy,
               2 * x.v + 1 AS sx, 2 * y.v + 1 AS sy
        FROM generate_series(0, 63) x(v), generate_series(0, 63) y(v)
    ), v AS (
        SELECT ox, oy,
               CASE WHEN (sx * 7 + sy * 11) % 13 >= 3
                    THEN (sx * 3 + sy * 5 + 11) % 256 ELSE 0 END AS val,
               CASE WHEN (sx * 7 + sy * 11) % 13 >= 3 THEN 1 ELSE 0 END AS ok
        FROM px
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy,
           CAST(SUM(val) AS BIGINT) AS px_sum,
           CAST(SUM(ok) AS BIGINT) AS n_valid
    FROM v GROUP BY 1, 2
"""


def q_warp_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r05 (reference Resampling.mode,
    gdaldriversmodule.cpp:205-225): majority-vote 2× downsample of a
    4-class categorical raster (the pattern quantized to multiples of
    64). Each dst pixel's footprint is exactly 2×2 source pixels;
    ties (common with 4 classes) resolve to the LOWEST value — GDAL's
    rule — making the whole kernel exact integer arithmetic and the
    oracle a count/argmax in plain SQL."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4, quant=64)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.0, 1 / 64, 0.0, 1.0, 0.0, -1 / 64])
    out = warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=32, method="mode")
    return out.select("ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("mode_sum"))


_WARP_MODE_ORACLE_SQL = """
    WITH src AS (
        SELECT x.v AS sx, y.v AS sy,
               (((x.v * 3 + y.v * 5 + 11) % 256) // 64) * 64 AS v
        FROM generate_series(0, 127) x(v), generate_series(0, 127) y(v)
    ), cnt AS (
        SELECT sx // 2 AS ox, sy // 2 AS oy, v, COUNT(*) AS c
        FROM src GROUP BY 1, 2, 3
    ), pick AS (
        SELECT ox, oy, v,
               row_number() OVER (PARTITION BY ox, oy ORDER BY c DESC, v) AS rn
        FROM cnt
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy, CAST(SUM(v) AS BIGINT) AS mode_sum
    FROM pick WHERE rn = 1 GROUP BY 1, 2
"""


def q_warp_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r05 (reference Resampling med/q1/q3,
    gdaldriversmodule.cpp:205-225): order-statistic 2× downsample —
    each dst pixel's footprint is exactly 2×2 source pixels, and the
    type-7 quantile (linear interpolation at p·(n−1), the rule Spark
    percentile and DuckDB quantile_cont share) lands on dyadic
    fractions of integers → exact in IEEE, bit-exact SQL oracle.
    The only rounding is banker's (np.rint ↔ round_even)."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.0, 1 / 64, 0.0, 1.0, 0.0, -1 / 64])
    parts = [
        warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=32, method=m).select(
            "ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias(f"{m}_sum")
        )
        for m in ("med", "q1", "q3")
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.join(p, ["ocx", "ocy"])
    return out


_WARP_QUANTILES_ORACLE_SQL = """
    WITH src AS (
        SELECT x.v AS sx, y.v AS sy, ((x.v * 3 + y.v * 5 + 11) % 256) AS v
        FROM generate_series(0, 127) x(v), generate_series(0, 127) y(v)
    ), g AS (
        SELECT sx // 2 AS ox, sy // 2 AS oy,
               quantile_cont(v, 0.5)  AS medv,
               quantile_cont(v, 0.25) AS q1v,
               quantile_cont(v, 0.75) AS q3v
        FROM src GROUP BY 1, 2
    )
    SELECT ox // 32 AS ocx, oy // 32 AS ocy,
           CAST(SUM(CAST(round_even(medv, 0) AS BIGINT)) AS BIGINT) AS med_sum,
           CAST(SUM(CAST(round_even(q1v, 0) AS BIGINT)) AS BIGINT) AS q1_sum,
           CAST(SUM(CAST(round_even(q3v, 0) AS BIGINT)) AS BIGINT) AS q3_sum
    FROM g GROUP BY 1, 2
"""


def q_warp_lanczos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U6 resampling parity, r05 (reference Resampling.lanczos,
    gdaldriversmodule.cpp:205-225): 2× Lanczos-3 (6×6 windowed-sinc)
    upsample of the central half of the pattern raster — the quality
    upsampler, taps through the widened pad 4 across tile seams.
    ROWS-ONLY oracle by design: the sinc weights are transcendental
    (sin(πx)/(πx)), so no closed-form integer SQL replay exists —
    bit-parity vs the scalar numpy reference (including every seam)
    is pinned in tests/test_warp_solid.py::
    test_warp_lanczos_matches_scalar_oracle_with_seams instead."""
    import numpy as np

    from gdal_drivers_spark.operators.warp import warp_tiles

    src = _pattern_src_tiles(spark, ts=32, ntiles=4)
    src_gt = np.array([0.0, 1 / 128, 0.0, 1.0, 0.0, -1 / 128])
    dst_gt = np.array([0.25, 1 / 256, 0.0, 0.75, 0.0, -1 / 256])
    out = warp_tiles(src, src_gt, dst_gt, (128, 128), tile_px=32, method="lanczos")
    return out.select("ocx", "ocy", _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"))



def _written_masks(spark: SparkSession, sf_dir: str, write) -> DataFrame:
    """(mask_id, buf): five per-mask level-4 quad sets derived from the
    part table, each serialized on executors by ``write(quads)`` (an
    iterable of ``(level, qx, qy, value)`` rows → mask bytes)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    h = (F.col("p_partkey") * F.lit(2654435761)) % F.lit(256)
    quads = (
        p.select(
            (F.col("p_partkey") % 5).alias("mask_id"),
            (h % 16).alias("qx"),
            (h.cast("long") / 16).cast("long").alias("qy"),
        )
        .distinct()
        .select(
            "mask_id", F.lit(4).alias("level"), "qx", "qy",
            F.when((F.col("qx") + F.col("qy")) % 2 == 0, "white")
            .otherwise("gray")
            .alias("value"),
        )
    )

    cols = ["level", "qx", "qy", "value"]
    return run_grouped(quads, ["mask_id"], cols,
                       lambda key, g: [(key[0], write(zip(*(g[c] for c in cols))))],
                       "mask_id long, buf binary")


def q_maskfile_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 + S4 + S2 (quadtree mask write → magic-probe → read,
    mask.cpp:95-108/130-175/266-308): per-mask quad sets serialize to
    the GQM1 binary format on executors, the scan path parses them
    back; per-mask quad counts must survive the cycle."""
    from gdal_drivers_spark.core import maskfile

    def _read(g):
        for mask_id, buf in zip(g["mask_id"], g["buf"]):
            assert maskfile.probe(buf)
            q, depth, _ext, _srs = maskfile.read_mask(buf)
            yield mask_id, depth, len(q["value"]), int((q["value"] == "white").sum())

    masks = _written_masks(
        spark, sf_dir, lambda q: maskfile.write_mask(q, depth=4, extents=(0.0, 0.0, 1.0, 1.0))
    )
    return run_batches(masks, ["mask_id", "buf"], _read,
                       "mask_id long, depth int, n_quads long, n_white long")


def q_maskfile_gdalqm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/S4/S8 over the REFERENCE header wire layout: masks serialize
    with the exact GDALQM header (6-byte magic + 2×u8 reserved +
    u32-len WKT + 4×f64 extents, mask.cpp:274-303), are magic-probed
    (mask.cpp:95-108) and parsed back (header per mask.cpp:130-163).
    SRS and squared-up extents must survive; quad counts as in
    maskfile_roundtrip."""
    from gdal_drivers_spark.core import maskfile

    def _read(g):
        for mask_id, buf in zip(g["mask_id"], g["buf"]):
            assert buf[:6] == b"GDALQM" and maskfile.probe(buf)
            q, depth, ext, srs = maskfile.read_mask(buf)
            v = q["value"]
            yield mask_id, depth, len(v), int((v == "white").sum()), srs, float(ext[2])

    masks = _written_masks(spark, sf_dir, lambda q: maskfile.write_mask(
        q, depth=4, extents=(0.0, 0.0, 1.0, 1.0), srs='LOCAL_CS["qm"]', wire="gdalqm",
    ))
    return run_batches(
        masks, ["mask_id", "buf"], _read,
        "mask_id long, depth int, n_quads long, n_white long, srs string, ur_x double",
    )


_MASKFILE_GDALQM_ORACLE_SQL = """
    WITH cells AS (
        SELECT DISTINCT p_partkey % 5 AS mask_id,
               ((p_partkey * 2654435761) % 256) % 16 AS qx,
               ((p_partkey * 2654435761) % 256) // 16 AS qy
        FROM part
    )
    SELECT mask_id, 4 AS depth, count(*) AS n_quads,
           CAST(sum(CASE WHEN (qx + qy) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_white,
           'LOCAL_CS["qm"]' AS srs, CAST(1.0 AS DOUBLE) AS ur_x
    FROM cells GROUP BY mask_id
"""


_MASKFILE_ORACLE_SQL = """
    WITH cells AS (
        SELECT DISTINCT p_partkey % 5 AS mask_id,
               ((p_partkey * 2654435761) % 256) % 16 AS qx,
               ((p_partkey * 2654435761) % 256) // 16 AS qy
        FROM part
    )
    SELECT mask_id, 4 AS depth, count(*) AS n_quads,
           CAST(sum(CASE WHEN (qx + qy) % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_white
    FROM cells GROUP BY mask_id
"""


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: supplier-derived 32×32 images → nearest-
    neighbor resize to 16×16 (Arrow batch decode/re-encode) → exact
    per-image pixel sums. The resize gather is closed-form on the
    deterministic pattern, so the oracle reproduces it in SQL."""
    from gdal_drivers_spark.operators.multimodal import resize_images

    small = resize_images(_supplier_pattern_images(spark, sf_dir, lambda s: s % 256), 16, 16)
    return small.select(
        F.col("image_id").cast("long").alias("sid"),
        "w",
        "h",
        _pixel_checksum(F.col("bytes"), decoded=True).v_sum.alias("px_sum"),
    )


def q_patch_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision-training patch extraction: 32×32 deterministic images cut
    into a 2×2 grid of 16-px patches (narrow Arrow fan-out, the ViT
    prep shape); exact per-patch pixel sums, closed-form oracle."""
    from gdal_drivers_spark.operators.multimodal import patch_grid

    patches = patch_grid(_supplier_pattern_images(spark, sf_dir, lambda s: s % 256), patch=16)
    return patches.select(
        F.col("image_id").cast("long").alias("sid"),
        "py", "px", "w", _pixel_checksum(F.col("bytes"), decoded=True).v_sum.alias("px_sum"),
    )


_PATCH_GRID_ORACLE_SQL = """
    WITH g AS (SELECT unnest(generate_series(0, 15)) AS v),
    p AS (SELECT unnest(generate_series(0, 1)) AS i)
    SELECT s_suppkey AS sid, CAST(py.i AS INT) AS py, CAST(px.i AS INT) AS px, 16 AS w,
           CAST(sum(((px.i * 16 + gx.v) * 3 + (py.i * 16 + gy.v) * 5
                     + s_suppkey % 256) % 256) AS BIGINT) AS px_sum
    FROM supplier, p py, p px, g gx, g gy
    GROUP BY 1, 2, 3
"""


_MULTIMODAL_ORACLE_SQL = """
    WITH g AS (SELECT unnest(generate_series(0, 15)) AS v)
    SELECT s_suppkey AS sid, 16 AS w, 16 AS h,
           CAST(sum((2 * gx.v * 3 + 2 * gy.v * 5 + s_suppkey % 256) % 256) AS BIGINT) AS px_sum
    FROM supplier, g gx, g gy
    GROUP BY s_suppkey
"""


def q_feather_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (overlap-area kernel weighting, blender.cpp:601-624): the
    closed-form box-filter feather ramp evaluated by the engine's
    geometry kernel over a 16×16 pixel grid per supplier valid-rect;
    all-dyadic inputs make the weight sum exact, quantized ×4096. The
    oracle reproduces the clamped-ramp product relationally."""
    import numpy as np

    from gdal_drivers_spark.core.geometry import feather_weight

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey")

    i = (np.arange(16) + 0.5) / 16.0
    px, py = (c.ravel() for c in np.meshgrid(i, i))

    def wsum_q(k):
        vx0, vy0 = (k % 4) / 16.0, (k % 5) / 16.0
        w = feather_weight(px, py, vx0, vy0, vx0 + 0.5, vy0 + 0.5, 1 / 8, 1 / 8)
        return int(round(float(w.sum()) * 4096))

    return s.select(F.col("s_suppkey").alias("sid"),
                    row_udf(wsum_q, "long")(F.col("s_suppkey")).alias("wsum_q"))


_FEATHER_ORACLE_SQL = """
    WITH g AS (SELECT unnest(generate_series(0, 15)) AS i),
    px AS (
        SELECT s_suppkey AS sid,
               (gx.i + 0.5) / 16.0 AS px, (gy.i + 0.5) / 16.0 AS py,
               (s_suppkey % 4) / 16.0 AS vx0, (s_suppkey % 5) / 16.0 AS vy0
        FROM supplier, g gx, g gy
    )
    SELECT sid, CAST(round(4096 * sum(
        least(greatest((least(px + 0.125, vx0 + 0.5) - greatest(px - 0.125, vx0)) / 0.25, 0), 1)
      * least(greatest((least(py + 0.125, vy0 + 0.5) - greatest(py - 0.125, vy0)) / 0.25, 0), 1)
    )) AS BIGINT) AS wsum_q
    FROM px GROUP BY sid
"""


def q_zxy_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 (z-x-y path parse, mbtiles.cpp:63-110): strict regexp parse
    + casts + bounds check vs 2^z−1; malformed (every 11th) and
    out-of-bounds rows are dropped set-at-a-time."""
    from gdal_drivers_spark.operators.lookup import parse_requests

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    z = 3 + F.col("p_partkey") % 3
    x = (F.col("p_partkey") * 7) % 8
    y = (F.col("p_partkey") * 13) % 40
    paths = p.select(
        F.col("p_partkey").alias("k"),
        F.when(
            F.col("p_partkey") % 11 == 0, F.concat(F.lit("bad-"), F.col("p_partkey"))
        )
        .otherwise(F.concat_ws("-", z, x, y))
        .alias("path"),
    )
    return parse_requests(paths).select("k", "zoom", "x", "y")


_ZXY_ORACLE_SQL = """
    WITH paths AS (
        SELECT p_partkey AS k,
               CASE WHEN p_partkey % 11 = 0 THEN 'bad-' || p_partkey
                    ELSE (3 + p_partkey % 3) || '-' || ((p_partkey * 7) % 8)
                         || '-' || ((p_partkey * 13) % 40) END AS path
        FROM part
    ), parsed AS (
        SELECT k,
               TRY_CAST(regexp_extract(path, '^(\\d+)-(\\d+)-(\\d+)$', 1) AS INT) AS zoom,
               TRY_CAST(regexp_extract(path, '^(\\d+)-(\\d+)-(\\d+)$', 2) AS BIGINT) AS x,
               TRY_CAST(regexp_extract(path, '^(\\d+)-(\\d+)-(\\d+)$', 3) AS BIGINT) AS y
        FROM paths
    )
    SELECT k, zoom, x, y FROM parsed
    WHERE zoom IS NOT NULL AND x <= (1 << zoom) - 1 AND y <= (1 << zoom) - 1
"""


def q_gzip_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13+F11 (keyed fetch with gzip sniff, mbtiles.cpp:128-225): the
    tile store holds half its blobs gzipped (first byte 0x1f), half
    plain; fetch_tiles joins requests (TMS flip) and gunzips only what
    sniffs as gzip. Decompressed payloads are verified by exact length
    + byte sum."""
    import gzip as _gzip

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    hh = (F.col("p_partkey") * F.lit(2654435761)) % F.lit(1024)
    store_keys = (
        p.select(
            (hh % 32).alias("x"),
            (hh / 32).cast("long").alias("y"),
            F.col("p_partkey").alias("pk"),
        )
        .groupBy("x", "y")
        .agg(F.min("pk").alias("pk"))
        .withColumn("zoom", F.lit(5))
    )

    def _mk(g):
        for zoom, x, y, pk in zip(g["zoom"], g["x"], g["y"], g["pk"]):
            plain = (("tile-" + str(pk) + ";") * (pk % 3 + 1)).encode()
            yield zoom, x, y, _gzip.compress(plain, 6, mtime=0) if pk % 2 == 0 else plain

    store = run_batches(store_keys, ["zoom", "x", "y", "pk"], _mk,
                        "zoom int, x long, y long, tile_data binary")

    requests = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("req_id"),
        F.lit(5).alias("zoom"),
        ((F.col("s_suppkey") * 11) % 32).alias("x"),
        ((F.col("s_suppkey") * 5) % 32).alias("y"),
    )
    from gdal_drivers_spark.operators.lookup import fetch_tiles

    fetched = fetch_tiles(requests, store)

    return fetched.select(
        "req_id", "x", "y", F.length("tile_data").cast("long").alias("n_bytes"),
        _pixel_checksum(F.col("tile_data")).v_sum.alias("byte_sum"),
    )


_GZIP_ORACLE_SQL = """
    WITH store AS (
        SELECT ((p_partkey * 2654435761) % 1024) % 32 AS x,
               ((p_partkey * 2654435761) % 1024) // 32 AS tms_y,
               min(p_partkey) AS pk
        FROM part GROUP BY 1, 2
    ), req AS (
        SELECT s_suppkey AS req_id, (s_suppkey * 11) % 32 AS x,
               (s_suppkey * 5) % 32 AS y FROM supplier
    ), hit AS (
        SELECT req.req_id, req.x, req.y,
               repeat('tile-' || store.pk || ';', store.pk % 3 + 1) AS plain
        FROM req JOIN store ON store.x = req.x AND store.tms_y = 31 - req.y
    )
    SELECT req_id, x, y, CAST(length(plain) AS BIGINT) AS n_bytes,
           CAST(list_sum(list_transform(generate_series(1, length(plain)),
                i -> ascii(substr(plain, CAST(i AS INT), 1)))) AS BIGINT) AS byte_sum
    FROM hit
"""


def q_band_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5 (positional band zip, blender.cpp:519-523): two per-source
    band arrays zipped elementwise (arrays_zip — no shuffle), then a
    per-source dot-product rollup."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    a = F.array(*[F.col("n_nationkey") * 2 + j for j in range(3)])
    b = F.array(*[F.col("n_nationkey") * 3 + j for j in range(3)])
    z = n.select(
        F.col("n_nationkey").alias("nation"),
        F.explode(F.arrays_zip(a.alias("a"), b.alias("b"))).alias("ab"),
    )
    return z.groupBy("nation").agg(
        F.sum(F.col("ab.a") * F.col("ab.b")).alias("dot"),
        F.count("*").alias("n_bands"),
    )


_BANDZIP_ORACLE_SQL = """
    WITH j AS (SELECT unnest(generate_series(0, 2)) AS j)
    SELECT n_nationkey AS nation,
           CAST(sum((n_nationkey * 2 + j.j) * (n_nationkey * 3 + j.j)) AS BIGINT) AS dot,
           count(*) AS n_bands
    FROM nation, j GROUP BY n_nationkey
"""


def q_compat_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10 (multi-source compatibility gate, blender.cpp:120-185):
    every source's resolution must match the first source within
    ε=1e-4 and band counts must be equal; the gate evaluated
    relationally against the broadcast reference row."""
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    src = s.select(
        F.col("s_suppkey").alias("sid"),
        (
            F.lit(1.0 / 256)
            + F.when(F.col("s_suppkey") % 3 == 2, 1.0 / 2048)
            .when(F.col("s_suppkey") % 3 == 1, 1.0 / (1 << 22))
            .otherwise(0.0)
        ).alias("dx"),
        F.lit(-1.0 / 256).alias("dy"),
        (F.lit(3) + F.when(F.col("s_suppkey") % 7 == 0, 1).otherwise(0)).alias("nbands"),
    )
    ref = src.orderBy("sid").limit(1).select(
        F.col("dx").alias("ref_dx"), F.col("dy").alias("ref_dy"),
        F.col("nbands").alias("ref_nb"),
    )
    j = src.crossJoin(F.broadcast(ref))
    res_ok = (F.abs(F.col("dx") - F.col("ref_dx")) < 1e-4) & (
        F.abs(F.col("dy") - F.col("ref_dy")) < 1e-4
    )
    bands_ok = F.col("nbands") == F.col("ref_nb")
    return j.select(
        "sid",
        res_ok.alias("res_ok"),
        bands_ok.alias("bands_ok"),
        (res_ok & bands_ok).alias("compatible"),
    )


_COMPAT_ORACLE_SQL = """
    WITH src AS (
        SELECT s_suppkey AS sid,
               1.0 / 256 + CASE WHEN s_suppkey % 3 = 2 THEN 1.0 / 2048
                                WHEN s_suppkey % 3 = 1 THEN 1.0 / 4194304
                                ELSE 0.0 END AS dx,
               -1.0 / 256 AS dy,
               3 + CASE WHEN s_suppkey % 7 = 0 THEN 1 ELSE 0 END AS nbands
        FROM supplier
    ), ref AS (SELECT dx AS ref_dx, dy AS ref_dy, nbands AS ref_nb
               FROM src ORDER BY sid LIMIT 1)
    SELECT sid,
           (abs(dx - ref_dx) < 1e-4 AND abs(dy - ref_dy) < 1e-4) AS res_ok,
           nbands = ref_nb AS bands_ok,
           (abs(dx - ref_dx) < 1e-4 AND abs(dy - ref_dy) < 1e-4
            AND nbands = ref_nb) AS compatible
    FROM src, ref
"""


# ---------------------------------------------- training-data pipeline

def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ deterministic near-duplicates: every 5th doc repeated
    verbatim (exact dup) at id+1000000, every 7th truncated to its first
    (2n div 3) words (near dup) at id+2000000."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    trunc = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat_ws(
                " ", F.slice(toks, 1, F.expr("(2 * size(split(trim(lower(text)), '\\\\s+'))) div 3"))
            ).alias("text"),
        )
    )
    return d.unionByName(exact).unionByName(trunc)


_DUP_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000,
         array_to_string(
           (string_split_regex(trim(lower(text)), '\\s+'))
             [1:(2 * len(string_split_regex(trim(lower(text)), '\\s+'))) // 3],
           ' ')
  FROM documents WHERE doc_id % 7 = 0
"""


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.dedup import exact_dedup

    return exact_dedup(_dup_corpus(spark, sf_dir), "doc_id").filter(F.col("n_dups") > 1)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.dedup import lsh_candidate_pairs, minhash_signature

    sigs = minhash_signature(_dup_corpus(spark, sf_dir), n_hashes=16)
    return lsh_candidate_pairs(sigs, "doc_id", n_hashes=16, bands=4)


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.dedup import (
        exact_jaccard, lsh_candidate_pairs, minhash_signature, with_shingles,
    )

    corpus = _dup_corpus(spark, sf_dir)
    sigs = minhash_signature(corpus, n_hashes=16)
    pairs = lsh_candidate_pairs(sigs, "doc_id", n_hashes=16, bands=4)
    return (
        exact_jaccard(pairs, with_shingles(corpus), "doc_id")
        .filter(F.col("jaccard_pct") >= 50)
        .select("id1", "id2", "jaccard_pct")
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate CLUSTERS (the dedup closer at 100 TB): MinHash → LSH
    candidate pairs → connected components via iterative hash-min
    label propagation (O(log diameter) rounds, lineage truncated per
    round) → (doc_id, cluster_rep=min id in component, cluster_size).
    The oracle computes the same transitive closure with a recursive
    CTE over the identical SQL-derived pair set."""
    from gdal_drivers_spark.operators.dedup import dup_clusters

    return dup_clusters(
        _dup_corpus(spark, sf_dir), "doc_id", n_hashes=16, n_bands=4
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.dedup import simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash(docs.filter(F.col("doc_id") < 200), "doc_id")


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF tokens (keyword extraction for
    curation/topic sampling): explode → tf → smoothed idf → windowed
    top-k, integerized score (round(tf·idf·10⁶)) for engine parity."""
    from gdal_drivers_spark.operators.text import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 300
    )
    return tfidf_topk(docs, "doc_id", k=3)


_TFIDF_ORACLE_SQL = """
    WITH tok AS (
        SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents WHERE doc_id < 300
    ), tf AS (
        SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2
    ), nd AS (
        SELECT count(DISTINCT doc_id) AS n FROM documents WHERE doc_id < 300
    ), dfx AS (
        SELECT tok, count(*) AS df FROM tf GROUP BY tok
    ), idf AS (
        SELECT tok, ln((n + 1.0) / (df + 1.0)) + 1.0 AS idf FROM dfx, nd
    ), scored AS (
        SELECT t.doc_id, t.tok,
               CAST(round(t.tf * i.idf * 1e6) AS BIGINT) AS score_q6
        FROM tf t JOIN idf i ON t.tok = i.tok
    ), r AS (
        SELECT *, row_number() OVER (
            PARTITION BY doc_id ORDER BY score_q6 DESC, tok
        ) AS rank FROM scored
    )
    SELECT doc_id, tok, score_q6, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum rate sampling (curation primitive):
    pure codegen filter on a multiplicative key hash — zero shuffle,
    reproducible across runs and engines."""
    from gdal_drivers_spark.operators.sample import stratified_sample

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    out = stratified_sample(
        c, "c_mktsegment", {"BUILDING": 800, "AUTOMOBILE": 300},
        key="c_custkey", default_permille=100,
    )
    return out.select("c_custkey", "c_mktsegment")


_STRATIFIED_ORACLE_SQL = """
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE (c_custkey * 2654435761) % 4294967296 % 1000 <
          CASE c_mktsegment WHEN 'BUILDING' THEN 800
                            WHEN 'AUTOMOBILE' THEN 300 ELSE 100 END
"""


def q_stratified_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-stratum deterministic sampling (hash-ordered
    'reservoir'): one window on the stratum key."""
    from gdal_drivers_spark.operators.sample import stratified_fixed

    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    return stratified_fixed(c, "c_mktsegment", n=5, key="c_custkey")


_STRATIFIED_FIXED_ORACLE_SQL = """
    WITH r AS (
        SELECT c_custkey, c_mktsegment,
               row_number() OVER (
                   PARTITION BY c_mktsegment
                   ORDER BY (c_custkey * 2654435761) % 4294967296, c_custkey
               ) AS rk
        FROM customer
    )
    SELECT c_custkey, c_mktsegment FROM r WHERE rk <= 5
"""


def q_config_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/S7/F14 (config write → probe/parse, solid.cpp:53-88/176-205):
    per-nation job-spec dicts are rendered to INI text ON EXECUTORS,
    parsed back by the typed reader, and every typed field must
    survive (int, float, comma-list, string)."""
    from gdal_drivers_spark.engine import from_ini, to_ini

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet").select(
        "n_nationkey", "n_name"
    )

    def rt(g):
        for k, name in zip(g["n_nationkey"], g["n_name"]):
            cfg = {
                "size_x": 256 * (k % 4 + 1),
                "nodata": k / 2.0,
                "bands": [k % 3 + 1, 2, 7],
                "name": str(name),
            }
            parsed = from_ini(to_ini(cfg, section="solid"))["solid"]
            yield (k, int(parsed["size_x"]), float(parsed["nodata"]), int(parsed["bands"][0]),
                   len(parsed["bands"]), str(parsed["name"]))

    return run_batches(
        nat, ["n_nationkey", "n_name"], rt,
        "nation long, size_x long, nodata double, band0 long, n_bands int, name string",
    )


_CONFIG_ORACLE_SQL = """
    SELECT CAST(n_nationkey AS BIGINT) AS nation,
           CAST(256 * (n_nationkey % 4 + 1) AS BIGINT) AS size_x,
           CAST(n_nationkey AS DOUBLE) / 2.0 AS nodata,
           CAST(n_nationkey % 3 + 1 AS BIGINT) AS band0,
           CAST(3 AS INT) AS n_bands,
           n_name AS name
    FROM nation
"""


def q_schema_copy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 (CreateCopy, solid.cpp:276-328): derive a solid config from
    an existing tile table's schema (bands + dtypes + per-band
    colorinterp + tile size), with per-band COLOR creation values
    (solid.cpp:286-300) — band count, dtype, color interpretation and
    constant value per band must match the source schema exactly."""
    from gdal_drivers_spark.operators.solid import schema_copy

    nat = spark.read.parquet(f"{sf_dir}/nation.parquet")
    tiles = nat.select(
        F.explode(F.sequence(F.lit(0), F.lit(2))).alias("band")
    ).distinct().select(
        "band",
        F.element_at(
            F.array(F.lit("u8"), F.lit("u16"), F.lit("i32")), F.col("band") + 1
        ).alias("dtype"),
        F.element_at(
            F.array(F.lit("red"), F.lit("green"), F.lit("blue")), F.col("band") + 1
        ).alias("colorinterp"),
        F.lit(64).alias("ts"),
    )
    # COLOR options for bands 0 and 1 only; band 2 falls back to value
    cfg = schema_copy(tiles, value=9.0, colors=[11.0, 22.0])
    rows = [
        (int(b), str(dt), str(ci), float(v), int(cfg["tile_px"]))
        for b, (v, dt, ci) in enumerate(cfg["bands"])
    ]
    return spark.createDataFrame(
        rows, "band int, dtype string, colorinterp string, value double, tile_px int"
    )


_SCHEMA_COPY_ORACLE_SQL = """
    SELECT CAST(v.band AS INT) AS band, v.dtype, v.colorinterp,
           CAST(v.value AS DOUBLE) AS value, CAST(64 AS INT) AS tile_px
    FROM (VALUES (0, 'u8', 'red', 11.0), (1, 'u16', 'green', 22.0),
                 (2, 'i32', 'blue', 9.0)) v(band, dtype, colorinterp, value)
"""


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation composition (the LLM-data story in one
    plan): documents → quality stats filter (n_tokens ≥ 8, stopword
    ratio ≤ 60%) → language ID join → exact-dedup representatives only
    → deterministic 50% hash sample → (doc_id, pred_lang, n_tokens).
    Every stage is an engine operator; the oracle replays the whole
    composition in SQL. Plan: all joins on doc_id/hash keys, the
    sample is a filter, nothing wider than the documents scan."""
    from gdal_drivers_spark.operators.dedup import exact_dedup
    from gdal_drivers_spark.operators.sample import hash_sample
    from gdal_drivers_spark.operators.text import lang_id, token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    stats = token_stats(docs, "doc_id").filter(
        (F.col("n_tokens") >= 8) & (F.col("stop_pct") <= 60)
    )
    langs = lang_id(docs, "doc_id")
    reps = exact_dedup(docs, "doc_id").select(F.col("rep_id").alias("doc_id"))
    picked = (
        stats.join(langs, "doc_id")
        .join(reps, "doc_id")
    )
    return hash_sample(picked, 500, "doc_id").select(
        "doc_id", "pred_lang", "n_tokens"
    )


_CURATION_ORACLE_SQL = """
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS a, text
        FROM documents
    ), stats AS (
        SELECT doc_id,
               CAST(len(a) AS BIGINT) AS n_tokens,
               (100 * len(list_filter(a, x -> x IN ('the','a','of','to','in'))))
                   // len(a) AS stop_pct
        FROM t
    ), toks AS (
        SELECT doc_id, unnest(a) AS tok FROM t
    ), lscore AS (
        SELECT doc_id, l.lang,
               CAST(sum(CASE WHEN list_contains(l.markers, tok) THEN 1 ELSE 0 END) AS BIGINT) AS score
        FROM toks, (VALUES ('lang_a', ['the','a','row','key']),
                           ('lang_b', ['table','join','query','merge']),
                           ('lang_c', ['fast','slow','small','big'])) l(lang, markers)
        GROUP BY doc_id, l.lang
    ), lwin AS (
        SELECT doc_id, lang AS pred_lang,
               row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, lang) AS rn
        FROM lscore
    ), reps AS (
        SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT s.doc_id, w.pred_lang, s.n_tokens
    FROM stats s
    JOIN lwin w ON w.doc_id = s.doc_id AND w.rn = 1
    JOIN reps r ON r.doc_id = s.doc_id
    WHERE s.n_tokens >= 8 AND s.stop_pct <= 60
      AND (s.doc_id * 2654435761) % 4294967296 % 1000 < 500
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.text import token_stats

    return token_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.text import lang_id

    return lang_id(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.text import fingerprint

    return fingerprint(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")


def q_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, whitespace + BPE-ish regex (GPT-2-style class
    split: letter runs / digit runs / single punctuation) — all
    JVM-side regexp_extract_all, oracle-identical in DuckDB."""
    from gdal_drivers_spark.operators.text import regex_token_stats

    return regex_token_stats(spark.read.parquet(f"{sf_dir}/documents.parquet"), "doc_id")


_BPE_ORACLE_SQL = """
    WITH t AS (
        SELECT doc_id, trim(lower(text)) AS s FROM documents
    ), tok AS (
        SELECT doc_id,
               string_split_regex(s, '\\s+') AS ws,
               regexp_extract_all(s, '[a-z]+|[0-9]+|[^a-z0-9 \\t\\n]') AS bpe
        FROM t
    )
    SELECT doc_id,
           CAST(len(ws) AS BIGINT) AS n_ws,
           CAST(len(bpe) AS BIGINT) AS n_bpe,
           CAST(len(list_filter(bpe, x -> regexp_matches(x, '^[a-z]+$'))) AS BIGINT) AS n_alpha,
           CAST(len(list_filter(bpe, x -> regexp_matches(x, '^[0-9]+$'))) AS BIGINT) AS n_num,
           CAST(len(bpe)
              - len(list_filter(bpe, x -> regexp_matches(x, '^[a-z]+$')))
              - len(list_filter(bpe, x -> regexp_matches(x, '^[0-9]+$'))) AS BIGINT) AS n_other
    FROM tok
"""


def q_skew_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive cell split (skew handling, the distributed form of
    mask.cpp:246-248 node subdivision): a deterministic hot cell
    (¼ of all orders land in z=4 cell (3,3)) exceeds the threshold and
    descends one level, children routed by footprint midpoint; the
    census after splitting is the oracle-checked output."""
    from gdal_drivers_spark.core.qcell import pack_col
    from gdal_drivers_spark.plans.skew import split_hot_cells

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    k = F.col("o_orderkey")
    hot = k % 4 == 0
    h = (k * 2654435761) % 256
    cx = F.when(hot, 3).otherwise(h % 16)
    cy = F.when(hot, 3).otherwise((h.cast("long") / 16).cast("long"))
    midx = (
        F.when(hot, (cx + 0.25 + 0.5 * F.expr("(o_orderkey div 4) % 2")))
        .otherwise(cx + 0.5)
        / 16.0
    )
    midy = (
        F.when(hot, (cy + 0.25 + 0.5 * F.expr("(o_orderkey div 8) % 2")))
        .otherwise(cy + 0.5)
        / 16.0
    )
    df = o.select(
        k.alias("k"),
        pack_col(4, cx, cy).alias("cell"),
        midx.alias("x0"), midy.alias("y0"), midx.alias("x1"), midy.alias("y1"),
    )
    # threshold: hot cell (~n/4 rows) splits once; its 4 children
    # (~n/16 each) stay under — exactly one split round by construction
    n_rows = o.count()
    out = split_hot_cells(df, threshold=max(n_rows // 8, 8), max_rounds=3)
    return (
        out.groupBy("cell")
        .agg(F.count("*").alias("n"))
        .select(
            F.shiftright(F.col("cell"), 52).cast("int").alias("z"),
            (F.shiftright(F.col("cell"), 26) % F.lit(1 << 26)).alias("x"),
            (F.col("cell") % F.lit(1 << 26)).alias("y"),
            "n",
        )
    )


_SKEW_ORACLE_SQL = """
    WITH r AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 4 = 0 THEN 3
                    ELSE ((o_orderkey * 2654435761) % 256) % 16 END AS cx,
               CASE WHEN o_orderkey % 4 = 0 THEN 3
                    ELSE ((o_orderkey * 2654435761) % 256) // 16 END AS cy
        FROM orders
    ), spl AS (
        SELECT k,
               CASE WHEN cx = 3 AND cy = 3 THEN 5 ELSE 4 END AS z,
               CASE WHEN cx = 3 AND cy = 3 THEN
                    CASE WHEN k % 4 = 0 THEN 6 + (k // 4) % 2 ELSE 7 END
                    ELSE cx END AS x,
               CASE WHEN cx = 3 AND cy = 3 THEN
                    CASE WHEN k % 4 = 0 THEN 6 + (k // 8) % 2 ELSE 7 END
                    ELSE cy END AS y
        FROM r
    )
    SELECT z, x, y, count(*) AS n FROM spl GROUP BY 1, 2, 3
"""


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.similarity import brute_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    return brute_topk(qs, corpus, k=5)


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: multi-table sign-LSH (4 independent tables of 8
    deterministic integer pseudo-hyperplanes — no runtime RNG; the
    multiplicative-hash plane family, similarity.py:_plane_sign) —
    union of same-bucket candidates over tables, then exact integer
    top-k. Fully reproducible, so unlike typical LSH this has a
    bit-exact SQL oracle (plane signs, bucket ids, table union and
    ranking all recomputed relationally by DuckDB). Recall@5 vs brute
    force: 0.88 on this fixture (test_pipeline_ops)."""
    from gdal_drivers_spark.operators.similarity import lsh_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    return lsh_topk(qs, corpus, dim=64, k=5, n_tables=4)


def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN IVF-Flat scale path: corpus bucketed into inverted lists by
    nearest data-derived centroid (every 64th vector — deterministic,
    no RNG), queries probe their nprobe=2 nearest lists, exact integer
    scoring inside the probed lists. List assignment is a broadcast
    join + map-side max_by partial agg (shuffle = 1 row per vector);
    the probe join touches |corpus|·nprobe/n_lists rows instead of the
    brute-force |Q|×|corpus|. Bit-exact SQL oracle recomputes the same
    assignment, probing and ranking."""
    from gdal_drivers_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cents = emb.filter(F.col("vec_id") % 64 == 0).select(
        (F.col("vec_id") / 64).cast("long").alias("list_id"),
        F.col("embedding").alias("center"),
    )
    return ivf_topk(qs, corpus, cents, k=5, nprobe=2)


_ANN_IVF_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), cents AS (
        SELECT vec_id // 64 AS lid, q AS cv FROM e WHERE vec_id % 64 = 0
    ), asg AS (
        SELECT vec_id, q, lid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, lid) AS rn
        FROM (
            SELECT e.vec_id, e.q, c.lid,
                   CAST(list_sum(list_transform(generate_series(1, 64), i -> e.q[i] * c.cv[i])) AS BIGINT) AS dot
            FROM e, cents c
        )
    ), lists AS (
        SELECT vec_id AS cid, q AS cv, lid FROM asg WHERE rn = 1
    ), qs AS (
        SELECT vec_id AS qid, q AS qv FROM e WHERE vec_id < 10
    ), probes AS (
        SELECT qid, qv, lid FROM (
            SELECT qs.qid, qs.qv, c.lid,
                   row_number() OVER (
                       PARTITION BY qs.qid
                       ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> qs.qv[i] * c.cv[i])) AS BIGINT) DESC,
                                c.lid
                   ) AS rn
            FROM qs, cents c
        ) WHERE rn <= 2
    ), scored AS (
        SELECT p.qid, l.cid,
               CAST(list_sum(list_transform(generate_series(1, 64), i -> p.qv[i] * l.cv[i])) AS BIGINT) AS dot_q
        FROM probes p JOIN lists l ON p.lid = l.lid
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, cid) AS rank
        FROM scored
    )
    SELECT qid, cid, dot_q, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


def q_ann_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF list-balance census (r05, similarity.index_stats): vectors
    per inverted list + each list's corpus share in ppm — the skew
    diagnosis for probe cost at 10¹² vectors (a hot list makes every
    probe touching it scan its whole run). Same deterministic
    assignment as ann_ivf (every-64th-vector centroids, max quantized
    dot, ties → smaller list); the census itself is one partial-
    aggregated groupBy over the index frame and exact INTEGER division
    (n·10⁶ div total), so the oracle is bit-exact by construction."""
    from gdal_drivers_spark.operators.similarity import index_stats, ivf_assign

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cents = emb.filter(F.col("vec_id") % 64 == 0).select(
        (F.col("vec_id") / 64).cast("long").alias("list_id"),
        F.col("embedding").alias("center"),
    )
    return index_stats(ivf_assign(corpus, cents))


_ANN_INDEX_STATS_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), cents AS (
        SELECT vec_id // 64 AS lid, q AS cv FROM e WHERE vec_id % 64 = 0
    ), asg AS (
        SELECT vec_id, lid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, lid) AS rn
        FROM (
            SELECT e.vec_id, c.lid,
                   CAST(list_sum(list_transform(generate_series(1, 64), i -> e.q[i] * c.cv[i])) AS BIGINT) AS dot
            FROM e, cents c
        )
    ), counts AS (
        SELECT lid AS list_id, CAST(count(*) AS BIGINT) AS n_vectors
        FROM asg WHERE rn = 1 GROUP BY lid
    )
    SELECT list_id, n_vectors,
           CAST(n_vectors * 1000000 // (SELECT SUM(n_vectors) FROM counts) AS BIGINT) AS ppm
    FROM counts
"""


def q_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (the standard 10^12-vector design, Jégou et
    al. 2011 §III): coarse probe (every-64th-vector centroids,
    nprobe=2) × RESIDUAL PQ compression (r04 — 16 codewords built from
    the residuals x − centroid of every 32nd vector, m=8) × ADC
    scoring inside the probed lists only, with the exact per-list
    offset dot(q, centroid) the probe ranking already computed.
    Deterministic end-to-end → the oracle replays list assignment,
    residual codebook, residual encode, probing and offset ADC ranking
    in SQL."""
    from gdal_drivers_spark.operators.similarity import ivfpq_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cents = emb.filter(F.col("vec_id") % 64 == 0).select(
        (F.col("vec_id") / 64).cast("long").alias("list_id"),
        F.col("embedding").alias("center"),
    )
    # residual codebook: residuals of the first 16 every-32nd vectors
    # w.r.t. their assigned centroids, in vec_id order (code_id =
    # vec_id // 32 — the ordering the oracle replays; the spread-hash
    # sampler ivfpq_codewords_from_sample is the production entry,
    # exercised with a recall property in test_pipeline_ops). ncodes
    # is CAPPED at 16 like a real deployment — an uncapped %32 rule
    # grew the codebook (hence the per-subspace argmin expression)
    # linearly with corpus size, which is codegen blow-up, not the
    # serving path (r04 bench: 13.6 s → expression-bound)
    from gdal_drivers_spark.operators.similarity import ivf_assign, quantize

    sub = emb.filter(((F.col("vec_id") % 32) == 0) & (F.col("vec_id") < 512)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    qcents = cents.select("list_id", quantize(F.col("center")).alias("_ctv"))
    cb_rows = (
        ivf_assign(sub, cents)
        .join(F.broadcast(qcents), "list_id")
        .select(
            "cid",
            F.zip_with(F.col("_cv"), F.col("_ctv"), lambda a, b: a - b).alias("r"),
        )
        .orderBy("cid")
        .collect()
    )
    codewords = [[int(v) for v in r["r"]] for r in cb_rows]
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivfpq_topk(qs, corpus, cents, codewords, m=8, k=5, nprobe=2)


_ANN_IVFPQ_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), cents AS (
        SELECT vec_id // 64 AS lid, q AS cv FROM e WHERE vec_id % 64 = 0
    ), asg AS (
        SELECT vec_id, lid FROM (
            SELECT e.vec_id, c.lid,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       CAST(list_sum(list_transform(generate_series(1, 64), i -> e.q[i] * c.cv[i])) AS BIGINT) DESC,
                       c.lid) AS rn
            FROM e, cents c
        ) WHERE rn = 1
    ), res AS (
        -- residual x - centroid(assigned list), exact ints (r04)
        SELECT a.vec_id, a.lid,
               list_transform(generate_series(1, 64), i -> e.q[i] - c.cv[i]) AS r
        FROM asg a JOIN e ON e.vec_id = a.vec_id JOIN cents c ON c.lid = a.lid
    ), cb AS (
        SELECT vec_id // 32 AS code_id, r AS bv
        FROM res WHERE vec_id % 32 = 0 AND vec_id < 512
    ), enc AS (
        SELECT vec_id, sub, code_id FROM (
            SELECT res.vec_id, s.sub, cb.code_id,
                   row_number() OVER (PARTITION BY res.vec_id, s.sub ORDER BY
                       CAST(list_sum(list_transform(generate_series(1, 8),
                            i -> (res.r[s.sub*8+i] - cb.bv[s.sub*8+i]) * (res.r[s.sub*8+i] - cb.bv[s.sub*8+i]))) AS BIGINT),
                       cb.code_id) AS rn
            FROM res, generate_series(0, 7) s(sub), cb
        ) WHERE rn = 1
    ), qs AS (
        SELECT vec_id AS qid, q AS qv FROM e WHERE vec_id < 10
    ), probes AS (
        SELECT qid, lid, d FROM (
            SELECT qs.qid, c.lid,
                   CAST(list_sum(list_transform(generate_series(1, 64), i -> qs.qv[i] * c.cv[i])) AS BIGINT) AS d,
                   row_number() OVER (PARTITION BY qs.qid ORDER BY
                       CAST(list_sum(list_transform(generate_series(1, 64), i -> qs.qv[i] * c.cv[i])) AS BIGINT) DESC,
                       c.lid) AS rn
            FROM qs, cents c
        ) WHERE rn <= 2
    ), tab AS (
        SELECT qs.qid, s.sub, cb.code_id,
               CAST(list_sum(list_transform(generate_series(1, 8),
                    i -> qs.qv[s.sub*8+i] * cb.bv[s.sub*8+i])) AS BIGINT) AS t
        FROM qs, generate_series(0, 7) s(sub), cb
    ), scored AS (
        -- residual decomposition: dot(q, x) ~ dot(q, centroid) + ADC(residual)
        SELECT p.qid, a.vec_id AS cid, CAST(p.d + SUM(t.t) AS BIGINT) AS adc_q
        FROM probes p
        JOIN asg a ON a.lid = p.lid
        JOIN enc ON enc.vec_id = a.vec_id
        JOIN tab t ON t.qid = p.qid AND t.sub = enc.sub AND t.code_id = enc.code_id
        GROUP BY p.qid, a.vec_id, p.d
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_q DESC, cid) AS rank
        FROM scored
    )
    SELECT qid, cid, adc_q, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


def _sweep_stale_indexes(spark: SparkSession, prefix: str) -> None:
    """Reap pid-keyed index tables/dirs left by EARLIER harness
    processes (r05 review: the per-pid names that fixed the
    concurrent-run clobber are never dropped by their owner — the
    returned DataFrame still reads the index files after the query
    function exits — so each run would otherwise leak an index-sized
    /tmp copy plus a catalog entry). Only siblings whose owning pid is
    DEAD are touched; a live concurrent run keeps its index."""
    import glob as _glob
    import os as _os
    import re as _re
    import shutil as _shutil

    names = {_os.path.basename(d) for d in _glob.glob(f"/tmp/{prefix}*_p[0-9]*")}
    names |= {t.name for t in spark.catalog.listTables()
              if t.name.startswith(prefix)}
    for name in names:
        m = _re.search(r"_p(\d+)$", name)
        if not m or int(m.group(1)) == _os.getpid():
            continue
        try:
            _os.kill(int(m.group(1)), 0)
            continue  # owner still alive — not ours to reap
        except ProcessLookupError:
            pass
        except PermissionError:
            continue
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        _shutil.rmtree(f"/tmp/{name}", ignore_errors=True)


def q_ann_index_reuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index lifecycle (r04, VERDICT #1): the IVF index is built
    ONCE (``ivf_assign``), PERSISTED bucketed by list_id
    (``write_ivf_index`` → the layout contract), and TWO independent
    query batches are served from the materialized table — the corpus
    parquet is never re-scanned or re-quantized at query time (the
    plan-level no-second-scan assert lives in
    test_pipeline_ops::test_ivf_index_reuse_no_corpus_rescan). Values
    must equal the inline-assignment path exactly, which is what the
    oracle replays (same SQL as ann_ivf, two query windows)."""
    from gdal_drivers_spark.operators.similarity import (
        ivf_assign, ivf_topk, write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cents = emb.filter(F.col("vec_id") % 64 == 0).select(
        (F.col("vec_id") / 64).cast("long").alias("list_id"),
        F.col("embedding").alias("center"),
    )
    # index build + persist (once; overwrite keeps the query
    # rerunnable). Path and table are KEYED BY SCALE DIR so two
    # harness runs at different scales can never clobber each other's
    # live index mid-read (r04 review), AND by pid so two CONCURRENT
    # harness runs at the same scale don't overwrite each other's live
    # /tmp index / shared-warehouse catalog entry mid-read — a
    # saveAsTable overwrite from a run that dies mid-write could also
    # leave a stale catalog entry under a shared name (ADVICE r04)
    import os as _os
    import re as _re

    tag = _re.sub(r"\W+", "_", sf_dir.strip("/"))
    _sweep_stale_indexes(spark, "gds_ann_index_reuse_")
    table = f"gds_ann_index_reuse_{tag}_p{_os.getpid()}"
    write_ivf_index(
        ivf_assign(corpus, cents),
        table=table,
        path=f"/tmp/{table}",
        buckets=8,
    )
    lists = spark.table(table)
    out = []
    for batch, (lo, hi) in enumerate(((0, 10), (10, 20)), start=1):
        qs = emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
        )
        out.append(
            ivf_topk(qs, None, cents, k=5, nprobe=2, lists=lists)
            .withColumn("batch", F.lit(batch).cast("int"))
        )
    return out[0].unionByName(out[1])


_ANN_INDEX_REUSE_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), cents AS (
        SELECT vec_id // 64 AS lid, q AS cv FROM e WHERE vec_id % 64 = 0
    ), asg AS (
        SELECT vec_id, q, lid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, lid) AS rn
        FROM (
            SELECT e.vec_id, e.q, c.lid,
                   CAST(list_sum(list_transform(generate_series(1, 64), i -> e.q[i] * c.cv[i])) AS BIGINT) AS dot
            FROM e, cents c
        )
    ), lists AS (
        SELECT vec_id AS cid, q AS cv, lid FROM asg WHERE rn = 1
    ), qs AS (
        SELECT CASE WHEN vec_id < 10 THEN 1 ELSE 2 END AS batch,
               vec_id AS qid, q AS qv
        FROM e WHERE vec_id < 20
    ), probes AS (
        SELECT batch, qid, qv, lid FROM (
            SELECT qs.batch, qs.qid, qs.qv, c.lid,
                   row_number() OVER (
                       PARTITION BY qs.qid
                       ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> qs.qv[i] * c.cv[i])) AS BIGINT) DESC,
                                c.lid
                   ) AS rn
            FROM qs, cents c
        ) WHERE rn <= 2
    ), scored AS (
        SELECT p.batch, p.qid, l.cid,
               CAST(list_sum(list_transform(generate_series(1, 64), i -> p.qv[i] * l.cv[i])) AS BIGINT) AS dot_q
        FROM probes p JOIN lists l ON p.lid = l.lid
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, cid) AS rank
        FROM scored
    )
    SELECT qid, cid, dot_q, CAST(rank AS INT) AS rank, CAST(batch AS INT) AS batch
    FROM r WHERE rank <= 5
"""


def q_ann_index_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN incremental index append (r05, VERDICT #5): a 100 TB corpus
    ingests continuously — the index over the BASE corpus (vec_id % 4
    != 0) is built and persisted once; the DELTA (vec_id % 4 == 0,
    interleaved so it lands in every inverted list) is assigned alone
    and appended into the same bucketed layout
    (``append_to_ivf_index`` — base files byte-untouched, asserted in
    tests/test_pipeline_ops.py::test_append_to_ivf_index_incremental);
    a query batch served from the union must equal the ONE-SHOT
    full-corpus build bit-exactly, which is what the oracle replays
    (inline IVF over the whole corpus — base ∪ delta IS the corpus)."""
    from gdal_drivers_spark.operators.similarity import (
        append_to_ivf_index, ivf_assign, ivf_topk, write_ivf_index,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cents = emb.filter(F.col("vec_id") % 64 == 0).select(
        (F.col("vec_id") / 64).cast("long").alias("list_id"),
        F.col("embedding").alias("center"),
    )
    import os as _os
    import re as _re

    tag = _re.sub(r"\W+", "_", sf_dir.strip("/"))
    _sweep_stale_indexes(spark, "gds_ann_index_append_")
    table = f"gds_ann_index_append_{tag}_p{_os.getpid()}"
    write_ivf_index(
        ivf_assign(corpus.filter(F.col("cid") % 4 != 0), cents),
        table=table, path=f"/tmp/{table}", buckets=8,
    )
    append_to_ivf_index(
        ivf_assign(corpus.filter(F.col("cid") % 4 == 0), cents), table
    )
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return ivf_topk(qs, None, cents, k=5, nprobe=2,
                    lists=spark.table(table))


_ANN_INDEX_APPEND_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), cents AS (
        SELECT vec_id // 64 AS lid, q AS cv FROM e WHERE vec_id % 64 = 0
    ), asg AS (
        SELECT vec_id, q, lid,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, lid) AS rn
        FROM (
            SELECT e.vec_id, e.q, c.lid,
                   CAST(list_sum(list_transform(generate_series(1, 64), i -> e.q[i] * c.cv[i])) AS BIGINT) AS dot
            FROM e, cents c
        )
    ), lists AS (
        SELECT vec_id AS cid, q AS cv, lid FROM asg WHERE rn = 1
    ), qs AS (
        SELECT vec_id AS qid, q AS qv FROM e WHERE vec_id < 10
    ), probes AS (
        SELECT qid, qv, lid FROM (
            SELECT qs.qid, qs.qv, c.lid,
                   row_number() OVER (
                       PARTITION BY qs.qid
                       ORDER BY CAST(list_sum(list_transform(generate_series(1, 64), i -> qs.qv[i] * c.cv[i])) AS BIGINT) DESC,
                                c.lid
                   ) AS rn
            FROM qs, cents c
        ) WHERE rn <= 2
    ), scored AS (
        SELECT p.qid, l.cid,
               CAST(list_sum(list_transform(generate_series(1, 64), i -> p.qv[i] * l.cv[i])) AS BIGINT) AS dot_q
        FROM probes p JOIN lists l ON p.lid = l.lid
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, cid) AS rank
        FROM scored
    )
    SELECT qid, cid, dot_q, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 5
"""


def q_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio modality, REAL (r03): deterministic 16-bit PCM clips
    (sample i of supplier k = ((k·7 + i·31) mod 4096) − 2048, length
    256 + k mod 128) are encoded to genuine RIFF/WAV bytes on
    executors, decoded back through the from-scratch WAV reader
    (multimodal.decode_wav), and reduced to exact integer features;
    rms = sqrt(sq_sum/n) is one IEEE expression over exact ints. The
    oracle regenerates the samples relationally — the whole
    encode→decode→feature chain must be lossless for the hash to
    match."""
    import numpy as np

    from gdal_drivers_spark.operators.multimodal import audio_features, encode_wav

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey")

    def gen(g):
        for k in g["s_suppkey"]:
            i = np.arange(256 + k % 128, dtype=np.int64)
            v = ((k * 7 + i * 31) % 4096 - 2048).astype(np.int16)
            yield str(k), encode_wav(v, rate=16000)

    clips = run_batches(supp, ["s_suppkey"], gen, "audio_id string, bytes binary")
    return audio_features(clips).select(
        F.col("audio_id").cast("long").alias("k"),
        "n_samples",
        "sample_rate",
        "sq_sum",
        "rms",
        "peak",
    )


_AUDIO_ORACLE_SQL = """
    WITH s AS (
        SELECT s_suppkey AS k, 256 + s_suppkey % 128 AS n FROM supplier
    ), samp AS (
        -- this DuckDB build lacks correlated generate_series: expand
        -- to the max clip length (383) and filter per clip
        SELECT s.k, s.n, ((s.k * 7 + i.i * 31) % 4096) - 2048 AS v
        FROM s, generate_series(0, 382) i(i)
        WHERE i.i < s.n
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(n AS BIGINT) AS n_samples,
           CAST(16000 AS INT) AS sample_rate,
           CAST(SUM(v * v) AS BIGINT) AS sq_sum,
           sqrt(CAST(SUM(v * v) AS DOUBLE) / CAST(n AS DOUBLE)) AS rms,
           CAST(MAX(ABS(v)) AS INT) AS peak
    FROM samp GROUP BY k, n
"""


def q_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN product quantization (Jégou et al. 2011 — the memory path
    at 10^12 vectors): 16 deterministic codewords (every 32nd vector),
    m=8 subspaces of 8 components; corpus vectors encode to 8 sub-codes
    in a ZERO-SHUFFLE narrow map (literal codebook, array_min argmin);
    queries score by asymmetric distance — m table lookups per corpus
    row, never a dim-length dot against the corpus. Every step is
    exact integer arithmetic over the quantized embeddings, so encode
    AND ADC ranking replay bit-exact in SQL."""
    from gdal_drivers_spark.operators.similarity import pq_encode, pq_topk, quantize

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    # ncodes capped at 16 like a real deployment (r04 — an uncapped
    # %32 rule grew the per-subspace argmin expression with corpus
    # size: codegen blow-up, not the serving path)
    cb_rows = (
        emb.filter(((F.col("vec_id") % 32) == 0) & (F.col("vec_id") < 512))
        .select("vec_id", quantize(F.col("embedding")).alias("q"))
        .orderBy("vec_id")
        .collect()
    )
    codewords = [[int(v) for v in r["q"]] for r in cb_rows]
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    encoded = pq_encode(corpus, codewords, m=8)
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    return pq_topk(qs, encoded, codewords, m=8, k=5)


_ANN_PQ_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), cb AS (
        SELECT vec_id // 32 AS code_id, q AS bv
        FROM e WHERE vec_id % 32 = 0 AND vec_id < 512
    ), enc AS (
        SELECT vec_id, sub, code_id FROM (
            SELECT e.vec_id, s.sub, cb.code_id,
                   row_number() OVER (PARTITION BY e.vec_id, s.sub ORDER BY
                       CAST(list_sum(list_transform(generate_series(1, 8),
                            i -> (e.q[s.sub*8+i] - cb.bv[s.sub*8+i]) * (e.q[s.sub*8+i] - cb.bv[s.sub*8+i]))) AS BIGINT),
                       cb.code_id) AS rn
            FROM e, generate_series(0, 7) s(sub), cb
        ) WHERE rn = 1
    ), tab AS (
        SELECT qe.vec_id AS qid, s.sub, cb.code_id,
               CAST(list_sum(list_transform(generate_series(1, 8),
                    i -> qe.q[s.sub*8+i] * cb.bv[s.sub*8+i])) AS BIGINT) AS t
        FROM e qe, generate_series(0, 7) s(sub), cb
        WHERE qe.vec_id < 10
    ), scored AS (
        SELECT tab.qid, enc.vec_id AS cid, CAST(SUM(tab.t) AS BIGINT) AS adc_q
        FROM enc JOIN tab ON tab.sub = enc.sub AND tab.code_id = enc.code_id
        GROUP BY 1, 2
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY adc_q DESC, cid) AS rank
        FROM scored
    )
    SELECT qid, cid, adc_q, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


def q_ann_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: dot and squared norms are exact integers
    over the quantized embeddings, so cos = dot/sqrt(n1·n2) is one
    correctly-rounded IEEE double expression — identical in Spark and
    DuckDB; reported as round(cos·10⁶)."""
    from gdal_drivers_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    return cosine_topk(qs, corpus, k=5)


_ANN_COSINE_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), n AS (
        SELECT vec_id, q,
               CAST(list_sum(list_transform(generate_series(1, 64), i -> q[i] * q[i])) AS BIGINT) AS nn
        FROM e
    ), qs AS (SELECT vec_id AS qid, q AS qv, nn AS n1 FROM n WHERE vec_id < 10),
    scored AS (
        SELECT qs.qid, n.vec_id AS cid,
               CAST(round(
                   CAST(list_sum(list_transform(generate_series(1, 64), i -> qs.qv[i] * n.q[i])) AS BIGINT)
                   / sqrt(CAST(qs.n1 AS DOUBLE) * CAST(n.nn AS DOUBLE)) * 1e6
               ) AS BIGINT) AS cos_q6
        FROM qs, n
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos_q6 DESC, cid) AS rank
        FROM scored
    )
    SELECT qid, cid, cos_q6, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


def q_unknown_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: UNKNOWN-type features are skipped during decode
    (mvt.cpp:526-533). Per supplier: one point, one linestring, one
    UNKNOWN feature (valid geometry stream, geom_type=0) — the decoder
    must drop exactly the UNKNOWN third. Oracle recomputes the
    surviving per-type counts and fid sums relationally."""
    import numpy as np

    from gdal_drivers_spark.core import mvtcodec, mvtproto
    from gdal_drivers_spark.operators.mvt import decode_features

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey")

    def gen(g):
        for s in g["s_suppkey"]:
            pts = np.array([[(s * 7) % 256, (s * 11) % 256]], np.int64)
            line = np.array(
                [[s % 256, (s * 3) % 256], [(s + 5) % 256, (s * 3 + 9) % 256]], np.int64
            )
            pt_stream = mvtcodec.encode_geometry(mvtcodec.GEOM_POINT, [pts]).tolist()
            feats = [
                {"id": 3 * s + 1, "tags": [], "geom_type": mvtcodec.GEOM_POINT,
                 "geometry": pt_stream},
                {"id": 3 * s + 2, "tags": [], "geom_type": mvtcodec.GEOM_LINESTRING,
                 "geometry": mvtcodec.encode_geometry(mvtcodec.GEOM_LINESTRING, [line]).tolist()},
                # UNKNOWN: well-formed stream, type 0 — must be dropped
                {"id": 3 * s + 3, "tags": [], "geom_type": mvtcodec.GEOM_UNKNOWN,
                 "geometry": pt_stream},
            ]
            yield 1, s % 2, (s * 3) % 2, mvtproto.encode_tile([{
                "name": "mixed", "extent": 256, "version": 2, "keys": [], "values": [],
                "features": feats}])

    return (
        decode_features(run_batches(supp, ["s_suppkey"], gen, _TILE_ROWS))
        .groupBy("geom_type")
        .agg(F.count("*").alias("n_features"), F.sum("fid").alias("sum_fid"))
    )


_UNKNOWN_FILTER_ORACLE_SQL = """
    SELECT 'point' AS geom_type, count(*) AS n_features,
           CAST(sum(3 * s_suppkey + 1) AS BIGINT) AS sum_fid FROM supplier
    UNION ALL
    SELECT 'linestring', count(*), CAST(sum(3 * s_suppkey + 2) AS BIGINT) FROM supplier
"""


def q_remote_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: remote tile scan (mvt.cpp:699-730) with retry/backoff and
    per-row status — driven by a deterministic in-process transport
    (sandbox has no network): x%3 transient 503s before the real
    answer, (x+y)%7==0 → terminal 404, payloads are single-byte runs,
    gzipped when y is even (gunzip sniff per mbtiles.cpp:214-224).
    Malformed URLs (k%17==0) are dropped by the URL grammar. The
    oracle recomputes statuses, attempt counts and payload shapes
    relationally."""
    from gdal_drivers_spark.sources.remote import fetch_remote_tiles

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    reqs = part.select(
        F.when(
            F.col("p_partkey") % 17 == 0, F.lit("http://tiles.example/malformed")
        )
        .otherwise(
            F.concat(
                F.lit("http://tiles.example/3-"),
                (F.col("p_partkey") % 8).cast("string"),
                F.lit("-"),
                ((F.col("p_partkey") * 3) % 8).cast("string"),
                F.lit(".mvt"),
            )
        )
        .alias("url")
    )

    def fake_transport(url: str, attempt: int) -> tuple[int, bytes]:
        import gzip as _gz
        import re as _re

        m = _re.search(r"/3-(\d+)-(\d+)\.mvt$", url)
        x, y = int(m.group(1)), int(m.group(2))
        if attempt < x % 3:
            return 503, b""
        if (x + y) % 7 == 0:
            return 404, b""
        raw = bytes([(x * 8 + y) % 251]) * ((x + y) % 19 + 1)
        return 200, _gz.compress(raw) if y % 2 == 0 else raw

    fetched = fetch_remote_tiles(reqs, transport=fake_transport, backoff_s=0.001)
    return fetched.select(
        "x",
        "y",
        "status",
        "n_attempts",
        F.length("tile_data").cast("long").alias("n_bytes"),
        F.coalesce(
            F.expr("CAST(conv(hex(substring(tile_data, 1, 1)), 16, 10) AS BIGINT)"),
            F.lit(0),
        ).alias("byte_val"),
    )


_REMOTE_FETCH_ORACLE_SQL = """
    WITH r AS (
        SELECT p_partkey % 8 AS x, (p_partkey * 3) % 8 AS y
        FROM part WHERE p_partkey % 17 <> 0
    )
    SELECT x, y,
           CAST(CASE WHEN (x + y) % 7 = 0 THEN 404 ELSE 200 END AS INT) AS status,
           CAST(x % 3 + 1 AS INT) AS n_attempts,
           CAST(CASE WHEN (x + y) % 7 = 0 THEN 0 ELSE (x + y) % 19 + 1 END AS BIGINT) AS n_bytes,
           CAST(CASE WHEN (x + y) % 7 = 0 THEN 0 ELSE (x * 8 + y) % 251 END AS BIGINT) AS byte_val
    FROM r
"""


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature-extract: deterministic 16×16 images (pixel =
    (3x+5y+phash)%256, FIXTURES.md §1) → per-channel histogram features
    (operators/multimodal.image_features) → argmax bin / max count, all
    JVM-side after the one Arrow hop. Oracle rebuilds the histogram
    relationally from the pixel formula."""
    from gdal_drivers_spark.core import codecs
    from gdal_drivers_spark.operators.multimodal import image_features
    from gdal_drivers_spark.sources.synth import pattern

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey")

    def gen(g):
        for s in g["s_suppkey"]:
            yield str(s), codecs.encode_raw(pattern(16, 16, 1, s % 256)), "raw"

    images = run_batches(supp, ["s_suppkey"], gen, "image_id string, bytes binary, fmt string")
    feats = image_features(images, bins=16)
    return feats.select(
        F.col("image_id").cast("long").alias("k"),
        (F.array_position(F.col("feat"), F.array_max(F.col("feat"))) - 1)
        .cast("int")
        .alias("argmax_bin"),
        F.array_max(F.col("feat")).cast("long").alias("max_count"),
        F.col("n_pixels"),
    )


_IMAGE_FEATURES_ORACLE_SQL = """
    WITH s AS (SELECT s_suppkey AS k, s_suppkey % 256 AS ph FROM supplier),
    px AS (
        SELECT s.k, ((3 * gx.x + 5 * gy.y + s.ph) % 256) // 16 AS bin
        FROM s,
             LATERAL (SELECT unnest(generate_series(0, 15)) AS x) gx,
             LATERAL (SELECT unnest(generate_series(0, 15)) AS y) gy
    ),
    h AS (SELECT k, bin, count(*) AS cnt FROM px GROUP BY k, bin),
    r AS (
        SELECT k, bin, cnt,
               row_number() OVER (PARTITION BY k ORDER BY cnt DESC, bin) AS rn
        FROM h
    )
    SELECT k, CAST(bin AS INT) AS argmax_bin, cnt AS max_count,
           CAST(256 AS BIGINT) AS n_pixels
    FROM r WHERE rn = 1
"""


_PHASH_EXPR = """
  (((s_suppkey div 4) * 40503) % 65536
   + (((s_suppkey div 4) * 12289) % 65536) * 65536
   + (((s_suppkey div 4) * 52579) % 65536) * 4294967296L
   + (((s_suppkey div 4) * 17761) % 32768) * 281474976710656L)
  ^ (CASE CAST(s_suppkey % 4 AS INT)
      WHEN 0 THEN 0L
      WHEN 1 THEN shiftleft(1L, CAST((s_suppkey * 13) % 48 AS INT))
      WHEN 2 THEN shiftleft(1L, CAST((s_suppkey * 13) % 48 AS INT))
                | shiftleft(1L, CAST((((s_suppkey * 13) % 48) * 7 + 5) % 48 AS INT))
      ELSE 366503875925L END)
"""


def q_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup by perceptual hash: Hamming distance ≤ 3 via
    multi-index banding (pigeonhole over 4 bands → recall 1, so the
    banded engine result must equal the oracle's brute-force n² scan).
    Supplier keys get planted phashes: groups of 4 share a base hash,
    members 0-2 perturbed by ≤2 bits (near-dups), member 3 by 20 bits
    (far). input_hint's (image_id, …, phash:int64) dedup path."""
    from gdal_drivers_spark.operators.dedup import phash_near_dup

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("image_id"), F.expr(_PHASH_EXPR).alias("phash")
    )
    return phash_near_dup(supp, max_dist=3, n_bands=4)


_PHASH_ORACLE_SQL = """
    WITH p AS (
        SELECT s_suppkey AS k,
               xor(
                 ((s_suppkey // 4) * 40503) % 65536
                 + (((s_suppkey // 4) * 12289) % 65536) * 65536
                 + (((s_suppkey // 4) * 52579) % 65536) * 4294967296
                 + (((s_suppkey // 4) * 17761) % 32768) * 281474976710656,
                 CASE CAST(s_suppkey % 4 AS INT)
                   WHEN 0 THEN 0
                   WHEN 1 THEN 1::BIGINT << CAST((s_suppkey * 13) % 48 AS INT)
                   WHEN 2 THEN (1::BIGINT << CAST((s_suppkey * 13) % 48 AS INT))
                             | (1::BIGINT << CAST((((s_suppkey * 13) % 48) * 7 + 5) % 48 AS INT))
                   ELSE 366503875925 END
               ) AS phash
        FROM supplier
    )
    SELECT a.k AS id1, b.k AS id2,
           CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS dist
    FROM p a JOIN p b ON a.k < b.k
    WHERE bit_count(xor(a.phash, b.phash)) <= 3
"""


def q_gt_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: resolution from a 6-term geotransform — hypot(gt1,gt4),
    hypot(gt2,gt5) (blender.cpp:141-151). Geotransform components are
    Pythagorean-triple multiples so the hypots are exact integers in
    IEEE double (3-4-5 and 5-12-13), hash-stable across engines."""
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    a = (F.col("n_nationkey") % 4 + 1).cast("double")
    b = (F.col("n_nationkey") % 3 + 1).cast("double")
    return n.select(
        F.col("n_nationkey").alias("k"),
        F.hypot(3 * a, 4 * a).cast("long").alias("res_x"),
        F.hypot(5 * b, 12 * b).cast("long").alias("res_y"),
    )


_GT_RESOLUTION_ORACLE_SQL = """
    SELECT n_nationkey AS k,
           CAST(sqrt(pow(3.0 * (n_nationkey % 4 + 1), 2) + pow(4.0 * (n_nationkey % 4 + 1), 2)) AS BIGINT) AS res_x,
           CAST(sqrt(pow(5.0 * (n_nationkey % 3 + 1), 2) + pow(12.0 * (n_nationkey % 3 + 1), 2)) AS BIGINT) AS res_y
    FROM nation
"""


def q_nodata_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+F13 relational contract: mask normalization (any nonzero
    mask value → weight 1.0, blender.cpp:256-260) and nodata
    substitution for zero-weight pixels (blender.cpp:643-646). The
    pixel-array implementation lives in operators/blend.py (exercised
    by blend_cells / test_pixelops); this is the same rule on scalar
    columns, oracle-checked per row."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    v = F.col("o_orderkey") % 251
    m = F.col("o_orderkey") % 4  # raw mask value 0..3; 0 = invalid
    return o.select(
        F.col("o_orderkey").alias("k"),
        F.when(m > 0, F.lit(1.0)).otherwise(F.lit(0.0)).alias("w_norm"),
        F.when(m == 0, F.lit(7)).otherwise(v).cast("long").alias("out_val"),
    )


_NODATA_NORM_ORACLE_SQL = """
    SELECT o_orderkey AS k,
           CAST(CASE WHEN o_orderkey % 4 > 0 THEN 1.0 ELSE 0.0 END AS DOUBLE) AS w_norm,
           CAST(CASE WHEN o_orderkey % 4 = 0 THEN 7 ELSE o_orderkey % 251 END AS BIGINT) AS out_val
    FROM orders
"""


_ANN_LSH_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), tb AS (SELECT t FROM generate_series(0, 3) g(t)),
    bk AS (
        SELECT vec_id, q, t,
               list_sum(list_transform(generate_series(0, 7), p ->
                   CASE WHEN list_sum(list_transform(generate_series(0, 63), j ->
                        q[j + 1] * (CASE WHEN ((j + 1) * 69 + (t * 8 + p) * 131) * 48271 % 65536 < 32768 THEN 1 ELSE -1 END)
                   )) > 0 THEN (1 << (7 - p)) ELSE 0 END
               )) AS b
        FROM e, tb
    ), qs AS (SELECT vec_id AS qid, q AS qv, t, b FROM bk WHERE vec_id < 10),
    cand AS (
        SELECT DISTINCT qs.qid, bk.vec_id AS cid
        FROM qs JOIN bk ON qs.t = bk.t AND qs.b = bk.b
    ),
    scored AS (
        SELECT cand.qid, cand.cid,
               CAST(list_sum(list_transform(generate_series(1, 64), i -> eq.q[i] * ec.q[i])) AS BIGINT) AS dot_q
        FROM cand
        JOIN e eq ON eq.vec_id = cand.qid
        JOIN e ec ON ec.vec_id = cand.cid
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, cid) AS rank
        FROM scored
    )
    SELECT qid, cid, dot_q, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
"""


def q_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-graph construction (r04, VERDICT #5): corpus self-kNN via
    multi-table sign-LSH with NO broadcast on either side — queries ==
    corpus, so the candidate generator is a shuffle join on the
    (table, bucket) equi-key (the no-broadcast plan shape is asserted
    in test_pipeline_ops::test_knn_graph_*). Self-edges excluded,
    k=3 neighbors per vector. Deterministic plane family → the oracle
    replays buckets, candidate union, scoring and ranking."""
    from gdal_drivers_spark.operators.similarity import knn_graph

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    return knn_graph(corpus, dim=64, k=3, n_tables=4)


_KNN_GRAPH_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
        FROM embeddings
    ), tb AS (SELECT t FROM generate_series(0, 3) g(t)),
    bk AS (
        SELECT vec_id, q, t,
               list_sum(list_transform(generate_series(0, 7), p ->
                   CASE WHEN list_sum(list_transform(generate_series(0, 63), j ->
                        q[j + 1] * (CASE WHEN ((j + 1) * 69 + (t * 8 + p) * 131) * 48271 % 65536 < 32768 THEN 1 ELSE -1 END)
                   )) > 0 THEN (1 << (7 - p)) ELSE 0 END
               )) AS b
        FROM e, tb
    ), cand AS (
        SELECT DISTINCT a.vec_id AS qid, c.vec_id AS cid
        FROM bk a JOIN bk c ON a.t = c.t AND a.b = c.b
        WHERE a.vec_id <> c.vec_id
    ),
    scored AS (
        SELECT cand.qid, cand.cid,
               CAST(list_sum(list_transform(generate_series(1, 64), i -> eq.q[i] * ec.q[i])) AS BIGINT) AS dot_q
        FROM cand
        JOIN e eq ON eq.vec_id = cand.qid
        JOIN e ec ON ec.vec_id = cand.cid
    ), r AS (
        SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, cid) AS rank
        FROM scored
    )
    SELECT qid, cid, dot_q, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3
"""


def q_overview_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/A5 overview halving chain (solid.cpp:352-369): per part-
    derived raster size, levels halve (ceil) until ≤ one 256-px tile;
    iterated ceil-halving has the closed form ceil(w / 2^i), which the
    engine computes as codegen arithmetic and the oracle verifies with
    a recursive CTE doing the literal per-level halving."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet").filter(F.col("p_partkey") <= 200)
    w0 = 257 + (F.col("p_partkey") * 37) % 4096
    h0 = 257 + (F.col("p_partkey") * 53) % 4096
    lv = p.select(
        F.col("p_partkey").alias("k"), w0.alias("w0"), h0.alias("h0")
    ).withColumn("level", F.explode(F.sequence(F.lit(1), F.lit(13))))
    scale = F.expr("shiftleft(CAST(1 AS BIGINT), level)")
    pscale = F.expr("shiftleft(CAST(1 AS BIGINT), level - 1)")
    out = lv.select(
        "k",
        "level",
        ((F.col("w0") + scale - 1) / scale).cast("long").alias("w"),
        ((F.col("h0") + scale - 1) / scale).cast("long").alias("h"),
        ((F.col("w0") + pscale - 1) / pscale).cast("long").alias("pw"),
        ((F.col("h0") + pscale - 1) / pscale).cast("long").alias("ph"),
    )
    # a level exists iff its parent still exceeded one tile
    return out.filter((F.col("pw") > 256) | (F.col("ph") > 256)).select(
        "k", "level", "w", "h"
    )


_OVERVIEW_ORACLE_SQL = """
    WITH RECURSIVE base AS (
        SELECT p_partkey AS k,
               257 + (p_partkey * 37) % 4096 AS w0,
               257 + (p_partkey * 53) % 4096 AS h0
        FROM part WHERE p_partkey <= 200
    ), chain AS (
        SELECT k, 0 AS level, w0 AS w, h0 AS h FROM base
        UNION ALL
        SELECT k, level + 1, (w + 1) // 2, (h + 1) // 2
        FROM chain WHERE w > 256 OR h > 256
    )
    SELECT k, level, w, h FROM chain WHERE level > 0
"""


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from gdal_drivers_spark.operators.similarity import near_dup_pairs

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(F.col("vec_id") < 200)
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    # exact=True: the all-pairs oracle baseline (200 vectors). The
    # operator DEFAULT is the LSH-bucket-pruned plan (similarity.py) —
    # recall vs this exact path asserted in tests/test_pipeline_ops.py.
    return near_dup_pairs(c, threshold=25_000_000, exact=True)


def q_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 (cursor running-sum) relational twin: per-user cumulative
    value in exact integer cents, ordered by (ts, event_id)."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.round(F.col("value") * 100).cast("long")).over(w).alias("run_cents"),
    )


def q_overview_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3 (closest-overview-level rank-1): per brand, the part whose
    size is closest to 25 (ties by p_partkey)."""
    from pyspark.sql import Window

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    w = Window.partitionBy("p_brand").orderBy(F.abs(F.col("p_size") - 25), "p_partkey")
    return (
        p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("p_brand", "p_partkey", "p_size")
    )


def q_top_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join breadth (customer ⋈ orders ⋈ lineitem) + top-k:
    top 10 orders by exact-cents revenue; Catalyst broadcasts the small
    dims, the window is a single-partition top-k over pre-aggregated
    order rows (64-ish groups per shuffle task after partial agg)."""
    from pyspark.sql import Window

    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    rev = (
        li.groupBy("l_orderkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100)
                .cast("long")
            ).alias("revenue_cents")
        )
    )
    j = (
        o.join(rev, o.o_orderkey == rev.l_orderkey, "inner")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey, "inner")
        .select("o_orderkey", "c_name", "c_mktsegment", "revenue_cents")
    )
    w = Window.orderBy(F.desc("revenue_cents"), "o_orderkey")
    return (
        j.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("rank", "o_orderkey", "c_name", "c_mktsegment", "revenue_cents")
    )


def q_rasterize_quads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 (quadtree→raster rasterization with index prune): leaf quads
    at z=6 painted into 16-px tiles; the per-tile white-pixel count
    decoded from the actual painted bytes equals the relational count
    of white cells per tile region (oracle-checked)."""
    import numpy as np

    from gdal_drivers_spark.operators.rasterize import rasterize_quads

    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    h = (F.col("p_partkey") * F.lit(2654435761)) % F.lit(4096)
    quads = (
        p.select(
            F.lit(6).alias("level"),
            (h % 64).alias("qx"),
            (h.cast("long") / 64).cast("long").alias("qy"),
            F.when(F.col("p_partkey") % 2 == 0, "white").otherwise("gray").alias("value"),
        )
        .groupBy("level", "qx", "qy")
        .agg(F.max("value").alias("value"))
    )
    tiles = rasterize_quads(quads, depth=6, tile_px=16)
    n_white = row_udf(lambda b: int((np.frombuffer(b, np.uint8) == 255).sum()), "long")
    return tiles.select("tx", "ty", n_white(F.col("tile")).alias("n_white_px"), "ts")


def q_blend_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/U3/O2 (Blender core, blender.cpp:559-655) with a HARD oracle:
    multi-source blend of supplier-derived deterministic tiles with
    full validity (equal weights ⇒ per-pixel f64 mean across sources,
    rint + u8 cast). The blended tile's exact integer pixel sum has a
    closed form on the pattern (pix = (x*3+y*5+k*7919)%256), which the
    oracle reproduces in SQL including numpy's round-half-to-even.
    The single-source identity invariant (§5.3) is asserted in
    tests/test_pixelops.py."""
    from gdal_drivers_spark.operators.blend import blend_tiles
    from gdal_drivers_spark.core import codecs
    from gdal_drivers_spark.sources.synth import pattern

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet")

    def gen(g):
        for k in g["s_suppkey"]:
            cell = (2 << 52) + ((k % 4) << 26) + (k // 4 % 4)
            yield cell, 0, k, codecs.encode_raw(pattern(32, 32, 1, k * 7919)), 0.0, 0.0, 1.0, 1.0

    contribs = run_batches(
        supp, ["s_suppkey"], gen,
        "cell long, band int, source_id long, tile binary, "
        "vx0 double, vy0 double, vx1 double, vy1 double",
    )
    out = blend_tiles(contribs, tile_px=32)
    return out.select("cell", "band", "n_sources",
                      _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"))


_BLEND_CELLS_ORACLE_SQL = """
    WITH s AS (
        SELECT s_suppkey AS k,
               (CAST(2 AS BIGINT) << 52)
               + (CAST(s_suppkey % 4 AS BIGINT) << 26)
               + CAST((s_suppkey // 4) % 4 AS BIGINT) AS cell
        FROM supplier
    ), px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    ), m AS (
        -- per-pixel integer numerator/denominator of the f64 mean
        SELECT cell, x, y,
               CAST(sum((x * 3 + y * 5 + k * 7919) % 256) AS BIGINT) AS snum,
               count(*) AS n
        FROM s, px GROUP BY 1, 2, 3
    ), r AS (
        -- numpy rint = round-half-to-even on the exact rational snum/n
        SELECT cell, n,
               CASE WHEN 2 * (snum % n) = n
                    THEN (snum // n) + ((snum // n) % 2)
                    ELSE (2 * snum + n) // (2 * n) END AS pxv
        FROM m
    )
    SELECT cell, CAST(0 AS INT) AS band, CAST(max(n) AS INT) AS n_sources,
           CAST(sum(pxv) AS BIGINT) AS px_sum
    FROM r GROUP BY cell
"""


def q_caption_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-equality gate (BASELINE.json input_hint: per-row caption
    equality vs the reference pipeline): the images table is
    synthesized on executors with its real caption column, rows pass
    through the Arrow decode stage, and every (image_id, caption) pair
    is emitted for the oracle to reproduce verbatim."""
    from gdal_drivers_spark.operators.decode import decode_stats
    from gdal_drivers_spark.sources.synth import images_df

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey").filter(
        F.col("o_orderkey") % 7 == 0
    )
    images = images_df(orders.repartition(16).select(F.col("o_orderkey").alias("id")))
    return decode_stats(images).filter("dec_ok").select("image_id", "caption")


_CAPTION_ORACLE_SQL = """
    SELECT 'img' || lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS image_id,
           'caption ' || o_orderkey || ' '
             || (['amber','bright','calm','dusty','early','faded','green','hazy'])[(o_orderkey % 8) + 1]
             || ' '
             || (['valley','harbor','ridge','meadow','canyon','delta','plateau','grove'])[(o_orderkey % 8) + 1]
           AS caption
    FROM orders WHERE o_orderkey % 7 = 0
"""


def q_psnr_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoded-pixel invariant (BASELINE.json input_hint: per-row
    allclose, PSNR≥40 dB for lossy): encode→decode every format on
    executors and emit the exact max |error| per image. Lossless
    (raw/png) must be bit-exact (0); the thumb quantizer's mid-rise
    reconstruction has max error exactly 2 on this pattern (all v%4
    residues present) and PSNR ≥ 40 — all oracle-checked."""
    import numpy as np

    from gdal_drivers_spark.core import codecs
    from gdal_drivers_spark.sources.synth import pattern

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select("s_suppkey")

    def gen(g):
        for k in g["s_suppkey"]:
            fmt = ["raw", "png", "thumb"][k % 3]
            img = pattern(32, 32, 1, k % 256)
            dec = codecs.decode(codecs.ENCODERS[fmt](img), fmt)
            err = int(np.abs(dec.astype(np.int32) - img.astype(np.int32)).max())
            yield k, fmt, err, bool(codecs.psnr(img, dec) >= 40.0)

    return run_batches(supp.repartition(16), ["s_suppkey"], gen,
                       "k long, fmt string, max_abs_err int, psnr_ok boolean")


_PSNR_ORACLE_SQL = """
    SELECT s_suppkey AS k,
           CASE s_suppkey % 3 WHEN 0 THEN 'raw' WHEN 1 THEN 'png' ELSE 'thumb' END AS fmt,
           CASE WHEN s_suppkey % 3 = 2 THEN 2 ELSE 0 END AS max_abs_err,
           TRUE AS psnr_ok
    FROM supplier
"""


def q_grid_snap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4 (grid alignment, blender.cpp:416-429): snap per-order extents
    to a 1/64 pixel grid with floor(ll)/ceil(ur); all-dyadic arithmetic
    so Spark and DuckDB agree bit-for-bit."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    x0 = ((F.col("o_orderkey") * 48271) % 4096) / F.lit(4096.0)
    y0 = ((F.col("o_orderkey") * 69621) % 4096) / F.lit(4096.0)
    x1 = x0 + ((F.col("o_orderkey") % 7) + 1) / F.lit(512.0)
    y1 = y0 + ((F.col("o_orderkey") % 5) + 1) / F.lit(512.0)
    sx0, sy0 = F.floor(x0 * 64) / 64, F.floor(y0 * 64) / 64
    sx1, sy1 = F.ceil(x1 * 64) / 64, F.ceil(y1 * 64) / 64
    return o.select(
        F.col("o_orderkey").alias("k"),
        sx0.alias("sx0"), sy0.alias("sy0"), sx1.alias("sx1"), sy1.alias("sy1"),
        (((sx1 - sx0) * 64) * ((sy1 - sy0) * 64)).cast("long").alias("n_cells"),
    )


def q_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 (min/max extent envelope, blender.cpp:198-221): per-row
    corner transform with a north-up (negative dy) frame, then
    elementwise least/greatest over the 4 corners and a per-nation
    min/max rollup."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    px = ((F.col("c_custkey") * 48271) % 65536) / F.lit(65536.0)
    py = ((F.col("c_custkey") * 69621) % 65536) / F.lit(65536.0)
    w = ((F.col("c_custkey") % 15) + 1) / F.lit(1024.0)
    h = ((F.col("c_custkey") % 9) + 1) / F.lit(1024.0)
    # 4 transformed corners (dy negative: y grows downward from py)
    xs = [px, px + w, px, px + w]
    ys = [py, py, py - h, py - h]
    row = c.select(
        F.col("c_nationkey").alias("nation"),
        F.least(*xs).alias("lx"), F.greatest(*xs).alias("gx"),
        F.least(*ys).alias("ly"), F.greatest(*ys).alias("gy"),
    )
    return row.groupBy("nation").agg(
        F.min("lx").alias("env_x0"), F.min("ly").alias("env_y0"),
        F.max("gx").alias("env_x1"), F.max("gy").alias("env_y1"),
        F.count("*").alias("n_rows"),
    )


def q_halo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 (2-D halo exchange): supplier-derived tiles at z=4 re-keyed
    to their ≤8 in-bounds neighbors (with_halo), rolled up per target
    cell — the distributed sliding-window support of blender.cpp:601-624."""
    from gdal_drivers_spark.core.qcell import pack_col
    from gdal_drivers_spark.operators.halo import with_halo

    s = spark.read.parquet(f"{sf_dir}/supplier.parquet")
    tiles = (
        s.select(
            ((F.col("s_suppkey") * 3) % 16).alias("tx"),
            ((F.col("s_suppkey") * 7) % 16).alias("ty"),
            F.col("s_suppkey").alias("payload"),
        )
        .groupBy("tx", "ty")
        .agg(F.min("payload").alias("payload"))
        .select(pack_col(4, F.col("tx"), F.col("ty")).alias("cell"), "payload")
    )
    h = with_halo(tiles, ring=1)
    return (
        h.groupBy("target_cell")
        .agg(F.count("*").alias("n_contrib"), F.sum("payload").alias("payload_sum"))
        .select(
            (F.shiftright(F.col("target_cell"), 26) % F.lit(1 << 26)).alias("tcx"),
            (F.col("target_cell") % F.lit(1 << 26)).alias("tcy"),
            "n_contrib",
            "payload_sum",
        )
    )


def q_pyramid_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 (multi-resolution pyramid): tristate rollup of z=4 leaves to
    EVERY level 0..4 in one pass (explode levels → groupBy), the
    cube-style variant of the iterative parent rollup
    (mask.cpp:170-174 overview chain)."""
    p = spark.read.parquet(f"{sf_dir}/part.parquet")
    h = (F.col("p_partkey") * F.lit(2654435761)) % F.lit(256)
    leaves = (
        p.select(
            (h % 16).alias("qx"),
            (h.cast("long") / 16).cast("long").alias("qy"),
            (F.col("p_partkey") % 2).alias("bit"),
        )
        .groupBy("qx", "qy")
        .agg(F.max("bit").alias("bit"))
    )
    lv = leaves.withColumn(
        "level", F.explode(F.sequence(F.lit(0).cast("long"), F.lit(4).cast("long")))
    )
    return (
        lv.groupBy(
            "level",
            F.expr("qx div shiftleft(1, 4 - level)").alias("pqx"),
            F.expr("qy div shiftleft(1, 4 - level)").alias("pqy"),
        )
        .agg(F.count("*").alias("n_leaves"), F.sum("bit").alias("n_white"))
        .withColumn(
            "klass",
            F.when(F.col("n_white") == 0, "black")
            .when(F.col("n_white") == F.col("n_leaves"), "white")
            .otherwise("gray"),
        )
    )


def _grid_pattern_tiles(spark, z, n, ts, img_fn, shape="dem", encode=False):
    """Shared deterministic tile-grid fixture for the raster contract
    queries (DEM / pyramid / polygonize / color-relief): an n×n grid
    of ts-px tiles at level z; ``img_fn(gx2d, gy2d) -> array`` gives
    each tile's pixels from GLOBAL coordinates, so the SQL oracles'
    closed-form fields mirror it exactly and a fixture change can
    never desynchronize one query from its oracle. ``shape``:
    "dem" = (cell, tile), "pyramid" = (cell, band, tile, ts);
    ``encode=True`` wraps the payload in the codec registry's raw
    container (operators that decode via codecs)."""
    import numpy as np

    from gdal_drivers_spark.core import codecs

    def gen(g):
        for i in g["id"]:
            tx, ty = i // n, i % n
            gx = np.arange(ts)[None, :] + tx * ts
            gy = np.arange(ts)[:, None] + ty * ts
            img = img_fn(gx, gy).astype(np.uint8)
            payload = codecs.encode_raw(img[:, :, None]) if encode else img.tobytes()
            cellv = (z << 52) | (tx << 26) | ty
            yield (cellv, 0, payload, ts) if shape == "pyramid" else (cellv, payload)

    schema = (
        "cell long, band int, tile binary, ts int" if shape == "pyramid"
        else "cell long, tile binary"
    )
    # r06: cap partitions at the row count — spark.range(16) otherwise
    # opens defaultParallelism (32) tasks, half of them empty, each
    # paying a Python-worker round trip on these fixture-sized grids
    n_parts = min(n * n, spark.sparkContext.defaultParallelism)
    return run_batches(spark.range(0, n * n, 1, n_parts), ["id"], gen, schema)


def q_pyramid_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 categorical overview (r05): mode (majority-vote) pyramid
    rollup — the overview kernel for label rasters, where the default
    mean would invent classes that exist nowhere in the input (GDAL's
    BuildOverviews 'mode' resampling; reference overview chain
    mask.cpp:170-174). A 4×4 grid of z=4 tiles carrying a 4-class
    pattern rolls up one level; each parent pixel is the mode of its
    exact 2×2 child block, ties → LOWEST value (GDAL's rule), making
    the kernel exact integer arithmetic and the oracle a count/argmax
    in plain SQL."""
    from gdal_drivers_spark.operators.pyramid import rollup_tiles_one_level

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32,
        lambda gx, gy: ((gx * 3 + gy * 5 + 11) % 256) // 64 * 64,
        shape="pyramid",
    )
    out = rollup_tiles_one_level(tiles, agg="mode")
    return out.select(
        (F.shiftright(F.col("cell"), 26) % F.lit(1 << 26)).alias("pcx"),
        (F.col("cell") % F.lit(1 << 26)).alias("pcy"),
        _pixel_checksum(F.col("tile")).v_sum.alias("mode_sum"),
    )


def q_pyramid_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 incremental overview maintenance (r05): a 100 TB pyramid
    must absorb a small leaf delta without a full rebuild —
    ``update_pyramid`` recomputes only the changed cells' ancestors
    (broadcast anti-join replacement + delta-sized rollup per level;
    the base levels are scanned once, never shuffled). Here a 4×4 z=4
    grid with pattern A gets 4 leaves re-written with pattern B; the
    min-kernel (exact integer, composes across levels with no
    rounding) pyramid is updated down to z=2 and every tile of every
    level is summed. The oracle rolls the MERGED pattern up directly —
    so a stale ancestor, a missed sibling, or a leaf that failed to
    replace all break the hash."""
    from gdal_drivers_spark.operators.pyramid import build_pyramid, update_pyramid

    delta_cells = [(4 << 52) | (cx << 26) | cy
                   for cx, cy in ((0, 0), (3, 0), (1, 2), (2, 3))]
    base = _grid_pattern_tiles(
        spark, 4, 4, 32,
        lambda gx, gy: (gx * 3 + gy * 5 + 11) % 256, shape="pyramid")
    delta = _grid_pattern_tiles(
        spark, 4, 4, 32,
        lambda gx, gy: (gx * 7 + gy * 11 + 3) % 256, shape="pyramid",
    ).filter(F.col("cell").isin(delta_cells))
    levels = build_pyramid(base, from_level=4, to_level=2, agg="min")
    updated = update_pyramid(levels, delta, agg="min")
    parts = [
        updated[z].select(
            F.shiftright(F.col("cell"), 52).alias("level"),
            (F.shiftright(F.col("cell"), 26) % F.lit(1 << 26)).alias("cx"),
            (F.col("cell") % F.lit(1 << 26)).alias("cy"),
            _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"),
        )
        for z in (4, 3, 2)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


_PYRAMID_UPDATE_ORACLE_SQL = """
    WITH src AS (
        SELECT x.v AS gx, y.v AS gy,
               CASE WHEN (x.v // 32 = 0 AND y.v // 32 = 0)
                      OR (x.v // 32 = 3 AND y.v // 32 = 0)
                      OR (x.v // 32 = 1 AND y.v // 32 = 2)
                      OR (x.v // 32 = 2 AND y.v // 32 = 3)
                    THEN (x.v * 7 + y.v * 11 + 3) % 256
                    ELSE (x.v * 3 + y.v * 5 + 11) % 256 END AS v
        FROM generate_series(0, 127) x(v), generate_series(0, 127) y(v)
    ), l4 AS (
        SELECT CAST(4 AS BIGINT) AS level, gx // 32 AS cx, gy // 32 AS cy,
               CAST(SUM(v) AS BIGINT) AS px_sum
        FROM src GROUP BY 2, 3
    ), d3 AS (
        SELECT gx // 2 AS ox, gy // 2 AS oy, MIN(v) AS v FROM src GROUP BY 1, 2
    ), l3 AS (
        SELECT CAST(3 AS BIGINT) AS level, ox // 32 AS cx, oy // 32 AS cy,
               CAST(SUM(v) AS BIGINT) AS px_sum
        FROM d3 GROUP BY 2, 3
    ), d2 AS (
        SELECT gx // 4 AS ox, gy // 4 AS oy, MIN(v) AS v FROM src GROUP BY 1, 2
    ), l2 AS (
        SELECT CAST(2 AS BIGINT) AS level, ox // 32 AS cx, oy // 32 AS cy,
               CAST(SUM(v) AS BIGINT) AS px_sum
        FROM d2 GROUP BY 2, 3
    )
    SELECT * FROM l4 UNION ALL SELECT * FROM l3 UNION ALL SELECT * FROM l2
"""


_PYRAMID_MODE_ORACLE_SQL = """
    WITH src AS (
        SELECT x.v AS gx, y.v AS gy,
               (((x.v * 3 + y.v * 5 + 11) % 256) // 64) * 64 AS v
        FROM generate_series(0, 127) x(v), generate_series(0, 127) y(v)
    ), cnt AS (
        SELECT gx // 2 AS ox, gy // 2 AS oy, v, COUNT(*) AS c
        FROM src GROUP BY 1, 2, 3
    ), pick AS (
        SELECT ox, oy, v,
               row_number() OVER (PARTITION BY ox, oy ORDER BY c DESC, v) AS rn
        FROM cnt
    )
    SELECT CAST(ox // 32 AS BIGINT) AS pcx, CAST(oy // 32 AS BIGINT) AS pcy,
           CAST(SUM(v) AS BIGINT) AS mode_sum
    FROM pick WHERE rn = 1 GROUP BY 1, 2
"""


def q_solid_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 (constant raster generator, solid.cpp:149-156/408-440): a
    1024×768 3-band solid served as constant tiles; per-band tile count
    and exact pixel sum verified by decoding the payload bytes."""
    import numpy as np

    from gdal_drivers_spark.operators.solid import solid_tiles

    tiles = solid_tiles(
        spark, 1024, 768, [(7.0, "u8"), (1000.0, "u16"), (123456.0, "i32")], tile_px=256
    )

    dt = {"u8": np.uint8, "u16": np.uint16, "i32": np.int32}
    px_sum = row_udf(lambda b, d: int(np.frombuffer(b, dt[d]).sum(dtype=np.int64)), "long")
    return (
        tiles.withColumn("s", px_sum(F.col("tile"), F.col("dtype")))
        .groupBy("band")
        .agg(F.count("*").alias("n_tiles"), F.sum("s").alias("sum_px"))
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (batch twin of the
    applyInPandasWithState streaming operator — tested identical in
    tests/test_sessionize.py): sessions close after 1800 s of silence."""
    from gdal_drivers_spark.streaming.sessionize import sessionize_batch

    return sessionize_batch(spark.read.parquet(f"{sf_dir}/events.parquet"), gap_s=1800)


def q_decode_fmt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S2/U1 (format dispatch + probe): synthesize the images table
    from order keys (fmt round-robin raw/png/thumb), decode every
    payload in Arrow batches, report per-format counts + decode-ok
    counts. The fmt distribution is oracle-checked; pixel values are
    covered by the PSNR/parity pytest suite."""
    from gdal_drivers_spark.operators.decode import decode_stats
    from gdal_drivers_spark.sources.synth import images_df

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    images = images_df(orders.repartition(32).select(F.col("o_orderkey").alias("id")))
    return decode_stats(images).groupBy("fmt").agg(
        F.count("*").alias("n_images"),
        F.sum(F.col("dec_ok").cast("long")).alias("n_ok"),
    )


def q_windowed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-twin batch query: tumbling 5-min windows per event_type
    (the stream side computes the identical frame via
    streaming.events.windowed_event_counts — tested equal)."""
    from gdal_drivers_spark.streaming.events import windowed_event_counts

    return windowed_event_counts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (point-in-time lookup): every non-error
    event picks up the latest error event at or before its timestamp
    for the same user, or nulls if none. The engine plan is the
    union+ordered-window merge (operators/asof.py) — ONE shuffle on
    the key, no per-key cross product; the oracle is DuckDB's native
    ASOF LEFT JOIN, an independent implementation of the same
    semantics (ties at equal ts match, per the shared r.ts <= l.ts
    convention)."""
    from gdal_drivers_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    left = ev.filter("event_type <> 'error'").select("event_id", "user_id", "ts")
    right = ev.filter("event_type = 'error'").select(
        "user_id", "ts", F.col("event_id").alias("marker_id")
    )
    out = asof_join(left, right, on="user_id", left_ts="ts", right_ts="ts",
                    payload=["marker_id"])
    # null-free projection for the strict Arrow gate: unmatched → -1,
    # matched ts → epoch seconds (NTZ → UTC session timestamp → long)
    return out.select(
        "event_id",
        "user_id",
        F.coalesce(F.col("marker_id"), F.lit(-1)).cast("long").alias("marker_id"),
        F.coalesce(
            F.col("matched_ts").cast("timestamp").cast("long"), F.lit(-1)
        ).alias("matched_s"),
    )


_ASOF_ORACLE_SQL = """
    SELECT e.event_id, e.user_id,
           CAST(COALESCE(m.event_id, -1) AS BIGINT) AS marker_id,
           CAST(COALESCE(CAST(floor(epoch(m.ts)) AS BIGINT), -1) AS BIGINT) AS matched_s
    FROM (SELECT * FROM events WHERE event_type <> 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') m
      ON e.user_id = m.user_id AND e.ts >= m.ts
"""


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bin-bucketed 1-D range join (operators/intervals.py): event
    cent-values land in overlapping supplier price bands [k·500,
    k·500+750) — a point can match two bands. The engine plan is
    explode-to-bins + equi-join + exact re-check (ONE hash join, never
    a nested loop); the oracle is the plain inequality join DuckDB can
    afford at this scale."""
    from gdal_drivers_spark.operators.intervals import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", F.round(F.col("value") * 100).cast("long").alias("v")
    )
    sup = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        "s_suppkey",
        (F.col("s_suppkey") * 500).alias("lo"),
        (F.col("s_suppkey") * 500 + 750).alias("hi"),
    )
    j = interval_join(ev, sup, "v", "lo", "hi", bin_width=512)
    return j.groupBy("s_suppkey").agg(
        F.count(F.lit(1)).alias("n_pts"), F.sum("v").alias("sum_cents")
    )


_INTERVAL_ORACLE_SQL = """
    WITH p AS (SELECT event_id, CAST(round(value * 100) AS BIGINT) AS v FROM events),
         iv AS (SELECT s_suppkey, s_suppkey * 500 AS lo, s_suppkey * 500 + 750 AS hi
                FROM supplier)
    SELECT s_suppkey, count(*) AS n_pts, CAST(sum(v) AS BIGINT) AS sum_cents
    FROM iv JOIN p ON p.v >= iv.lo AND p.v < iv.hi
    GROUP BY s_suppkey
"""


def q_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zonal statistics (the classic GDAL raster workflow): per-zone
    count/sum/min/max/mean of tile pixels, with pixels reduced to
    per-tile stats in one narrow Arrow hop and only stat rows ever
    shuffling. Tiles are deterministic patterns on part keys (FIXTURES
    §1), zones partition the 16×16 cell grid by anti-diagonal band —
    the oracle reproduces every pixel in SQL via generate_series."""
    from gdal_drivers_spark.operators.zonal import zonal_stats

    return zonal_stats(*_zone_fixture(spark, sf_dir))


def _zone_fixture(spark: SparkSession, sf_dir: str, quant: int = 1):
    """(tiles, zones) for the zonal queries: one 32-px pattern tile per
    part key on the level-4 16×16 cell grid, zones by anti-diagonal
    band. ``quant`` floors pixel values to its multiples — quant=64
    gives the 4-class label raster (tie-rich) the categorical zonal
    queries need."""
    from gdal_drivers_spark.core import codecs
    from gdal_drivers_spark.sources.synth import pattern

    part = spark.read.parquet(f"{sf_dir}/part.parquet").select("p_partkey")

    def gen(g):
        for k in g["p_partkey"]:
            h = (k * 2654435761) % 256
            img = pattern(32, 32, 1, k * 7919) // quant * quant
            yield (4 << 52) + ((h % 16) << 26) + (h // 16), codecs.encode_raw(img)

    tiles = run_batches(part, ["p_partkey"], gen, "cell long, tile binary")
    zones = spark.range(256).select(
        (
            F.lit(4 << 52)
            + F.shiftleft(F.col("id") % 16, 26)
            + (F.col("id") / 16).cast("long")
        ).alias("cell"),
        F.concat(
            F.lit("r"),
            ((F.col("id") % 16 + (F.col("id") / 16).cast("long")) % 8),
        ).alias("zone"),
    )
    return tiles, zones


def q_zonal_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical zonal stats (r05): per-zone class histogram — the
    label-raster workflow (land-cover class areas per admin zone)
    where zonal_stats' sum/mean are meaningless. One narrow Arrow hop
    reduces each tile to ≤|classes| (value, n) rows; the join and the
    groupBy move count rows, never pixels."""
    from gdal_drivers_spark.operators.zonal import zonal_histogram

    tiles, zones = _zone_fixture(spark, sf_dir, quant=64)
    out = zonal_histogram(tiles, zones)
    # no corrupt tiles in the fixture; COALESCE keeps the column
    # non-nullable through the checker's pandas hop (house rule)
    return out.select(
        "zone",
        F.coalesce(F.col("value"), F.lit(-1)).alias("value"),
        "n_px",
    )


def q_zonal_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical zonal stats (r05): majority class per zone, ties →
    LOWEST value (the same GDAL rule as the warp/pyramid mode kernels);
    one max_by over the histogram — no window sort."""
    from gdal_drivers_spark.operators.zonal import zonal_mode

    tiles, zones = _zone_fixture(spark, sf_dir, quant=64)
    return zonal_mode(tiles, zones)


_ZONAL_HISTOGRAM_ORACLE_SQL = """
    WITH t AS (
        SELECT p_partkey AS k, (p_partkey * 2654435761) % 256 AS h FROM part
    ), px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    ), pixels AS (
        SELECT 'r' || CAST(((h % 16) + (h // 16)) % 8 AS VARCHAR) AS zone,
               (((x * 3 + y * 5 + k * 7919) % 256) // 64) * 64 AS v
        FROM t, px
    )
    SELECT zone, CAST(v AS INT) AS value, count(*) AS n_px
    FROM pixels GROUP BY 1, 2
"""


_ZONAL_MODE_ORACLE_SQL = """
    WITH t AS (
        SELECT p_partkey AS k, (p_partkey * 2654435761) % 256 AS h FROM part
    ), px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    ), pixels AS (
        SELECT 'r' || CAST(((h % 16) + (h // 16)) % 8 AS VARCHAR) AS zone,
               (((x * 3 + y * 5 + k * 7919) % 256) // 64) * 64 AS v
        FROM t, px
    ), hist AS (
        SELECT zone, v, count(*) AS n FROM pixels GROUP BY 1, 2
    ), pick AS (
        SELECT zone, v, n,
               row_number() OVER (PARTITION BY zone ORDER BY n DESC, v) AS rn
        FROM hist
    )
    SELECT zone, CAST(v AS INT) AS mode_value, CAST(n AS BIGINT) AS n_px
    FROM pick WHERE rn = 1
"""


_ZONAL_ORACLE_SQL = """
    WITH t AS (
        SELECT p_partkey AS k, (p_partkey * 2654435761) % 256 AS h FROM part
    ), px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    ), pixels AS (
        SELECT 'r' || CAST(((h % 16) + (h // 16)) % 8 AS VARCHAR) AS zone,
               k, (x * 3 + y * 5 + k * 7919) % 256 AS v
        FROM t, px
    )
    SELECT zone,
           CAST(count(*) // 1024 AS BIGINT) AS n_tiles,
           CAST(0 AS BIGINT) AS n_bad_tiles,
           count(*) AS n_px,
           CAST(sum(v) AS BIGINT) AS px_sum,
           CAST(min(v) AS BIGINT) AS px_min,
           CAST(max(v) AS BIGINT) AS px_max,
           CAST(sum(v) AS DOUBLE) / count(*) AS mean
    FROM pixels GROUP BY zone
"""


def q_event_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact quantiles + quantile-threshold filter (the
    adaptive curation gate): per event_type p50/p95 of value
    (linear-interpolation percentile — bit-identical to DuckDB
    quantile_cont, proven here) and the count of rows at or above
    their group's p95 (broadcast threshold join, no fact shuffle)."""
    from gdal_drivers_spark.operators.stats import group_quantiles, threshold_filter

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    q = group_quantiles(ev, ["event_type"], "value", [0.5, 0.95])
    kept = (
        threshold_filter(ev, ["event_type"], "value", 0.95)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_ge_p95"))
    )
    return q.join(kept, "event_type").select(
        "event_type", "n", "q0_5", "q0_95", "n_ge_p95"
    )


_QUANTILES_ORACLE_SQL = """
    WITH q AS (
        SELECT event_type, count(*) AS n,
               quantile_cont(value, 0.5) AS q0_5,
               quantile_cont(value, 0.95) AS q0_95
        FROM events GROUP BY event_type
    ), kept AS (
        SELECT e.event_type, count(*) AS n_ge_p95
        FROM events e JOIN q USING (event_type)
        WHERE e.value >= q.q0_95
        GROUP BY e.event_type
    )
    SELECT event_type, n, q0_5, q0_95, n_ge_p95
    FROM q JOIN kept USING (event_type)
"""


def _dem_e(xs: str, ys: str) -> str:
    """Closed-form elevation field of the DEM fixture with the
    clamped-edge indexing the operator's replication implements."""
    return (
        f"((3 * greatest(0, least(127, {xs})) "
        f"+ 5 * greatest(0, least(127, {ys}))) % 256)"
    )


def q_horn_gradients(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem-analogue DEM pipeline, exact part: per-tile integer
    Horn gradient sums over a 4×4 tile grid (128² raster) whose
    elevation has the closed form e(X,Y) = (3X+5Y) mod 256. The halo
    assembly (neighbor strips, corner clamp chain, domain-edge
    replication) is exactly what the oracle's clamped global-field
    arithmetic checks; the trig half (hillshade) is pytest-pinned
    (vectorized numpy is ~1 ulp off libm, not hashable)."""
    from gdal_drivers_spark.operators.dem import horn_gradients

    tiles = _grid_pattern_tiles(spark, 2, 4, 32, lambda gx, gy: (3 * gx + 5 * gy) % 256)
    return horn_gradients(tiles, tile_px=32)


def _dem_nbr(dx: int, dy: int) -> str:
    return _dem_e(f"x + {dx}", f"y + {dy}")


_HORN_ORACLE_SQL = f"""
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), grad AS (
        SELECT x // 32 AS tx, y // 32 AS ty,
               ({_dem_nbr(1, -1)} + 2 * {_dem_nbr(1, 0)} + {_dem_nbr(1, 1)})
             - ({_dem_nbr(-1, -1)} + 2 * {_dem_nbr(-1, 0)} + {_dem_nbr(-1, 1)}) AS p8,
               ({_dem_nbr(-1, 1)} + 2 * {_dem_nbr(0, 1)} + {_dem_nbr(1, 1)})
             - ({_dem_nbr(-1, -1)} + 2 * {_dem_nbr(0, -1)} + {_dem_nbr(1, -1)}) AS q8
        FROM px
    )
    SELECT (CAST(2 AS BIGINT) << 52) + (CAST(tx AS BIGINT) << 26) + ty AS cell,
           count(*) AS n_px,
           CAST(sum(p8) AS BIGINT) AS p8_sum,
           CAST(sum(q8) AS BIGINT) AS q8_sum,
           CAST(sum(abs(p8)) AS BIGINT) AS p8_abs_sum,
           CAST(sum(abs(q8)) AS BIGINT) AS q8_abs_sum,
           CAST(0 AS BIGINT) AS n_bad
    FROM grad GROUP BY tx, ty
"""


def q_terrain_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem terrain trio (TRI Wilson/Riley, TPI, roughness), exact
    integer form, over the same 4×4-tile DEM fixture as
    horn_gradients — completes the gdaldem family (slope / aspect /
    hillshade landed r02-r03). Seam-exactness is the point: every
    index reads the 3×3 window, so a halo-assembly error at any tile
    edge or corner shifts the sums and breaks the hash."""
    from gdal_drivers_spark.operators.dem import terrain_indices

    tiles = _grid_pattern_tiles(spark, 2, 4, 32, lambda gx, gy: (3 * gx + 5 * gy) % 256)
    return terrain_indices(tiles, tile_px=32)


def _terrain_oracle_sql() -> str:
    c = _dem_nbr(0, 0)
    ns = [
        _dem_nbr(dx, dy)
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
        if not (dx == 0 and dy == 0)
    ]
    tri_w8 = " + ".join(f"abs({c} - {n})" for n in ns)
    tri_r2 = " + ".join(f"({c} - {n}) * ({c} - {n})" for n in ns)
    tpi8 = f"8 * {c} - ({' + '.join(ns)})"
    allv = ", ".join([c] + ns)
    rough = f"greatest({allv}) - least({allv})"
    return f"""
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), ti AS (
        SELECT x // 32 AS tx, y // 32 AS ty,
               {tri_w8} AS tri_w8,
               {tri_r2} AS tri_r2,
               {tpi8} AS tpi8,
               {rough} AS rough
        FROM px
    )
    SELECT (CAST(2 AS BIGINT) << 52) + (CAST(tx AS BIGINT) << 26) + ty AS cell,
           count(*) AS n_px,
           CAST(sum(tri_w8) AS BIGINT) AS tri_w8_sum,
           CAST(sum(tri_r2) AS BIGINT) AS tri_r2_sum,
           CAST(sum(tpi8) AS BIGINT) AS tpi8_sum,
           CAST(sum(abs(tpi8)) AS BIGINT) AS tpi8_abs_sum,
           CAST(sum(rough) AS BIGINT) AS rough_sum,
           CAST(max(rough) AS BIGINT) AS rough_max,
           CAST(0 AS BIGINT) AS n_bad
    FROM ti GROUP BY tx, ty
"""


def q_color_relief(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaldem color-relief over the DEM fixture: piecewise-linear
    RGB ramp with dyadically-spaced stops (0/64/128/192/256), so
    every interpolation frac is k/64 — exact in IEEE — and the ONLY
    rounding is banker's (np.rint ↔ round_even). Per-tile channel
    sums; a wrong segment pick, a clamp error at 255, or an
    interpolation-order drift all break the hash."""
    from gdal_drivers_spark.operators.dem import color_relief

    tiles = _grid_pattern_tiles(spark, 2, 4, 32, lambda gx, gy: (3 * gx + 5 * gy) % 256, encode=True)
    ramp = [
        (0, (0, 0, 128)),      # deep blue
        (64, (0, 255, 0)),     # green
        (128, (255, 255, 0)),  # yellow
        (192, (160, 82, 45)),  # sienna
        (256, (255, 255, 255)),
    ]
    out = color_relief(tiles, ramp)
    return out.select(
        "cell", *(_pixel_checksum(F.col(c)).v_sum.alias(f"{c}_sum") for c in "rgb")
    )


def _color_relief_oracle_sql() -> str:
    stops = [(0, 0, 0, 128), (64, 0, 255, 0), (128, 255, 255, 0),
             (192, 160, 82, 45), (256, 255, 255, 255)]

    def chan(ci: int) -> str:
        # v in [0,255] → segment v//64 (always < 4), frac = (v%64)/64
        cases = []
        for s in range(4):
            c0, c1 = stops[s][ci], stops[s + 1][ci]
            cases.append(
                f"WHEN v // 64 = {s} THEN round_even("
                f"{c0} + ((v % 64) / 64.0) * ({c1} - {c0}), 0)"
            )
        return "CASE " + " ".join(cases) + " END"

    return f"""
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), v AS (
        SELECT x // 32 AS tx, y // 32 AS ty,
               (3 * x + 5 * y) % 256 AS v
        FROM px
    )
    SELECT (CAST(2 AS BIGINT) << 52) + (CAST(tx AS BIGINT) << 26) + ty AS cell,
           CAST(sum({chan(1)}) AS BIGINT) AS r_sum,
           CAST(sum({chan(2)}) AS BIGINT) AS g_sum,
           CAST(sum({chan(3)}) AS BIGINT) AS b_sum
    FROM v GROUP BY tx, ty
"""


def q_contour_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_contour's topology, exactly checkable (r05): marching-
    squares case census over the DEM fixture at three contour levels.
    Squares are owned by the tile of their top-left pixel (disjoint
    partition of the dual grid — per-tile counts sum to the whole-
    raster answer with no seam double-count); the trailing square
    column/row reads the strip halo, and the domain edge drops its
    nonexistent square column/row. n_segments and case_sum are exact
    integers; vertex interpolation rides on these cases and is
    pytest-pinned."""
    from gdal_drivers_spark.operators.dem import contour_case_census

    tiles = _grid_pattern_tiles(spark, 2, 4, 32, lambda gx, gy: (3 * gx + 5 * gy) % 256)
    return contour_case_census(
        tiles, tile_px=32, levels=[64.0, 128.0, 192.0], grid_wh=(4, 4)
    )


_CONTOUR_ORACLE_SQL = """
    WITH sq AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 126) gx(x), generate_series(0, 126) gy(y)
    ), lv AS (
        SELECT CAST(l.v AS DOUBLE) AS level FROM (VALUES (64), (128), (192)) l(v)
    ), cs AS (
        SELECT x // 32 AS tx, y // 32 AS ty, level,
               CASE WHEN (3 * x + 5 * y) % 256 >= level THEN 1 ELSE 0 END
             + CASE WHEN (3 * (x+1) + 5 * y) % 256 >= level THEN 2 ELSE 0 END
             + CASE WHEN (3 * x + 5 * (y+1)) % 256 >= level THEN 4 ELSE 0 END
             + CASE WHEN (3 * (x+1) + 5 * (y+1)) % 256 >= level THEN 8 ELSE 0 END
               AS cse
        FROM sq, lv
    )
    SELECT (CAST(2 AS BIGINT) << 52) + (CAST(tx AS BIGINT) << 26) + ty AS cell,
           level,
           count(*) AS n_squares,
           CAST(sum(CASE WHEN cse IN (0, 15) THEN 0
                         WHEN cse IN (6, 9) THEN 2
                         ELSE 1 END) AS BIGINT) AS n_segments,
           CAST(sum(cse) AS BIGINT) AS case_sum,
           CAST(0 AS BIGINT) AS n_bad
    FROM cs GROUP BY tx, ty, level
"""


def q_polygonize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_polygonize, distributed (r05): global equal-value
    components over a 4×4 tile grid via local union-find labeling +
    seam-key equivalence edges + hash-min label propagation
    (dedup.connected_components reused on the COMPONENT graph).
    Components are keyed by their minimum global pixel id — canonical
    and tile-layout-invariant. The fixture's 4-class diagonal field
    has analytically known components (the unwrapped-value stripes
    s = (3x+5y)//64, verified by flood fill), so even though iterative
    CC is not SQL-expressible in general, THIS oracle is exact: per
    stripe min gpid, pixel count and per-tile piece count (for THIS
    fixture each stripe∩tile is one connected piece — verified by the
    same flood fill — so pieces == tiles crossed)."""
    from gdal_drivers_spark.operators.polygonize import polygonize

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: ((3 * gx + 5 * gy) % 256) // 64 * 64)
    return polygonize(tiles, tile_px=32, grid_wh=(4, 4))


_POLYGONIZE_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), f AS (
        SELECT x, y,
               (3 * x + 5 * y) // 64 AS s,
               (((3 * x + 5 * y) % 256) // 64) * 64 AS v,
               y * 128 + x AS gpid
        FROM px
    )
    SELECT CAST(min(gpid) AS BIGINT) AS component,
           CAST(min(v) AS BIGINT) AS value,
           count(*) AS n_px,
           CAST(count(DISTINCT (x // 32) * 16 + (y // 32)) AS BIGINT) AS n_pieces
    FROM f GROUP BY s
"""


def q_sieve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_sieve, distributed (r05): components under 300 px merge
    into their largest-shared-boundary neighbor (ties → lowest
    component id). On the stripe fixture the two thin corner stripes
    (152 px and 122 px) each have exactly one neighbor, no chains —
    so the whole merge, including absorbed pixel sums, is analytic:
    the oracle derives adjacency from the closed-form field with no
    joins (s(x+1,y) is just as computable as s(x,y))."""
    from gdal_drivers_spark.operators.polygonize import sieve

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: ((3 * gx + 5 * gy) % 256) // 64 * 64)
    return sieve(tiles, tile_px=32, grid_wh=(4, 4), threshold=300)


_SIEVE_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), f AS (
        SELECT x, y,
               (3 * x + 5 * y) // 64 AS s,
               (((3 * x + 5 * y) % 256) // 64) * 64 AS v,
               y * 128 + x AS gpid
        FROM px
    ), comp AS (
        SELECT s, CAST(min(gpid) AS BIGINT) AS component,
               CAST(min(v) AS BIGINT) AS value, count(*) AS n_px
        FROM f GROUP BY s
    ), adjp AS (
        SELECT LEAST(sa, sb) AS ax, GREATEST(sa, sb) AS ay, count(*) AS cnt
        FROM (
            SELECT s AS sa, (3 * (x + 1) + 5 * y) // 64 AS sb FROM f WHERE x < 127
            UNION ALL
            SELECT s AS sa, (3 * x + 5 * (y + 1)) // 64 AS sb FROM f WHERE y < 127
        ) WHERE sa != sb GROUP BY 1, 2
    ), adj2 AS (
        SELECT ax AS x, ay AS y, cnt FROM adjp
        UNION ALL SELECT ay, ax, cnt FROM adjp
    ), tgt AS (
        SELECT b.x AS s, b.y AS t,
               row_number() OVER (PARTITION BY b.x ORDER BY b.cnt DESC, b.y) AS rn
        FROM adj2 b JOIN comp c ON c.s = b.x AND c.n_px < 300
    ), remap AS (SELECT s, t FROM tgt WHERE rn = 1)
    SELECT c.component, c.value,
           CAST(c.n_px + COALESCE(ab.apx, 0) AS BIGINT) AS n_px,
           CAST(COALESCE(ab.k, 0) AS BIGINT) AS n_absorbed
    FROM comp c
    LEFT JOIN (
        SELECT r.t AS s, SUM(c2.n_px) AS apx, count(*) AS k
        FROM remap r JOIN comp c2 ON c2.s = r.s GROUP BY r.t
    ) ab ON ab.s = c.s
    WHERE c.s NOT IN (SELECT s FROM remap)
"""


def q_sieve_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_sieve's OUTPUT RASTER (r05): rewrite every sub-threshold
    component's pixels with its absorber's value (``sieve_apply``) —
    the form gdal_sieve.py actually emits (reference surface: the
    Resampling/util family, gdaldriversmodule.cpp). Same stripe
    fixture as q_sieve: the two thin corner stripes merge into their
    single neighbors, no chains, so the FINAL per-pixel value is
    closed-form and the oracle replays the relabel analytically.
    Checked per tile: the relabeled-pixel count and the pixel sum of
    the output bytes — a wrong absorber value, a missed pixel, or a
    touched pass-through tile all break the hash."""
    from gdal_drivers_spark.operators.polygonize import sieve_apply

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: ((3 * gx + 5 * gy) % 256) // 64 * 64)
    out = sieve_apply(tiles, tile_px=32, grid_wh=(4, 4), threshold=300)
    return out.select(
        (F.shiftright(F.col("cell"), 26) % F.lit(1 << 26)).alias("tcx"),
        (F.col("cell") % F.lit(1 << 26)).alias("tcy"),
        F.col("n_relabeled"),
        _pixel_checksum(F.col("tile")).v_sum.alias("px_sum"),
    )


_SIEVE_APPLY_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), f AS (
        SELECT x, y,
               (3 * x + 5 * y) // 64 AS s,
               (((3 * x + 5 * y) % 256) // 64) * 64 AS v,
               y * 128 + x AS gpid
        FROM px
    ), comp AS (
        SELECT s, CAST(min(v) AS BIGINT) AS value, count(*) AS n_px
        FROM f GROUP BY s
    ), adjp AS (
        SELECT LEAST(sa, sb) AS ax, GREATEST(sa, sb) AS ay, count(*) AS cnt
        FROM (
            SELECT s AS sa, (3 * (x + 1) + 5 * y) // 64 AS sb FROM f WHERE x < 127
            UNION ALL
            SELECT s AS sa, (3 * x + 5 * (y + 1)) // 64 AS sb FROM f WHERE y < 127
        ) WHERE sa != sb GROUP BY 1, 2
    ), adj2 AS (
        SELECT ax AS x, ay AS y, cnt FROM adjp
        UNION ALL SELECT ay, ax, cnt FROM adjp
    ), tgt AS (
        SELECT b.x AS s, b.y AS t,
               row_number() OVER (PARTITION BY b.x ORDER BY b.cnt DESC, b.y) AS rn
        FROM adj2 b JOIN comp c ON c.s = b.x AND c.n_px < 300
    ), remap AS (SELECT s, t FROM tgt WHERE rn = 1),
    fin AS (
        SELECT f.x, f.y,
               CASE WHEN cv.value IS NOT NULL AND cv.value != f.v
                    THEN cv.value ELSE f.v END AS fv,
               CASE WHEN cv.value IS NOT NULL AND cv.value != f.v
                    THEN 1 ELSE 0 END AS rel
        FROM f
        LEFT JOIN remap r ON r.s = f.s
        LEFT JOIN comp cv ON cv.s = r.t
    )
    SELECT CAST(x // 32 AS BIGINT) AS tcx, CAST(y // 32 AS BIGINT) AS tcy,
           CAST(SUM(rel) AS BIGINT) AS n_relabeled,
           CAST(SUM(fv) AS BIGINT) AS px_sum
    FROM fin GROUP BY 1, 2
"""


def q_proximity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_proximity with -maxdist (r05): per-pixel squared distance
    to the nearest class-0 pixel within 5 px. The bounded radius is
    what makes GDAL's inherently-sequential two-pass sweep distribute:
    one width-5 band-halo exchange (raster + 4·w·t bytes per tile,
    never 9×) then an embarrassingly parallel shift-and-min kernel —
    exact integers end to end, so the oracle replays the disk scan in
    SQL (pixels × the 81-offset radius disk, bounds-checked at the
    raster border). Checked per tile: reached-pixel count and the
    d²-field checksum (sentinel max_dist²+1 included)."""
    from gdal_drivers_spark.operators.proximity import proximity

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: ((3 * gx + 5 * gy) % 256) // 64 * 64)
    out = proximity(tiles, tile_px=32, target_value=0, max_dist=5)
    return out.select(
        (F.shiftright(F.col("cell"), 26) % F.lit(1 << 26)).alias("tcx"),
        (F.col("cell") % F.lit(1 << 26)).alias("tcy"),
        "n_reached",
        "d2_sum",
    )


_PROXIMITY_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), off AS (
        SELECT dx.i AS ddx, dy.i AS ddy
        FROM generate_series(-5, 5) dx(i), generate_series(-5, 5) dy(i)
        WHERE dx.i * dx.i + dy.i * dy.i <= 25
    ), d AS (
        SELECT p.x, p.y, MIN(o.ddx * o.ddx + o.ddy * o.ddy) AS d2
        FROM px p JOIN off o
          ON p.x + o.ddx BETWEEN 0 AND 127
         AND p.y + o.ddy BETWEEN 0 AND 127
         AND ((3 * (p.x + o.ddx) + 5 * (p.y + o.ddy)) % 256) // 64 = 0
        GROUP BY p.x, p.y
    )
    SELECT CAST(p.x // 32 AS BIGINT) AS tcx, CAST(p.y // 32 AS BIGINT) AS tcy,
           CAST(COUNT(d.d2) AS BIGINT) AS n_reached,
           CAST(SUM(COALESCE(d.d2, 26)) AS BIGINT) AS d2_sum
    FROM px p LEFT JOIN d ON d.x = p.x AND d.y = p.y
    GROUP BY 1, 2
"""


def q_sample_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdallocationinfo, set-at-a-time (r05): sample the pixel under
    500 deterministic points from the tiled stripe fixture — the
    label-sampling primitive (ground truth under annotation points at
    10⁹-point scale). The whole operator is ONE whole-stage-codegen
    projection + a broadcast equi-join on the cell id: the byte is
    extracted JVM-side via conv(hex(substring(tile, off, 1)), 16, 10),
    no Python worker anywhere (plan-asserted in pytest). The oracle
    replays the closed-form field at the same points."""
    from gdal_drivers_spark.operators.lookup import sample_points

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: ((3 * gx + 5 * gy) % 256) // 64 * 64)
    pts = spark.range(500).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 37) % 128).alias("px"),
        ((F.col("id") * 61) % 128).alias("py"),
    )
    return sample_points(pts, tiles, tile_px=32, z=4)


_SAMPLE_POINTS_ORACLE_SQL = """
    WITH pts AS (
        SELECT i.i AS pid, (i.i * 37) % 128 AS px, (i.i * 61) % 128 AS py
        FROM generate_series(0, 499) i(i)
    )
    SELECT CAST(pid AS BIGINT) AS pid,
           CAST(px AS BIGINT) AS px, CAST(py AS BIGINT) AS py,
           CAST((4 * 4503599627370496) + (px // 32) * 67108864 + (py // 32)
                AS BIGINT) AS cell_id,
           CAST((((3 * px + 5 * py) % 256) // 64) * 64 AS INT) AS value,
           TRUE AS px_ok
    FROM pts
"""


def _grid_fixture_points(spark):
    """60 deterministic scattered points for the gdal_grid queries —
    closed-form so the oracles regenerate them with generate_series."""
    return spark.range(60).select(
        F.col("id").alias("pid"),
        ((F.col("id") * 41) % 128).alias("px"),
        ((F.col("id") * 89) % 128).alias("py"),
        (1 + (F.col("id") * 7) % 255).alias("v"),
    )


def q_grid_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_grid -a nearest (r05): 60 scattered points interpolate a
    4×4-tile raster — nearest point within radius 7, equidistant ties
    → lowest pid (pinned: gdal_grid leaves it unspecified, a
    distributed engine cannot). The point→tile scatter is a JVM
    explode over radius-expanded envelopes (no Python), one shuffle,
    then a per-tile vectorized kernel; empty tiles coalesce to nodata
    rasters JVM-side so the output is the DENSE cell universe. Exact
    integer metric → the oracle replays pixel argmin in SQL; checked
    per tile: candidate count, filled count, value sum and a
    position-weighted value sum (pixel placement sensitive)."""
    from gdal_drivers_spark.operators.gridding import grid_nearest

    out = grid_nearest(_grid_fixture_points(spark), 32, 4, 7, (4, 4))

    return _tile_checksums(out, "raster", "n_points", "n_filled")


_GRID_PTS_CTE = """
    pts AS (
        SELECT i.i AS pid, (i.i * 41) % 128 AS px, (i.i * 89) % 128 AS py,
               1 + (i.i * 7) % 255 AS v
        FROM generate_series(0, 59) i(i)
    ), gpx AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), tiles AS (
        SELECT tx.i AS tcx, ty.i AS tcy
        FROM generate_series(0, 3) tx(i), generate_series(0, 3) ty(i)
    ), np AS (
        SELECT t.tcx, t.tcy, count(*) AS n_points
        FROM tiles t JOIN pts p
          ON t.tcx BETWEEN (p.px - 7) // 32 AND (p.px + 7) // 32
         AND t.tcy BETWEEN (p.py - 7) // 32 AND (p.py + 7) // 32
        GROUP BY 1, 2
    ), cand AS (
        SELECT g.x, g.y, p.v, p.pid,
               (p.px - g.x) * (p.px - g.x) + (p.py - g.y) * (p.py - g.y) AS d2
        FROM gpx g JOIN pts p
          ON (p.px - g.x) * (p.px - g.x) + (p.py - g.y) * (p.py - g.y) <= 49
    )
"""

_GRID_NEAREST_ORACLE_SQL = f"""
    WITH {_GRID_PTS_CTE}, sel AS (
        SELECT x, y, v,
               row_number() OVER (PARTITION BY x, y ORDER BY d2, pid) AS rn
        FROM cand
    ), fill AS (
        SELECT x, y, v,
               ((y % 32) * 32 + (x % 32) + 1) AS pos
        FROM sel WHERE rn = 1
    )
    SELECT t.tcx AS tcx, t.tcy AS tcy,
           CAST(COALESCE(n.n_points, 0) AS BIGINT) AS n_points,
           CAST(COALESCE(f.n_filled, 0) AS BIGINT) AS n_filled,
           CAST(COALESCE(f.v_sum, 0) AS BIGINT) AS v_sum,
           CAST(COALESCE(f.vpos_sum, 0) AS BIGINT) AS vpos_sum
    FROM tiles t
    LEFT JOIN np n ON n.tcx = t.tcx AND n.tcy = t.tcy
    LEFT JOIN (
        SELECT x // 32 AS tcx, y // 32 AS tcy, count(*) AS n_filled,
               SUM(v) AS v_sum, SUM(v * pos) AS vpos_sum
        FROM fill GROUP BY 1, 2
    ) f ON f.tcx = t.tcx AND f.tcy = t.tcy
"""


def q_grid_idw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_grid -a invdist (r05): inverse-distance-squared mean of
    the in-radius points, coincident pixel takes the point's value
    exactly. FP weights are not SQL-replayable (sum order), so the
    hash gate covers the EXACT-INTEGER surface — per-tile candidate
    and filled-pixel counts (scatter correctness + reachability);
    the interpolated bytes are pinned bit-for-bit by
    tests/test_gridding.py's scalar oracle (house rule for FP
    kernels, same as warp_lanczos)."""
    from gdal_drivers_spark.operators.gridding import grid_idw

    out = grid_idw(_grid_fixture_points(spark), 32, 4, 7, (4, 4))
    return out.select(
        (F.shiftright(F.col("cell"), 26) % F.lit(1 << 26)).alias("tcx"),
        (F.col("cell") % F.lit(1 << 26)).alias("tcy"),
        "n_points", "n_filled",
    )


_GRID_IDW_ORACLE_SQL = f"""
    WITH {_GRID_PTS_CTE}, reach AS (
        SELECT x, y FROM cand GROUP BY x, y
    )
    SELECT t.tcx AS tcx, t.tcy AS tcy,
           CAST(COALESCE(n.n_points, 0) AS BIGINT) AS n_points,
           CAST(COALESCE(f.n_filled, 0) AS BIGINT) AS n_filled
    FROM tiles t
    LEFT JOIN np n ON n.tcx = t.tcx AND n.tcy = t.tcy
    LEFT JOIN (
        SELECT x // 32 AS tcx, y // 32 AS tcy, count(*) AS n_filled
        FROM reach GROUP BY 1, 2
    ) f ON f.tcx = t.tcx AND f.tcy = t.tcy
"""


def _supplier_pattern_images(spark, sf_dir, band_phash, bands=1):
    """Supplier-keyed 32×32 pattern images; ``band_phash`` maps
    s_suppkey → the pattern phash (closed-form, oracle-mirrored)."""
    from gdal_drivers_spark.core import codecs
    from gdal_drivers_spark.sources.synth import pattern

    def gen(g):
        for s in g["s_suppkey"]:
            yield str(s), codecs.encode_raw(pattern(32, 32, bands, band_phash(s))), 32, 32, "raw"

    return run_batches(spark.read.parquet(f"{sf_dir}/supplier.parquet"), ["s_suppkey"], gen,
                       "image_id string, bytes binary, w int, h int, fmt string")


def _raster_checksum_cols(out):
    """(sid, v_sum, vpos_sum) from a (image_id, bytes) raster frame —
    the house per-image hash-gate reduction over decoded pixels."""
    return out.select(
        F.col("image_id").cast("long").alias("sid"),
        _pixel_checksum(F.col("bytes"), decoded=True).alias("_c"),
    ).select("sid", "_c.v_sum", "_c.vpos_sum")


def q_equalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalenhance -equalize (r05): per-image histogram equalization
    under the pinned integer rule out = (cdf(v)−cdf_min)·255 //
    (N−cdf_min). The oracle rebuilds each image's histogram, windowed
    CDF and LUT in SQL and maps every closed-form pixel through it;
    checked per image: value sum + position-weighted sum."""
    from gdal_drivers_spark.operators.multimodal import equalize_images

    imgs = _supplier_pattern_images(spark, sf_dir, lambda s: s % 256)
    return _raster_checksum_cols(equalize_images(imgs))


_EQUALIZE_ORACLE_SQL = """
    WITH px AS (
        SELECT s.s_suppkey AS sid, gx.x AS x, gy.y AS y,
               (gx.x * 3 + gy.y * 5 + s.s_suppkey % 256) % 256 AS v
        FROM supplier s,
             generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    ), cdf AS (
        SELECT sid, v, SUM(n) OVER (PARTITION BY sid ORDER BY v) AS cdf
        FROM (SELECT sid, v, count(*) AS n FROM px GROUP BY sid, v)
    ), cmin AS (
        SELECT c.sid, c.cdf AS cmin
        FROM cdf c JOIN (SELECT sid, MIN(v) AS vmin FROM px GROUP BY sid) m
          ON m.sid = c.sid AND m.vmin = c.v
    ), lut AS (
        SELECT c.sid, c.v,
               (c.cdf - m.cmin) * 255 // (1024 - m.cmin) AS ov
        FROM cdf c JOIN cmin m ON m.sid = c.sid
    )
    SELECT CAST(p.sid AS BIGINT) AS sid,
           CAST(SUM(l.ov) AS BIGINT) AS v_sum,
           CAST(SUM(l.ov * (p.y * 32 + p.x + 1)) AS BIGINT) AS vpos_sum
    FROM px p JOIN lut l ON l.sid = p.sid AND l.v = p.v
    GROUP BY p.sid
"""


def q_img_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_translate -scale (r05): per-image auto linear stretch
    under the pinned rule out = (v−min)·255 // (max−min); the oracle
    computes each image's min/max and replays the remap per pixel."""
    from gdal_drivers_spark.operators.multimodal import scale_images

    imgs = _supplier_pattern_images(spark, sf_dir, lambda s: s % 256)
    return _raster_checksum_cols(scale_images(imgs))


_IMG_SCALE_ORACLE_SQL = """
    WITH px AS (
        SELECT s.s_suppkey AS sid, gx.x AS x, gy.y AS y,
               (gx.x * 3 + gy.y * 5 + s.s_suppkey % 256) % 256 AS v
        FROM supplier s,
             generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    ), mm AS (
        SELECT sid, MIN(v) AS mn, MAX(v) AS mx FROM px GROUP BY sid
    )
    SELECT CAST(p.sid AS BIGINT) AS sid,
           CAST(SUM((p.v - m.mn) * 255 // (m.mx - m.mn)) AS BIGINT) AS v_sum,
           CAST(SUM(((p.v - m.mn) * 255 // (m.mx - m.mn))
                    * (p.y * 32 + p.x + 1)) AS BIGINT) AS vpos_sum
    FROM px p JOIN mm m ON m.sid = p.sid
    GROUP BY p.sid
"""


def q_pansharpen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_pansharpen.py (r05): weighted Brovey under the pinned
    integer rule out_b = (band·pan·ΣW) // Σ(W_i·band_i), weights
    (1,2,1), supplier-keyed 3-band MS + 1-band pan pattern pairs.
    The oracle replays the fusion per closed-form pixel (the pattern
    guarantees a nonzero pseudo-pan, but the zero rule is mirrored
    anyway); checked per image: value sum + position-weighted sum of
    the fused 3-band raster."""
    from gdal_drivers_spark.operators.multimodal import pansharpen

    ms = _supplier_pattern_images(spark, sf_dir, lambda s: s % 256, bands=3)
    pan = _supplier_pattern_images(spark, sf_dir, lambda s: (3 * s + 5) % 256)
    return _raster_checksum_cols(pansharpen(ms, pan, weights=(1, 2, 1)))


_PANSHARPEN_ORACLE_SQL = """
    WITH px AS (
        SELECT s.s_suppkey AS sid, gx.x AS x, gy.y AS y, c.i AS c,
               (gx.x * 3 + gy.y * 5 + c.i * 7 + s.s_suppkey % 256) % 256 AS m,
               (gx.x * 3 + gy.y * 5 + (3 * s.s_suppkey + 5) % 256) % 256 AS p
        FROM supplier s,
             generate_series(0, 31) gx(x), generate_series(0, 31) gy(y),
             generate_series(0, 2) c(i)
    ), den AS (
        SELECT sid, x, y,
               SUM(m * CASE c WHEN 1 THEN 2 ELSE 1 END) AS d
        FROM px GROUP BY 1, 2, 3
    ), v AS (
        SELECT px.sid,
               CASE WHEN den.d > 0
                    THEN least(px.m * px.p * 4 // den.d, 255) ELSE 0 END AS val,
               (px.y * 32 + px.x) * 3 + px.c + 1 AS pos
        FROM px JOIN den ON den.sid = px.sid AND den.x = px.x AND den.y = px.y
    )
    SELECT CAST(sid AS BIGINT) AS sid,
           CAST(SUM(val) AS BIGINT) AS v_sum,
           CAST(SUM(val * pos) AS BIGINT) AS vpos_sum
    FROM v GROUP BY sid
"""


def q_retile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_retile.py (r05): re-cut the 3×3×32px diagonal-field mosaic
    into NON-NESTING 48-px tiles — every output tile stitches from 4
    sources, the shuffle moves raster bytes exactly once. Byte-exact
    by construction; the oracle regroups the closed-form pixels by the
    output grid. Checked per output tile: source count, value sum,
    position-weighted sum."""
    from gdal_drivers_spark.operators.pyramid import retile

    tiles = _grid_pattern_tiles(
        spark, 4, 3, 32, lambda gx, gy: (3 * gx + 5 * gy) % 256)
    out = retile(tiles, 32, 48, 4, (3, 3))

    return _tile_checksums(out, "tile", "n_src", "ok")


_RETILE_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y, (3 * gx.x + 5 * gy.y) % 256 AS v
        FROM generate_series(0, 95) gx(x), generate_series(0, 95) gy(y)
    )
    SELECT CAST(x // 48 AS BIGINT) AS tcx, CAST(y // 48 AS BIGINT) AS tcy,
           CAST(count(DISTINCT (x // 32) * 100 + (y // 32)) AS BIGINT) AS n_src,
           TRUE AS ok,
           CAST(SUM(v) AS BIGINT) AS v_sum,
           CAST(SUM(v * ((y % 48) * 48 + (x % 48) + 1)) AS BIGINT) AS vpos_sum
    FROM px GROUP BY 1, 2
"""


def q_viewshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_viewshed (r05): 16 observers on the sawtooth DEM
    (3x+5y)%256, radius 10, observer height 2, under the pinned
    integer ray rule (step i of the line to (a,b) lands on
    sign·((2i|d|+n) // 2n), blocking is the cross-multiplied slope
    comparison — grazing-equal blocks). Every quantity is exact
    integers, so the oracle replays the ENTIRE sweep in SQL —
    16 observers × ≤317 targets × ≤9 steps. Checked per observer:
    in-grid window size, evaluated and visible counts, and the
    position-weighted sum of the visibility raster."""
    from gdal_drivers_spark.operators.viewshed import viewshed

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: (3 * gx + 5 * gy) % 256)
    obs = spark.range(16).select(
        F.col("id").alias("oid"),
        (8 + (F.col("id") % 4) * 32).alias("px"),
        (8 + (F.col("id") / 4).cast("long") * 32).alias("py"),
    )
    out = viewshed(obs, tiles, 32, 4, (4, 4), radius=10, observer_height=2)

    return out.select(
        "oid", "n_window", "n_eval", "n_visible",
        _pixel_checksum(F.col("vis")).vpos_sum.alias("vpos_sum"),
    )


_VIEWSHED_ORACLE_SQL = """
    WITH obs AS (
        SELECT k.i AS oid, 8 + (k.i % 4) * 32 AS ox, 8 + (k.i // 4) * 32 AS oy,
               (3 * (8 + (k.i % 4) * 32) + 5 * (8 + (k.i // 4) * 32)) % 256
                   + 2 AS h0
        FROM generate_series(0, 15) k(i)
    ), tgt AS (
        SELECT o.oid, o.ox, o.oy, o.h0, a.i AS a, b.i AS b,
               greatest(abs(a.i), abs(b.i)) AS n,
               (3 * (o.ox + a.i) + 5 * (o.oy + b.i)) % 256 AS ht
        FROM obs o, generate_series(-10, 10) a(i), generate_series(-10, 10) b(i)
        WHERE a.i * a.i + b.i * b.i <= 100 AND NOT (a.i = 0 AND b.i = 0)
          AND o.ox + a.i BETWEEN 0 AND 127 AND o.oy + b.i BETWEEN 0 AND 127
    ), blk AS (
        SELECT t.oid, t.a, t.b,
               max(CASE WHEN
                   ((3 * (t.ox + CASE WHEN t.a >= 0 THEN 1 ELSE -1 END
                          * ((2 * s.i * abs(t.a) + t.n) // (2 * t.n)))
                     + 5 * (t.oy + CASE WHEN t.b >= 0 THEN 1 ELSE -1 END
                            * ((2 * s.i * abs(t.b) + t.n) // (2 * t.n))))
                    % 256 - t.h0) * t.n >= (t.ht - t.h0) * s.i
                   THEN 1 ELSE 0 END) AS blocked
        FROM tgt t JOIN generate_series(1, 9) s(i) ON s.i < t.n
        GROUP BY 1, 2, 3
    ), vis AS (
        SELECT t.oid, t.a, t.b
        FROM tgt t LEFT JOIN blk ON blk.oid = t.oid AND blk.a = t.a
                                AND blk.b = t.b
        WHERE COALESCE(blk.blocked, 0) = 0
    ), nw AS (
        SELECT o.oid, count(*) AS n_window
        FROM obs o, generate_series(-10, 10) a(i), generate_series(-10, 10) b(i)
        WHERE o.ox + a.i BETWEEN 0 AND 127 AND o.oy + b.i BETWEEN 0 AND 127
        GROUP BY 1
    ), ne AS (
        SELECT oid, count(*) AS n_tgt FROM tgt GROUP BY 1
    ), nv AS (
        SELECT oid, count(*) AS n_vis,
               SUM((b + 10) * 21 + (a + 10) + 1) AS tpos
        FROM vis GROUP BY 1
    )
    SELECT CAST(o.oid AS BIGINT) AS oid,
           CAST(nw.n_window AS BIGINT) AS n_window,
           CAST(1 + COALESCE(ne.n_tgt, 0) AS BIGINT) AS n_eval,
           CAST(1 + COALESCE(nv.n_vis, 0) AS BIGINT) AS n_visible,
           CAST(221 + COALESCE(nv.tpos, 0) AS BIGINT) AS vpos_sum
    FROM obs o
    LEFT JOIN nw ON nw.oid = o.oid
    LEFT JOIN ne ON ne.oid = o.oid
    LEFT JOIN nv ON nv.oid = o.oid
"""


def q_ogr_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ogr2ogr -t_srs (r05): Column-only point reprojection — supplier
    lon/lat → UTM 33N via transform_points, then the COMPOSED hop
    EPSG:32633 → EPSG:3857 (tm_inverse ∘ Mercator through the 4326
    hub — the composition path get_transform builds, which no other
    oracle query exercised). The oracle SQL is GENERATED from the same
    formula source via the SQL_OPS backend, so both engines evaluate
    the identical IEEE tree — bit-parity by construction."""
    from gdal_drivers_spark.operators.spatial_join import transform_points

    supp = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("k"),
        (F.lit(12.0) + ((F.col("s_suppkey") % 600).cast("double") * F.lit(0.01))).alias("x"),
        (F.lit(-75.0) + ((F.col("s_suppkey") % 1500).cast("double") * F.lit(0.1))).alias("y"),
    )
    utm = transform_points(supp, "EPSG:4326", "EPSG:32633",
                           out_x="utm_e", out_y="utm_n")
    merc = transform_points(utm, "EPSG:32633", "EPSG:3857",
                            x="utm_e", y="utm_n",
                            out_x="merc_x", out_y="merc_y")
    return merc.select("k", "utm_e", "utm_n", "merc_x", "merc_y")


def _ogr_transform_oracle_sql() -> str:
    import math

    from gdal_drivers_spark.core.srs import (
        R_MERC, _D2R, SQL_OPS, _SqlExpr, tm_forward, tm_inverse,
    )

    lon = _SqlExpr("(12.0 + (CAST((s_suppkey % 600) AS DOUBLE) * 0.01))")
    lat = _SqlExpr("((- 75.0) + (CAST((s_suppkey % 1500) AS DOUBLE) * 0.1))")
    e, n = tm_forward(lon, lat, 15.0, 0.0, SQL_OPS)
    lon2, lat2 = tm_inverse(_SqlExpr("utm_e"), _SqlExpr("utm_n"), 15.0, 0.0, SQL_OPS)
    # mirror _geo_to_merc's Column expressions exactly (same op order)
    merc_x = f"({lon2.s} * {R_MERC * _D2R!r})"
    merc_y = (f"({R_MERC!r} * ln(tan({math.pi / 4.0!r} "
              f"+ ({lat2.s} * {_D2R / 2.0!r}))))")
    return f"""
        WITH utm AS (
            SELECT s_suppkey AS k, {e.s} AS utm_e, {n.s} AS utm_n
            FROM supplier
        )
        SELECT CAST(k AS BIGINT) AS k, utm_e, utm_n,
               {merc_x} AS merc_x, {merc_y} AS merc_y
        FROM utm
    """


def q_mosaic_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_merge.py (r05): last-wins nodata-skipping composition —
    source 1 covers the whole 4×4 grid (diagonal field, natural 0
    holes), source 2 only the checkerboard-even tiles (a different
    field); src 2 paints over src 1 wherever its pixel is nonzero.
    Distinct semantics from the weighted feathered blend. The oracle
    replays the per-pixel CASE; checked per tile: source count,
    filled count, value sum, position-weighted sum."""
    import numpy as np

    from gdal_drivers_spark.operators.blend import mosaic_lastwins

    def gen(g):
        for i in g["id"]:
            tx, ty = i // 4, i % 4
            x = np.arange(32)[None, :] + tx * 32
            y = np.arange(32)[:, None] + ty * 32
            c = (4 << 52) + (tx << 26) + ty
            yield c, 1, ((3 * x + 5 * y) % 256).astype(np.uint8).tobytes()
            if (tx + ty) % 2 == 0:
                yield c, 2, ((x + 7 * y + 3) % 256).astype(np.uint8).tobytes()

    tiles = run_batches(spark.range(16), ["id"], gen, "cell long, src_id long, raster binary")
    out = mosaic_lastwins(tiles, 32)

    return _tile_checksums(out, "raster", "n_sources", "n_filled")


_MOSAIC_MERGE_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y,
               (3 * gx.x + 5 * gy.y) % 256 AS v1,
               (gx.x + 7 * gy.y + 3) % 256 AS v2,
               ((gx.x // 32) + (gy.y // 32)) % 2 = 0 AS has2
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), m AS (
        SELECT x // 32 AS tcx, y // 32 AS tcy,
               CASE WHEN has2 AND v2 != 0 THEN v2 ELSE v1 END AS v,
               (y % 32) * 32 + (x % 32) + 1 AS pos,
               CASE WHEN has2 THEN 2 ELSE 1 END AS ns
        FROM px
    )
    SELECT CAST(tcx AS BIGINT) AS tcx, CAST(tcy AS BIGINT) AS tcy,
           CAST(MAX(ns) AS BIGINT) AS n_sources,
           CAST(SUM(CASE WHEN v != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           CAST(SUM(v) AS BIGINT) AS v_sum,
           CAST(SUM(v * pos) AS BIGINT) AS vpos_sum
    FROM m GROUP BY 1, 2
"""


def q_raster_xyz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal2xyz.py (r05): export the diagonal-field mosaic as
    (gx, gy, v) point rows with -skipnodata (value 0 dropped AT THE
    SOURCE, before any shuffle). The oracle regenerates every
    closed-form pixel and applies the same filter — full row-level
    parity of the export."""
    from gdal_drivers_spark.operators.zonal import to_xyz

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: (3 * gx + 5 * gy) % 256)
    return to_xyz(tiles, 32, skip_value=0)


_RASTER_XYZ_ORACLE_SQL = """
    SELECT CAST(gx.x AS BIGINT) AS gx, CAST(gy.y AS BIGINT) AS gy,
           CAST((3 * gx.x + 5 * gy.y) % 256 AS BIGINT) AS v
    FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    WHERE (3 * gx.x + 5 * gy.y) % 256 != 0
"""


def q_polygonize8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_polygonize -8 (r05): 8-connectivity components over the
    checkerboard field ((x+y)%2)·255 — the fixture that MAXIMALLY
    separates the two rules: under 4-connectivity every pixel is its
    own component (16 384 of them); under 8-connectivity each color
    is ONE diagonal-connected component. The diagonal seam edges ride
    the same own-coordinates pair-key scheme (gpid·4+2/+3), no halo.
    Exact oracle: two rows, components keyed by min gpid."""
    from gdal_drivers_spark.operators.polygonize import polygonize

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: ((gx + gy) % 2) * 255)
    return polygonize(tiles, tile_px=32, grid_wh=(4, 4), connectivity=8)


_POLYGONIZE8_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y,
               ((gx.x + gy.y) % 2) * 255 AS v,
               gy.y * 128 + gx.x AS gpid
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    )
    SELECT CAST(min(gpid) AS BIGINT) AS component,
           CAST(v AS BIGINT) AS value,
           count(*) AS n_px,
           CAST(count(DISTINCT (x // 32) * 16 + (y // 32)) AS BIGINT) AS n_pieces
    FROM px GROUP BY v
"""


def q_contour_polys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_contour -p (r05): band the diagonal field (3x+5y)%256 at
    fixed levels [64,128,192] and polygonize the bands. The band field
    IS the polygonize fixture's 4-class field, so its components are
    the analytically-known unwrapped stripes s=(3x+5y)//64 (flood-fill
    verified there) and the iterative CC has an exact SQL oracle:
    per stripe min gpid, band, pixel count, tile-piece count, and the
    band's level bounds (-1 for the two open bands)."""
    from gdal_drivers_spark.operators.polygonize import contour_polygons

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: (3 * gx + 5 * gy) % 256)
    return contour_polygons(tiles, [64, 128, 192], tile_px=32, grid_wh=(4, 4))


_CONTOUR_POLYS_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), f AS (
        SELECT x, y,
               (3 * x + 5 * y) // 64 AS s,
               ((3 * x + 5 * y) % 256) // 64 AS band,
               y * 128 + x AS gpid
        FROM px
    )
    SELECT CAST(min(gpid) AS BIGINT) AS component,
           CAST(min(band) AS BIGINT) AS band,
           count(*) AS n_px,
           CAST(count(DISTINCT (x // 32) * 16 + (y // 32)) AS BIGINT) AS n_pieces,
           CAST(CASE WHEN min(band) = 0 THEN -1 ELSE min(band) * 64 END
                AS BIGINT) AS lo,
           CAST(CASE WHEN min(band) = 3 THEN -1 ELSE (min(band) + 1) * 64 END
                AS BIGINT) AS hi
    FROM f GROUP BY s
"""


def q_burn_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_rasterize (r05): three convex features (two overlapping —
    LAST-WINS in fid order is the pinned rule) burn into a 4×4-tile
    raster over init=7 background. Every ring edge has odd dx+dy so no
    pixel center sits on an edge (doubled-coordinate crosses are odd)
    and the even-odd cast equals the oracle's half-plane tests. The
    feature→tile fan-out is a JVM bbox explode; the oracle mirrors it
    for n_features. Checked per tile: burned-pixel count, landed
    features, value sum, position-weighted sum."""
    from gdal_drivers_spark.operators.rasterize import burn_features

    feats = [
        (1, [(3.0, 2.0), (40.0, 6.0), (30.0, 37.0), (6.0, 28.0)], 50),
        (2, [(20.0, 18.0), (59.0, 24.0), (50.0, 58.0), (23.0, 56.0)], 200),
        (3, [(1.0, 50.0), (12.0, 52.0), (7.0, 62.0)], 99),
    ]
    fdf = spark.createDataFrame(
        pd.DataFrame(
            [(fid, [[x, y] for x, y in ring], v) for fid, ring, v in feats],
            columns=["fid", "ring", "v"],
        ),
        "fid long, ring array<array<double>>, v long",
    )
    out = burn_features(fdf, 16, 4, (4, 4), init=7)

    return _tile_checksums(out, "raster", "n_burned", "n_features")


_BURN_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y, 2 * gx.x + 1 AS cx, 2 * gy.y + 1 AS cy
        FROM generate_series(0, 63) gx(x), generate_series(0, 63) gy(y)
    ), m AS (
        SELECT x, y,
               CASE WHEN 37 * (cy - 4)   -  4 * (cx - 6)   > 0
                     AND -10 * (cy - 12) - 31 * (cx - 80)  > 0
                     AND -24 * (cy - 74) +  9 * (cx - 60)  > 0
                     AND  -3 * (cy - 56) + 26 * (cx - 12)  > 0
                    THEN 1 ELSE 0 END AS f1,
               CASE WHEN 39 * (cy - 36)  -  6 * (cx - 40)  > 0
                     AND  -9 * (cy - 48) - 34 * (cx - 118) > 0
                     AND -27 * (cy - 116) + 2 * (cx - 100) > 0
                     AND  -3 * (cy - 112) + 38 * (cx - 46) > 0
                    THEN 1 ELSE 0 END AS f2,
               CASE WHEN 11 * (cy - 100) -  2 * (cx - 2)   > 0
                     AND  -5 * (cy - 104) - 10 * (cx - 24) > 0
                     AND  -6 * (cy - 124) + 12 * (cx - 14) > 0
                    THEN 1 ELSE 0 END AS f3
        FROM px
    ), v AS (
        SELECT x // 16 AS tcx, y // 16 AS tcy,
               CASE WHEN f3 = 1 THEN 99 WHEN f2 = 1 THEN 200
                    WHEN f1 = 1 THEN 50 ELSE 7 END AS val,
               CASE WHEN f1 + f2 + f3 > 0 THEN 1 ELSE 0 END AS b,
               (y % 16) * 16 + (x % 16) + 1 AS pos
        FROM m
    ), nf AS (
        SELECT t.tcx, t.tcy, count(*) AS n_features
        FROM (SELECT tx.i AS tcx, ty.i AS tcy
              FROM generate_series(0, 3) tx(i), generate_series(0, 3) ty(i)) t
        JOIN (VALUES (3, 40, 2, 37), (20, 59, 18, 58), (1, 12, 50, 62))
             f(bx0, bx1, by0, by1)
          ON t.tcx BETWEEN f.bx0 // 16 AND f.bx1 // 16
         AND t.tcy BETWEEN f.by0 // 16 AND f.by1 // 16
        GROUP BY 1, 2
    )
    SELECT CAST(v.tcx AS BIGINT) AS tcx, CAST(v.tcy AS BIGINT) AS tcy,
           CAST(SUM(v.b) AS BIGINT) AS n_burned,
           CAST(COALESCE(MAX(nf.n_features), 0) AS BIGINT) AS n_features,
           CAST(SUM(v.val) AS BIGINT) AS v_sum,
           CAST(SUM(v.val * v.pos) AS BIGINT) AS vpos_sum
    FROM v LEFT JOIN nf ON nf.tcx = v.tcx AND nf.tcy = v.tcy
    GROUP BY 1, 2
"""


def q_band_calc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_calc.py (r05): two supplier-keyed single-band operand
    frames join on the image key and evaluate
    ``where(A >= B, A - B, (B - A) * 2) + minimum(A, 200) % 7``
    through the whitelisted-AST compiler — exact int64 arithmetic with
    a saturating-u8 write (the un-clipped max is 516, so the clip IS
    exercised). The oracle replays the same expression per closed-form
    pixel in SQL; checked per image: value sum and position-weighted
    sum."""
    from gdal_drivers_spark.operators.calc import band_calc

    fa = _supplier_pattern_images(spark, sf_dir, lambda s: s % 256)
    fb = _supplier_pattern_images(spark, sf_dir, lambda s: (7 * s + 11) % 256)
    out = band_calc(
        {"A": fa, "B": fb},
        "where(A >= B, A - B, (B - A) * 2) + minimum(A, 200) % 7",
    )
    return _raster_checksum_cols(out)


_BAND_CALC_ORACLE_SQL = """
    WITH px AS (
        SELECT s.s_suppkey AS sid, gx.x AS x, gy.y AS y,
               (gx.x * 3 + gy.y * 5 + s.s_suppkey % 256) % 256 AS a,
               (gx.x * 3 + gy.y * 5 + (7 * s.s_suppkey + 11) % 256) % 256 AS b
        FROM supplier s,
             generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    ), v AS (
        SELECT sid,
               least(greatest(
                   (CASE WHEN a >= b THEN a - b ELSE (b - a) * 2 END)
                   + (least(a, 200) % 7), 0), 255) AS val,
               y * 32 + x + 1 AS pos
        FROM px
    )
    SELECT CAST(sid AS BIGINT) AS sid,
           CAST(SUM(val) AS BIGINT) AS v_sum,
           CAST(SUM(val * pos) AS BIGINT) AS vpos_sum
    FROM v GROUP BY sid
"""


def q_cutline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalwarp -cutline (r05): mask a 6×6-tile mosaic of the diagonal
    field (3x+5y)%256 against a convex quad whose edges all have odd
    dx+dy — doubled-coordinate cross products at pixel centers are
    then ODD integers, so no center ever sits on an edge and the
    engine's even-odd ray cast provably equals the oracle's four
    half-plane tests. Tiles disjoint from the ring bbox are masked
    JVM-side (no Python, no decode); only boundary tiles rasterize.
    Checked per tile: kept-pixel count, value sum, position-weighted
    value sum of the masked raster."""
    from gdal_drivers_spark.operators.cutline import cutline_crop

    ring = [[5, 3], [58, 13], [40, 62], [9, 50]]
    tiles = _grid_pattern_tiles(spark, 4, 6, 16, lambda gx, gy: (3 * gx + 5 * gy) % 256)
    out = cutline_crop(tiles.withColumnRenamed("tile", "raster"), ring, 16, nodata=0)

    return _tile_checksums(out, "raster", "n_kept")


_CUTLINE_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y, (3 * gx.x + 5 * gy.y) % 256 AS v
        FROM generate_series(0, 95) gx(x), generate_series(0, 95) gy(y)
    ), m AS (
        SELECT x, y, v,
               CASE WHEN 53 * (2*y+1 - 6)   - 10 * (2*x+1 - 10)  > 0
                     AND -18 * (2*y+1 - 26) - 49 * (2*x+1 - 116) > 0
                     AND -31 * (2*y+1 - 124) + 12 * (2*x+1 - 80) > 0
                     AND  -4 * (2*y+1 - 100) + 47 * (2*x+1 - 18) > 0
                    THEN 1 ELSE 0 END AS ins
        FROM px
    )
    SELECT CAST(x // 16 AS BIGINT) AS tcx, CAST(y // 16 AS BIGINT) AS tcy,
           CAST(SUM(ins) AS BIGINT) AS n_kept,
           CAST(SUM(v * ins) AS BIGINT) AS v_sum,
           CAST(SUM(v * ins * ((y % 16) * 16 + (x % 16) + 1)) AS BIGINT) AS vpos_sum
    FROM m GROUP BY 1, 2
"""


def q_tindex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdaltindex (r05): one index feature per raster — footprint
    corners (the bit-exact phash→unit-world derivation of
    assign.with_footprint, power-of-two divisions so the doubles are
    identical in Spark and DuckDB), per-axis resolution, pixel count,
    and the degenerate-raster flag (every 97th order gets w=0 and must
    come back ok=false with NULL geometry, not vanish). Pure JVM
    Column projection — no Python, no shuffle."""
    from gdal_drivers_spark.operators.assign import with_footprint
    from gdal_drivers_spark.operators.tindex import tile_index

    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            F.col("o_orderkey").alias("k"),
            ((F.col("o_orderkey") * F.lit(2654435761)) % F.lit(1 << 60)).alias("phash"),
        )
        .withColumn(
            "w",
            F.when(F.col("k") % 97 == 0, F.lit(0))
            .otherwise((F.col("k") % 7) * 32 + 64)
            .cast("int"),
        )
        .withColumn("h", ((F.col("k") % 5) * 32 + 64).cast("int"))
    )
    idx = tile_index(with_footprint(o), location="k")
    return idx.select(
        F.col("location").alias("k"),
        "x0", "y0", "x1", "y1", "res_x", "res_y",
        F.coalesce("n_px", F.lit(-1)).alias("n_px"),
        "ok",
    )


_TINDEX_ORACLE_SQL = """
    WITH base AS (
        SELECT o_orderkey AS k,
               (o_orderkey * 2654435761) % 1152921504606846976 AS ph,
               CASE WHEN o_orderkey % 97 = 0 THEN 0
                    ELSE (o_orderkey % 7) * 32 + 64 END AS w,
               (o_orderkey % 5) * 32 + 64 AS h
        FROM orders
    ), fp AS (
        SELECT k, w, h,
               (CAST(ph % 1048576 AS DOUBLE) / 1048576.0) * 0.984375 AS x0,
               (CAST((ph // 1048576) % 1048576 AS DOUBLE) / 1048576.0) * 0.984375 AS y0,
               ((CAST((ph // 1099511627776) % 1024 AS DOUBLE) + 1.0) / 1024.0)
                   * 0.015625 AS sw,
               ((CAST((ph // 1125899906842624) % 1024 AS DOUBLE) + 1.0) / 1024.0)
                   * 0.015625 AS sh
        FROM base
    )
    SELECT CAST(k AS BIGINT) AS k,
           CASE WHEN w > 0 THEN x0 END AS x0,
           CASE WHEN w > 0 THEN y0 END AS y0,
           CASE WHEN w > 0 THEN x0 + sw END AS x1,
           CASE WHEN w > 0 THEN y0 + sh END AS y1,
           CASE WHEN w > 0 THEN ((x0 + sw) - x0) / CAST(w AS DOUBLE) END AS res_x,
           CASE WHEN w > 0 THEN ((y0 + sh) - y0) / CAST(h AS DOUBLE) END AS res_y,
           CAST(CASE WHEN w > 0 THEN w * h ELSE -1 END AS BIGINT) AS n_px,
           w > 0 AS ok
    FROM fp
"""


def q_grid_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_grid data metrics (r05): -a count/minimum/maximum/range in
    ONE scatter+kernel pass over the 60-point fixture — four u8 raster
    bands per tile. Exact integer arithmetic (the saturating
    least(count,255) included) → the oracle replays every pixel's
    in-radius aggregate in SQL; checked per tile: candidate and filled
    counts plus (sum, position-weighted sum) of each band."""
    from gdal_drivers_spark.operators.gridding import grid_datametrics

    out = grid_datametrics(_grid_fixture_points(spark), 32, 4, 7, (4, 4))

    bands = {"cnt": "count", "min": "vmin", "max": "vmax", "rng": "vrange"}
    return out.select(
        (F.shiftright(F.col("cell"), 26) % F.lit(1 << 26)).alias("tcx"),
        (F.col("cell") % F.lit(1 << 26)).alias("tcy"),
        "n_points", "n_filled",
        *(_pixel_checksum(F.col(c)).alias(f"_{b}") for b, c in bands.items()),
    ).select(
        "tcx", "tcy", "n_points", "n_filled",
        *(F.col(f"_{b}.{f}").alias(f"{b}_{o}") for b in bands
          for f, o in (("v_sum", "sum"), ("vpos_sum", "pos"))),
    )


_GRID_METRICS_ORACLE_SQL = f"""
    WITH {_GRID_PTS_CTE}, agg AS (
        SELECT x, y, count(*) AS n, min(v) AS mn, max(v) AS mx
        FROM cand GROUP BY x, y
    ), met AS (
        SELECT x // 32 AS tcx, y // 32 AS tcy,
               least(n, 255) AS c, mn, mx, mx - mn AS rg,
               ((y % 32) * 32 + (x % 32) + 1) AS pos
        FROM agg
    ), sums AS (
        SELECT tcx, tcy, count(*) AS n_filled,
               SUM(c) AS cnt_sum, SUM(c * pos) AS cnt_pos,
               SUM(mn) AS min_sum, SUM(mn * pos) AS min_pos,
               SUM(mx) AS max_sum, SUM(mx * pos) AS max_pos,
               SUM(rg) AS rng_sum, SUM(rg * pos) AS rng_pos
        FROM met GROUP BY 1, 2
    )
    SELECT t.tcx AS tcx, t.tcy AS tcy,
           CAST(COALESCE(n.n_points, 0) AS BIGINT) AS n_points,
           CAST(COALESCE(s.n_filled, 0) AS BIGINT) AS n_filled,
           CAST(COALESCE(s.cnt_sum, 0) AS BIGINT) AS cnt_sum,
           CAST(COALESCE(s.cnt_pos, 0) AS BIGINT) AS cnt_pos,
           CAST(COALESCE(s.min_sum, 0) AS BIGINT) AS min_sum,
           CAST(COALESCE(s.min_pos, 0) AS BIGINT) AS min_pos,
           CAST(COALESCE(s.max_sum, 0) AS BIGINT) AS max_sum,
           CAST(COALESCE(s.max_pos, 0) AS BIGINT) AS max_pos,
           CAST(COALESCE(s.rng_sum, 0) AS BIGINT) AS rng_sum,
           CAST(COALESCE(s.rng_pos, 0) AS BIGINT) AS rng_pos
    FROM tiles t
    LEFT JOIN np n ON n.tcx = t.tcx AND n.tcy = t.tcy
    LEFT JOIN sums s ON s.tcx = t.tcx AND s.tcy = t.tcy
"""


def q_fillnodata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdal_fillnodata with -md (r05): nodata pixels take the NEAREST
    valid value within 5 px (ties → lowest neighbor gpid — pinned so
    output is partitioning-invariant, unlike GDAL's scan-order IDW).
    On the stripe fixture class 0 is declared nodata, so the holes,
    their nearest valid sources, and the unfillable cores are all
    closed-form; the oracle replays the (d², gpid) argmin in SQL.
    Checked per tile: filled/unfilled counts, value sum and the
    position-weighted value sum of the patched raster."""
    from gdal_drivers_spark.operators.proximity import fillnodata

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32, lambda gx, gy: ((3 * gx + 5 * gy) % 256) // 64 * 64)
    out = fillnodata(tiles, tile_px=32, nodata=0, max_dist=5)

    return _tile_checksums(out, "tile", "n_filled", "n_unfilled")


_FILLNODATA_ORACLE_SQL = """
    WITH px AS (
        SELECT gx.x AS x, gy.y AS y
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), f AS (
        SELECT x, y, (((3 * x + 5 * y) % 256) // 64) * 64 AS v FROM px
    ), off AS (
        SELECT dx.i AS ddx, dy.i AS ddy
        FROM generate_series(-5, 5) dx(i), generate_series(-5, 5) dy(i)
        WHERE dx.i * dx.i + dy.i * dy.i BETWEEN 1 AND 25
    ), cand AS (
        SELECT h.x, h.y,
               o.ddx * o.ddx + o.ddy * o.ddy AS d2,
               (h.y + o.ddy) * 128 + (h.x + o.ddx) AS gpid,
               (((3 * (h.x + o.ddx) + 5 * (h.y + o.ddy)) % 256) // 64) * 64 AS nv
        FROM f h JOIN off o
          ON h.v = 0
         AND h.x + o.ddx BETWEEN 0 AND 127
         AND h.y + o.ddy BETWEEN 0 AND 127
         AND (((3 * (h.x + o.ddx) + 5 * (h.y + o.ddy)) % 256) // 64) != 0
    ), sel AS (
        SELECT x, y, nv,
               row_number() OVER (PARTITION BY x, y ORDER BY d2, gpid) AS rn
        FROM cand
    ), fin AS (
        SELECT f.x, f.y,
               CASE WHEN f.v != 0 THEN f.v ELSE COALESCE(s.nv, 0) END AS fv,
               CASE WHEN f.v = 0 AND s.nv IS NOT NULL THEN 1 ELSE 0 END AS filled,
               CASE WHEN f.v = 0 AND s.nv IS NULL THEN 1 ELSE 0 END AS unfilled
        FROM f LEFT JOIN (SELECT x, y, nv FROM sel WHERE rn = 1) s
          ON s.x = f.x AND s.y = f.y
    )
    SELECT CAST(x // 32 AS BIGINT) AS tcx, CAST(y // 32 AS BIGINT) AS tcy,
           CAST(SUM(filled) AS BIGINT) AS n_filled,
           CAST(SUM(unfilled) AS BIGINT) AS n_unfilled,
           CAST(SUM(fv) AS BIGINT) AS v_sum,
           CAST(SUM(fv * ((y % 32) * 32 + (x % 32) + 1)) AS BIGINT) AS vpos_sum
    FROM fin GROUP BY 1, 2
"""


def q_rgb2pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rgb2pct.py (r05): supplier-keyed 32×32 RGB pattern images
    quantize to the 216-entry web-safe cube — the operator runs the
    GENERAL nearest-palette argmin (ties → lowest index, pinned), but
    the cube palette factorizes per channel on the closed-form
    fixture, so the oracle derives every index in SQL ((v+25)//51 per
    channel — 51 is odd, exact ties impossible) and checks the
    per-image index sum plus a position-weighted sum."""
    from gdal_drivers_spark.operators.multimodal import rgb2pct, websafe_palette

    images = _supplier_pattern_images(spark, sf_dir, lambda s: s % 256, bands=3)
    return _raster_checksum_cols(rgb2pct(images, websafe_palette()))


_RGB2PCT_ORACLE_SQL = """
    WITH px AS (
        SELECT s.s_suppkey AS sid, gx.x AS x, gy.y AS y,
               (gx.x * 3 + gy.y * 5 + s.s_suppkey % 256) % 256 AS r,
               (gx.x * 3 + gy.y * 5 + 7 + s.s_suppkey % 256) % 256 AS g,
               (gx.x * 3 + gy.y * 5 + 14 + s.s_suppkey % 256) % 256 AS b
        FROM supplier s,
             generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    ), idx AS (
        SELECT sid, 36 * ((r + 25) // 51) + 6 * ((g + 25) // 51)
                    + ((b + 25) // 51) AS i,
               y * 32 + x + 1 AS pos
        FROM px
    )
    SELECT CAST(sid AS BIGINT) AS sid,
           CAST(SUM(i) AS BIGINT) AS v_sum,
           CAST(SUM(i * pos) AS BIGINT) AS vpos_sum
    FROM idx GROUP BY sid
"""


def q_pct2rgb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pct2rgb.py (r05): supplier-keyed 32×32 single-band index
    patterns (mod 216) expand through the web-safe LUT — one
    vectorized gather per image; the oracle recomputes the palette
    arithmetic (r = 51·(i÷36), g = 51·((i÷6)%6), b = 51·(i%6)) per
    closed-form pixel and checks per-image per-channel sums."""
    import numpy as np

    from gdal_drivers_spark.core import codecs
    from gdal_drivers_spark.operators.multimodal import pct2rgb, websafe_palette
    from gdal_drivers_spark.sources.synth import pattern

    def gen(g):
        for s in g["s_suppkey"]:
            idx = (pattern(32, 32, 1, s % 256).astype(np.int64) % 216).astype(np.uint8)
            yield str(s), codecs.encode_raw(idx), 32, 32, "raw"

    images = run_batches(spark.read.parquet(f"{sf_dir}/supplier.parquet"), ["s_suppkey"], gen,
                         "image_id string, bytes binary, w int, h int, fmt string")
    out = pct2rgb(images, websafe_palette())

    def channel_sums(b):
        img = codecs.decode(b).astype(np.int64)
        return tuple(int(img[:, :, c].sum()) for c in range(3))

    sums = row_udf(channel_sums, "struct<r_sum:long,g_sum:long,b_sum:long>")
    return out.select(
        F.col("image_id").cast("long").alias("sid"), sums(F.col("bytes")).alias("_c"),
    ).select("sid", "_c.r_sum", "_c.g_sum", "_c.b_sum")


_PCT2RGB_ORACLE_SQL = """
    WITH idx AS (
        SELECT s.s_suppkey AS sid,
               ((gx.x * 3 + gy.y * 5 + s.s_suppkey % 256) % 256) % 216 AS i
        FROM supplier s,
             generate_series(0, 31) gx(x), generate_series(0, 31) gy(y)
    )
    SELECT CAST(sid AS BIGINT) AS sid,
           CAST(SUM(51 * (i // 36)) AS BIGINT) AS r_sum,
           CAST(SUM(51 * ((i // 6) % 6)) AS BIGINT) AS g_sum,
           CAST(SUM(51 * (i % 6)) AS BIGINT) AS b_sum
    FROM idx GROUP BY sid
"""


def q_raster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalinfo -stats (r05): whole-raster GetStatistics
    (min/max/mean/stddev) plus poison accounting, over the codec
    registry (encode=True fixture — the Arrow hop exercises the magic
    sniff). Both moments ride exact integer sums, so mean and the
    population stddev are each ONE correctly-rounded IEEE op away —
    the oracle replays the identical expression (CAST/divide/sqrt)
    and the hash gate checks the doubles bit-for-bit. Pixels never
    shuffle: one Arrow hop to per-tile moments, one map-side-combined
    global aggregate."""
    from gdal_drivers_spark.operators.zonal import raster_stats

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32,
        lambda gx, gy: ((3 * gx + 5 * gy) % 256) // 64 * 64, encode=True)
    return raster_stats(tiles)


_RASTER_STATS_ORACLE_SQL = """
    WITH px AS (
        SELECT (((3 * gx.x + 5 * gy.y) % 256) // 64) * 64 AS v
        FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    ), agg AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_px,
               CAST(SUM(v) AS BIGINT) AS px_sum,
               CAST(SUM(v * v) AS BIGINT) AS px_sq,
               CAST(MIN(v) AS BIGINT) AS px_min,
               CAST(MAX(v) AS BIGINT) AS px_max
        FROM px
    )
    SELECT CAST(16 AS BIGINT) AS n_tiles, CAST(0 AS BIGINT) AS n_bad_tiles,
           n_px, px_sum, px_min, px_max,
           CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE) AS mean,
           sqrt(CAST(px_sq AS DOUBLE) / CAST(n_px AS DOUBLE)
                - (CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE))
                  * (CAST(px_sum AS DOUBLE) / CAST(n_px AS DOUBLE))) AS stddev
    FROM agg
"""


def q_raster_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gdalinfo -hist (r05): the exact global value histogram — pixels
    reduce to ≤|classes| count rows per tile in one Arrow hop, the
    groupBy moves counts only (map-side combine). Four closed-form
    classes on the stripe fixture; the oracle counts them from
    generate_series."""
    from gdal_drivers_spark.operators.zonal import raster_histogram

    tiles = _grid_pattern_tiles(
        spark, 4, 4, 32,
        lambda gx, gy: ((3 * gx + 5 * gy) % 256) // 64 * 64, encode=True)
    return raster_histogram(tiles)


_RASTER_HIST_ORACLE_SQL = """
    SELECT CAST((((3 * gx.x + 5 * gy.y) % 256) // 64) * 64 AS INT) AS value,
           CAST(COUNT(*) AS BIGINT) AS n_px
    FROM generate_series(0, 127) gx(x), generate_series(0, 127) gy(y)
    GROUP BY 1
"""


def q_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pixels → real DCT perceptual hash → per-format rollup. No SQL
    oracle (a 32×32 DCT-II + median threshold is not reasonably
    SQL-expressible) — registered rows-only by design; bit-level
    correctness is pinned by tests/test_pipeline_ops.py
    (identical-image equality, perturbation Hamming bound, poison
    flags, near-dup composition)."""
    from gdal_drivers_spark.operators.multimodal import phash_images
    from gdal_drivers_spark.sources.synth import images_df

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select("o_orderkey")
    # deterministic subset (a bare limit() may pick different rows per
    # evaluation of this twice-referenced subtree) + persist so the
    # image synthesis runs once, not once per join side
    images = images_df(
        orders.filter("o_orderkey <= 3000").repartition(16).select(F.col("o_orderkey").alias("id"))
    ).persist()
    ph = phash_images(images).join(images.select("image_id", "fmt"), "image_id")
    return ph.groupBy("fmt").agg(
        F.count(F.lit(1)).alias("n_images"),
        F.sum(F.col("ph_ok").cast("long")).alias("n_ok"),
        F.countDistinct("phash").alias("n_distinct"),
    )


def q_ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-means (Lloyd) IVF training, 16 lists × 2 rounds
    over the embeddings corpus — deterministic end to end (hash-spread
    init, exact integer component sums, one double division), so the
    trained centroids themselves hash-match an oracle that unrolls
    both rounds in SQL. Flattened to (list_id, pos, c) rows."""
    from gdal_drivers_spark.operators.similarity import ivf_train

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    cents = ivf_train(corpus, n_lists=16, iters=2)
    return cents.select(
        F.col("list_id").cast("long").alias("list_id"),
        F.posexplode("center").alias("pos", "c"),
    ).select("list_id", F.col("pos").cast("long").alias("pos"), "c")


_IVF_TRAIN_ORACLE_SQL = """
    WITH e AS (
        SELECT vec_id,
               list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q,
               list_transform(embedding, v -> CAST(v AS DOUBLE)) AS cd,
               (vec_id * 2654435761) % 4294967296 AS hh
        FROM embeddings
    ), init AS (
        SELECT CAST(row_number() OVER (ORDER BY hh, vec_id) - 1 AS BIGINT) AS list_id,
               q AS qc, cd
        FROM e ORDER BY hh, vec_id LIMIT 16
    ), a1 AS (
        SELECT vec_id, q, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, list_id) AS rk
        FROM (
            SELECT e.vec_id, e.q, i.list_id,
                   list_sum(list_transform(generate_series(1, 64), k -> e.q[k] * i.qc[k])) AS dot
            FROM e, init i
        )
    ), m1 AS (
        SELECT list_id, gp.p AS pos,
               sum(q[gp.p + 1]) AS s, count(*) AS n
        FROM a1, generate_series(0, 63) gp(p) WHERE rk = 1 GROUP BY 1, 2
    ), c1pt AS (
        SELECT list_id, pos,
               CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0) AS c
        FROM m1
    ), c1 AS (
        SELECT i.list_id,
               COALESCE(n.qc, i.qc) AS qc,
               COALESCE(n.cd, i.cd) AS cd
        FROM init i LEFT JOIN (
            SELECT list_id,
                   list(CAST(round(c * 10000) AS BIGINT) ORDER BY pos) AS qc,
                   list(c ORDER BY pos) AS cd
            FROM c1pt GROUP BY list_id
        ) n USING (list_id)
    ), a2 AS (
        SELECT vec_id, q, list_id,
               row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, list_id) AS rk
        FROM (
            SELECT e.vec_id, e.q, c.list_id,
                   list_sum(list_transform(generate_series(1, 64), k -> e.q[k] * c.qc[k])) AS dot
            FROM e, c1 c
        )
    ), m2 AS (
        SELECT list_id, gp.p AS pos,
               sum(q[gp.p + 1]) AS s, count(*) AS n
        FROM a2, generate_series(0, 63) gp(p) WHERE rk = 1 GROUP BY 1, 2
    ), c2pt AS (
        SELECT list_id, pos,
               CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * 10000.0) AS c
        FROM m2
    )
    SELECT c.list_id, CAST(gp.p AS BIGINT) AS pos,
           COALESCE(p.c, c.cd[gp.p + 1]) AS c
    FROM c1 c
    CROSS JOIN generate_series(0, 63) gp(p)
    LEFT JOIN c2pt p ON p.list_id = c.list_id AND p.pos = gp.p
"""


def q_zorder_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (morton) interleave — the clustering key behind
    ``plans.layout.write_zordered`` (file pruning on both dimensions)
    and ``core.qcell`` cell ids. The Column bit-spread ladder must
    agree bit-for-bit with an independent SQL rendering of the same
    ladder in DuckDB."""
    from gdal_drivers_spark.plans.layout import zorder_col

    p = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        "p_partkey",
        ((F.col("p_partkey") * 2654435761) % 1024).alias("zx"),
        ((F.col("p_partkey") * 48271) % 1024).alias("zy"),
    )
    return p.select(
        "p_partkey", "zx", "zy",
        zorder_col(F.col("zx"), F.col("zy")).alias("zval"),
    )


def _spread_sql(v: str) -> str:
    """DuckDB rendering of the 26-bit morton spread ladder."""
    e = f"({v} & 67108863)"
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        e = f"(({e} | ({e} << {shift})) & {mask})"
    return e


_ZORDER_ORACLE_SQL = f"""
    WITH k AS (
        SELECT p_partkey,
               (p_partkey * 2654435761) % 1024 AS zx,
               (p_partkey * 48271) % 1024 AS zy
        FROM part
    )
    SELECT p_partkey, zx, zy,
           ({_spread_sql('zx')} | ({_spread_sql('zy')} << 1)) AS zval
    FROM k
"""


def q_lineage_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable per-partition lineage (north rule: every
    partition emits lineage records): orders rows fall into 64
    deterministic key-hash buckets; each bucket emits count, an
    order-insensitive checksum (sum of 32-bit key mixes), and its key
    envelope. Because the bucket function is pure arithmetic, any
    engine over the same rows reproduces the table bit-for-bit — which
    is exactly what this oracle demonstrates."""
    from gdal_drivers_spark.plans.lineage import bucket_lineage_records

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return bucket_lineage_records(o, key="o_orderkey", n_buckets=64)


_LINEAGE_ORACLE_SQL = """
    SELECT CAST((o_orderkey * 2654435761) % 4294967296 % 64 AS BIGINT) AS bucket,
           count(*) AS n_rows,
           CAST(sum((o_orderkey * 2654435761) % 4294967296) AS BIGINT) AS checksum,
           CAST(min(o_orderkey) AS BIGINT) AS key_min,
           CAST(max(o_orderkey) AS BIGINT) AS key_max
    FROM orders
    GROUP BY 1
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "tile_assign": q_tile_assign,
        "grid_snap": q_grid_snap,
        "caption_parity": q_caption_parity,
        "psnr_gate": q_psnr_gate,
        "envelope": q_envelope,
        "halo_pairs": q_halo_pairs,
        "pyramid_levels": q_pyramid_levels,
        "pyramid_mode": q_pyramid_mode,
        "pyramid_update": q_pyramid_update,
        "solid_pixels": q_solid_pixels,
        "sessionize": q_sessionize,
        "decode_fmt": q_decode_fmt,
        "pip_triangles": q_pip_triangles,
        "mvt_roundtrip": q_mvt_roundtrip,
        "mvt_proto_typed": q_mvt_proto_typed,
        "vectorize_roundtrip": q_vectorize_roundtrip,
        "warp_downsample": q_warp_downsample,
        "warp_reproject": q_warp_reproject,
        "warp_cubic": q_warp_cubic,
        "warp_cubicspline": q_warp_cubicspline,
        "warp_lanczos": q_warp_lanczos,
        "warp_mode": q_warp_mode,
        "warp_quantiles": q_warp_quantiles,
        "warp_bilinear": q_warp_bilinear,
        "warp_average": q_warp_average,
        "warp_minmax": q_warp_minmax,
        "warp_sumrms": q_warp_sumrms,
        "warp_mask": q_warp_mask,
        "warp_utm": q_warp_utm,
        "warp_lcc": q_warp_lcc,
        "maskfile_roundtrip": q_maskfile_roundtrip,
        "maskfile_gdalqm": q_maskfile_gdalqm,
        "multimodal_resize": q_multimodal_resize,
        "patch_grid": q_patch_grid,
        "feather_weights": q_feather_weights,
        "zxy_parse": q_zxy_parse,
        "gzip_tiles": q_gzip_tiles,
        "band_zip": q_band_zip,
        "compat_gate": q_compat_gate,
        "bpe_tokens": q_bpe_tokens,
        "skew_split": q_skew_split,
        "cell_join_region": q_cell_join_region,
        "knn": q_knn,
        "pricing_rollup": q_pricing_rollup,
        "tristate_rollup": q_tristate_rollup,
        "tms_lookup": q_tms_lookup,
        "mbtiles_scan": q_mbtiles_scan,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash": q_dedup_minhash,
        "dedup_clusters": q_dedup_clusters,
        "dedup_jaccard": q_dedup_jaccard,
        "simhash": q_simhash,
        "text_quality": q_text_quality,
        "tfidf_topk": q_tfidf_topk,
        "curation_pipeline": q_curation_pipeline,
        "config_roundtrip": q_config_roundtrip,
        "schema_copy": q_schema_copy,
        "stratified_sample": q_stratified_sample,
        "stratified_fixed": q_stratified_fixed,
        "lang_id": q_lang_id,
        "fingerprint": q_fingerprint,
        "ann_topk": q_ann_topk,
        "ann_lsh": q_ann_lsh,
        "ann_ivf": q_ann_ivf,
        "ann_pq": q_ann_pq,
        "ann_index_stats": q_ann_index_stats,
        "ann_ivfpq": q_ann_ivfpq,
        "ann_index_reuse": q_ann_index_reuse,
        "ann_index_append": q_ann_index_append,
        "knn_graph": q_knn_graph,
        "audio_features": q_audio_features,
        "ann_cosine": q_ann_cosine,
        "unknown_filter": q_unknown_filter,
        "remote_fetch": q_remote_fetch,
        "phash_near_dup": q_phash_near_dup,
        "image_features": q_image_features,
        "gt_resolution": q_gt_resolution,
        "nodata_norm": q_nodata_norm,
        "overview_chain": q_overview_chain,
        "embed_near_dup": q_embed_near_dup,
        "running_sum": q_running_sum,
        "windowed_events": q_windowed_events,
        "asof_join": q_asof_join,
        "interval_join": q_interval_join,
        "lineage_records": q_lineage_records,
        "zorder_curve": q_zorder_curve,
        "event_quantiles": q_event_quantiles,
        "zonal_stats": q_zonal_stats,
        "zonal_histogram": q_zonal_histogram,
        "zonal_mode": q_zonal_mode,
        "ivf_train": q_ivf_train,
        "image_phash": q_image_phash,
        "horn_gradients": q_horn_gradients,
        "terrain_indices": q_terrain_indices,
        "color_relief": q_color_relief,
        "contour_census": q_contour_census,
        "polygonize": q_polygonize,
        "sieve": q_sieve,
        "sieve_apply": q_sieve_apply,
        "proximity": q_proximity,
        "sample_points": q_sample_points,
        "grid_nearest": q_grid_nearest,
        "grid_idw": q_grid_idw,
        "raster_stats": q_raster_stats,
        "raster_hist": q_raster_hist,
        "fillnodata": q_fillnodata,
        "grid_metrics": q_grid_metrics,
        "band_calc": q_band_calc,
        "burn_raster": q_burn_raster,
        "contour_polys": q_contour_polys,
        "polygonize8": q_polygonize8,
        "raster_xyz": q_raster_xyz,
        "mosaic_merge": q_mosaic_merge,
        "ogr_transform": q_ogr_transform,
        "pansharpen": q_pansharpen,
        "retile": q_retile,
        "viewshed": q_viewshed,
        "equalize": q_equalize,
        "img_scale": q_img_scale,
        "cutline": q_cutline,
        "tindex": q_tindex,
        "rgb2pct": q_rgb2pct,
        "pct2rgb": q_pct2rgb,
        "top_revenue": q_top_revenue,
        "rasterize_quads": q_rasterize_quads,
        "blend_cells": q_blend_cells,
        "overview_select": q_overview_select,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "asof_join": _ASOF_ORACLE_SQL,
        "interval_join": _INTERVAL_ORACLE_SQL,
        "lineage_records": _LINEAGE_ORACLE_SQL,
        "zorder_curve": _ZORDER_ORACLE_SQL,
        "event_quantiles": _QUANTILES_ORACLE_SQL,
        "zonal_stats": _ZONAL_ORACLE_SQL,
        "zonal_histogram": _ZONAL_HISTOGRAM_ORACLE_SQL,
        "zonal_mode": _ZONAL_MODE_ORACLE_SQL,
        "ivf_train": _IVF_TRAIN_ORACLE_SQL,
        "horn_gradients": _HORN_ORACLE_SQL,
        "terrain_indices": _terrain_oracle_sql(),
        "color_relief": _color_relief_oracle_sql(),
        "contour_census": _CONTOUR_ORACLE_SQL,
        "polygonize": _POLYGONIZE_ORACLE_SQL,
        "sieve": _SIEVE_ORACLE_SQL,
        "sieve_apply": _SIEVE_APPLY_ORACLE_SQL,
        "proximity": _PROXIMITY_ORACLE_SQL,
        "sample_points": _SAMPLE_POINTS_ORACLE_SQL,
        "grid_nearest": _GRID_NEAREST_ORACLE_SQL,
        "grid_idw": _GRID_IDW_ORACLE_SQL,
        "raster_stats": _RASTER_STATS_ORACLE_SQL,
        "raster_hist": _RASTER_HIST_ORACLE_SQL,
        "fillnodata": _FILLNODATA_ORACLE_SQL,
        "grid_metrics": _GRID_METRICS_ORACLE_SQL,
        "band_calc": _BAND_CALC_ORACLE_SQL,
        "burn_raster": _BURN_ORACLE_SQL,
        "contour_polys": _CONTOUR_POLYS_ORACLE_SQL,
        "polygonize8": _POLYGONIZE8_ORACLE_SQL,
        "raster_xyz": _RASTER_XYZ_ORACLE_SQL,
        "mosaic_merge": _MOSAIC_MERGE_ORACLE_SQL,
        "ogr_transform": _ogr_transform_oracle_sql(),
        "pansharpen": _PANSHARPEN_ORACLE_SQL,
        "retile": _RETILE_ORACLE_SQL,
        "viewshed": _VIEWSHED_ORACLE_SQL,
        "equalize": _EQUALIZE_ORACLE_SQL,
        "img_scale": _IMG_SCALE_ORACLE_SQL,
        "cutline": _CUTLINE_ORACLE_SQL,
        "tindex": _TINDEX_ORACLE_SQL,
        "rgb2pct": _RGB2PCT_ORACLE_SQL,
        "pct2rgb": _PCT2RGB_ORACLE_SQL,
        "tile_assign": f"""
            SELECT cell, count(*) AS n_assign, count(DISTINCT k) AS n_images
            FROM ({_ASSIGNED_SQL}) a GROUP BY cell
        """,
        "cell_join_region": f"""
            WITH bounds AS (
                SELECT (6::BIGINT * {1 << 52}) + (bx * {1 << 26}) + by_ AS cell,
                       'r' || CAST((bx + by_) % 8 AS VARCHAR) AS region
                FROM (SELECT unnest(generate_series(0, 63)) AS bx) gx,
                     (SELECT unnest(generate_series(0, 63)) AS by_) gy
            )
            SELECT region, count(*) AS n_assign, count(DISTINCT k) AS n_images,
                   count(DISTINCT a.cell) AS n_cells
            FROM ({_ASSIGNED_SQL}) a JOIN bounds USING (cell)
            GROUP BY region
        """,
        "caption_parity": _CAPTION_ORACLE_SQL,
        "blend_cells": _BLEND_CELLS_ORACLE_SQL,
        "rasterize_quads": """
            WITH cells AS (
                SELECT ((p_partkey * 2654435761) % 4096) % 64 AS qx,
                       ((p_partkey * 2654435761) % 4096) // 64 AS qy,
                       max(CASE WHEN p_partkey % 2 = 0 THEN 'white' ELSE 'gray' END) AS v
                FROM part GROUP BY 1, 2
            )
            SELECT qx // 16 AS tx, qy // 16 AS ty,
                   CAST(sum(CASE WHEN v = 'white' THEN 1 ELSE 0 END) AS BIGINT) AS n_white_px,
                   16 AS ts
            FROM cells GROUP BY 1, 2
        """,
        "psnr_gate": _PSNR_ORACLE_SQL,
        "grid_snap": """
            SELECT o_orderkey AS k,
                   floor((((o_orderkey * 48271) % 4096) / 4096.0) * 64) / 64 AS sx0,
                   floor((((o_orderkey * 69621) % 4096) / 4096.0) * 64) / 64 AS sy0,
                   ceil(((((o_orderkey * 48271) % 4096) / 4096.0) + ((o_orderkey % 7) + 1) / 512.0) * 64) / 64 AS sx1,
                   ceil(((((o_orderkey * 69621) % 4096) / 4096.0) + ((o_orderkey % 5) + 1) / 512.0) * 64) / 64 AS sy1,
                   CAST(
                     ((ceil(((((o_orderkey * 48271) % 4096) / 4096.0) + ((o_orderkey % 7) + 1) / 512.0) * 64) / 64
                       - floor((((o_orderkey * 48271) % 4096) / 4096.0) * 64) / 64) * 64)
                     * ((ceil(((((o_orderkey * 69621) % 4096) / 4096.0) + ((o_orderkey % 5) + 1) / 512.0) * 64) / 64
                       - floor((((o_orderkey * 69621) % 4096) / 4096.0) * 64) / 64) * 64)
                   AS BIGINT) AS n_cells
            FROM orders
        """,
        "envelope": """
            WITH c AS (
                SELECT c_nationkey AS nation,
                       ((c_custkey * 48271) % 65536) / 65536.0 AS px,
                       ((c_custkey * 69621) % 65536) / 65536.0 AS py,
                       ((c_custkey % 15) + 1) / 1024.0 AS w,
                       ((c_custkey % 9) + 1) / 1024.0 AS h
                FROM customer
            )
            SELECT nation,
                   min(least(px, px + w)) AS env_x0,
                   min(least(py, py - h)) AS env_y0,
                   max(greatest(px, px + w)) AS env_x1,
                   max(greatest(py, py - h)) AS env_y1,
                   count(*) AS n_rows
            FROM c GROUP BY nation
        """,
        "halo_pairs": """
            WITH tiles AS (
                SELECT (s_suppkey * 3) % 16 AS tx, (s_suppkey * 7) % 16 AS ty,
                       min(s_suppkey) AS payload
                FROM supplier GROUP BY 1, 2
            ), off AS (SELECT unnest(generate_series(-1, 1)) AS d),
            pairs AS (
                SELECT t.tx + ox.d AS tcx, t.ty + oy.d AS tcy, t.payload
                FROM tiles t, off ox, off oy
                WHERE t.tx + ox.d BETWEEN 0 AND 15 AND t.ty + oy.d BETWEEN 0 AND 15
            )
            SELECT tcx, tcy, count(*) AS n_contrib,
                   CAST(sum(payload) AS BIGINT) AS payload_sum
            FROM pairs GROUP BY 1, 2
        """,
        "pyramid_levels": """
            WITH leaves AS (
                SELECT ((p_partkey * 2654435761) % 256) % 16 AS qx,
                       ((p_partkey * 2654435761) % 256) // 16 AS qy,
                       max(p_partkey % 2) AS bit
                FROM part GROUP BY 1, 2
            ), lv AS (
                SELECT l.*, g.level FROM leaves l,
                     (SELECT unnest(generate_series(0, 4)) AS level) g
            )
            SELECT level, qx // (1 << (4 - level)) AS pqx,
                   qy // (1 << (4 - level)) AS pqy,
                   count(*) AS n_leaves, CAST(sum(bit) AS BIGINT) AS n_white,
                   CASE WHEN sum(bit) = 0 THEN 'black'
                        WHEN sum(bit) = count(*) THEN 'white'
                        ELSE 'gray' END AS klass
            FROM lv GROUP BY 1, 2, 3
        """,
        "pyramid_mode": _PYRAMID_MODE_ORACLE_SQL,
        "pyramid_update": _PYRAMID_UPDATE_ORACLE_SQL,
        "solid_pixels": """
            SELECT band, CAST(12 AS BIGINT) AS n_tiles,
                   CAST(12 AS BIGINT) * 65536 * value AS sum_px
            FROM (VALUES (0, 7), (1, 1000), (2, 123456)) v(band, value)
        """,
        "sessionize": """
            WITH e AS (
                SELECT user_id, event_id, ts, value,
                       CAST(floor(epoch(ts)) AS BIGINT) AS t,
                       lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER
                           (PARTITION BY user_id ORDER BY ts, event_id) AS prev
                FROM events
            ), f AS (
                SELECT *, CASE WHEN prev IS NULL OR t - prev > 1800 THEN 1 ELSE 0 END AS new_s
                FROM e
            ), g AS (
                SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM f
            )
            SELECT user_id, min(t) AS session_start, max(t) AS session_end,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM g GROUP BY user_id, sid
        """,
        "decode_fmt": """
            SELECT CASE o_orderkey % 3 WHEN 0 THEN 'raw' WHEN 1 THEN 'png'
                        ELSE 'thumb' END AS fmt,
                   count(*) AS n_images, count(*) AS n_ok
            FROM orders GROUP BY 1
        """,
        "feather_weights": _FEATHER_ORACLE_SQL,
        "zxy_parse": _ZXY_ORACLE_SQL,
        "gzip_tiles": _GZIP_ORACLE_SQL,
        "band_zip": _BANDZIP_ORACLE_SQL,
        "compat_gate": _COMPAT_ORACLE_SQL,
        "bpe_tokens": _BPE_ORACLE_SQL,
        "ann_lsh": _ANN_LSH_ORACLE_SQL,
        "ann_ivf": _ANN_IVF_ORACLE_SQL,
        "ann_pq": _ANN_PQ_ORACLE_SQL,
        "ann_index_stats": _ANN_INDEX_STATS_ORACLE_SQL,
        "ann_ivfpq": _ANN_IVFPQ_ORACLE_SQL,
        "ann_index_reuse": _ANN_INDEX_REUSE_ORACLE_SQL,
        "ann_index_append": _ANN_INDEX_APPEND_ORACLE_SQL,
        "knn_graph": _KNN_GRAPH_ORACLE_SQL,
        "audio_features": _AUDIO_ORACLE_SQL,
        "ann_cosine": _ANN_COSINE_ORACLE_SQL,
        "unknown_filter": _UNKNOWN_FILTER_ORACLE_SQL,
        "remote_fetch": _REMOTE_FETCH_ORACLE_SQL,
        "phash_near_dup": _PHASH_ORACLE_SQL,
        "image_features": _IMAGE_FEATURES_ORACLE_SQL,
        "gt_resolution": _GT_RESOLUTION_ORACLE_SQL,
        "nodata_norm": _NODATA_NORM_ORACLE_SQL,
        "overview_chain": _OVERVIEW_ORACLE_SQL,
        "skew_split": _SKEW_ORACLE_SQL,
        "pip_triangles": _pip_oracle_sql(),
        "mvt_roundtrip": _MVT_ORACLE_SQL,
        "mvt_proto_typed": _MVT_PROTO_ORACLE_SQL,
        "vectorize_roundtrip": _VECTORIZE_ORACLE_SQL,
        "warp_downsample": _WARP_ORACLE_SQL,
        "warp_reproject": _warp_reproject_oracle_sql(),
        "warp_cubic": _WARP_CUBIC_ORACLE_SQL,
        "warp_cubicspline": _WARP_CUBICSPLINE_ORACLE_SQL,
        "warp_mode": _WARP_MODE_ORACLE_SQL,
        "warp_quantiles": _WARP_QUANTILES_ORACLE_SQL,
        "warp_bilinear": _WARP_BILINEAR_ORACLE_SQL,
        "warp_average": _WARP_AVERAGE_ORACLE_SQL,
        "warp_minmax": _WARP_MINMAX_ORACLE_SQL,
        "warp_sumrms": _WARP_SUMRMS_ORACLE_SQL,
        "warp_mask": _WARP_MASK_ORACLE_SQL,
        "warp_utm": _warp_utm_oracle_sql(),
        "warp_lcc": _warp_lcc_oracle_sql(),
        "maskfile_roundtrip": _MASKFILE_ORACLE_SQL,
        "maskfile_gdalqm": _MASKFILE_GDALQM_ORACLE_SQL,
        "multimodal_resize": _MULTIMODAL_ORACLE_SQL,
        "patch_grid": _PATCH_GRID_ORACLE_SQL,
        "knn": """
            WITH pts AS (
                SELECT c_custkey AS pid, (c_custkey * 48271) % 65536 AS px,
                       (c_custkey * 69621) % 65536 AS py FROM customer
            ), qs AS (
                SELECT s_suppkey AS qid, (s_suppkey * 16807) % 65536 AS qx,
                       (s_suppkey * 39916801) % 65536 AS qy FROM supplier
            ), d AS (
                SELECT qid, pid,
                       (px - qx) * (px - qx) + (py - qy) * (py - qy) AS dist2,
                       row_number() OVER (PARTITION BY qid ORDER BY
                           (px - qx) * (px - qx) + (py - qy) * (py - qy), pid) AS rank
                FROM qs CROSS JOIN pts
            )
            SELECT qid, pid, dist2, CAST(rank AS INT) AS rank FROM d WHERE rank <= 3
        """,
        "pricing_rollup": """
            SELECT l_returnflag, l_linestatus,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
                   CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
                   count(*) AS n_rows
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "tristate_rollup": """
            WITH leaves AS (
                SELECT ((p_partkey * 2654435761) % 256) % 16 AS qx,
                       ((p_partkey * 2654435761) % 256) // 16 AS qy,
                       max(p_partkey % 2) AS bit
                FROM part GROUP BY 1, 2
            )
            SELECT qx // 2 AS px, qy // 2 AS py,
                   count(*) AS n_children, CAST(sum(bit) AS BIGINT) AS n_white,
                   CASE WHEN sum(bit) = 0 THEN 'black'
                        WHEN sum(bit) = count(*) THEN 'white'
                        ELSE 'gray' END AS klass
            FROM leaves GROUP BY 1, 2
        """,
        "tms_lookup": """
            WITH store AS (
                SELECT (p_partkey * 7) % 32 AS x,
                       31 - (p_partkey * 13) % 32 AS tms_row,
                       min(p_partkey) AS payload_id
                FROM part GROUP BY 1, 2
            ), req AS (
                SELECT s_suppkey AS req_id, (s_suppkey * 11) % 32 AS x,
                       (s_suppkey * 5) % 32 AS y FROM supplier
            )
            SELECT req.req_id, req.x, req.y, 31 - req.y AS tms_row, store.payload_id
            FROM req JOIN store ON store.x = req.x AND store.tms_row = 31 - req.y
        """,
        "mbtiles_scan": _MBTILES_ORACLE_SQL,
        "dedup_exact": f"""
            SELECT md5(text) AS content_hash, min(doc_id) AS rep_id,
                   count(*) AS n_dups
            FROM ({_DUP_CORPUS_SQL}) c
            GROUP BY md5(text) HAVING count(*) > 1
        """,
        "dedup_minhash": f"""
            WITH tok AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS a
                FROM ({_DUP_CORPUS_SQL}) c
            ), sh AS (
                SELECT doc_id, list_distinct(list_transform(
                    generate_series(0, greatest(len(a) - 3, 0)),
                    i -> CAST(concat('0x', substr(md5(a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]), 1, 8)) AS BIGINT)
                )) AS s
                FROM tok
            ), sig AS (
                SELECT doc_id, list_transform(generate_series(0, 15),
                    j -> list_min(list_transform(s, h -> ((2*j+3)*h + (5*j+1)) % 2147483647))
                ) AS sg
                FROM sh
            ), band AS (
                SELECT doc_id, sg, b,
                       array_to_string(sg[b*4+1 : b*4+4], '-') AS bsig
                FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) bs
            ), sized AS (
                SELECT *, count(*) OVER (PARTITION BY b, bsig) AS bn FROM band
            ), flt AS (
                SELECT * FROM sized WHERE bn <= 64
            ), pairs AS (
                SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2,
                       l.sg AS sig1, r.sg AS sig2
                FROM flt l JOIN flt r
                  ON l.b = r.b AND l.bsig = r.bsig AND l.doc_id < r.doc_id
            )
            SELECT id1, id2,
                   CAST(list_sum(list_transform(generate_series(1, 16),
                        i -> CASE WHEN sig1[i] = sig2[i] THEN 1 ELSE 0 END)) AS BIGINT) AS n_equal
            FROM pairs
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE tok AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS a
                FROM ({_DUP_CORPUS_SQL}) c
            ), sh AS (
                SELECT doc_id, list_distinct(list_transform(
                    generate_series(0, greatest(len(a) - 3, 0)),
                    i -> CAST(concat('0x', substr(md5(a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]), 1, 8)) AS BIGINT)
                )) AS s
                FROM tok
            ), sig AS (
                SELECT doc_id, list_transform(generate_series(0, 15),
                    j -> list_min(list_transform(s, h -> ((2*j+3)*h + (5*j+1)) % 2147483647))
                ) AS sg
                FROM sh
            ), band AS (
                SELECT doc_id, sg, b,
                       array_to_string(sg[b*4+1 : b*4+4], '-') AS bsig
                FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) bs
            ), sized AS (
                SELECT *, count(*) OVER (PARTITION BY b, bsig) AS bn FROM band
            ), flt AS (
                SELECT * FROM sized WHERE bn <= 64
            ), pairs AS (
                SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
                FROM flt l JOIN flt r
                  ON l.b = r.b AND l.bsig = r.bsig AND l.doc_id < r.doc_id
            ), edges AS (
                SELECT id1 AS src, id2 AS dst FROM pairs
                UNION
                SELECT id2, id1 FROM pairs
            ), reach(node, comp) AS (
                SELECT src, src FROM edges
                UNION
                SELECT e.src, r.comp FROM edges e JOIN reach r ON r.node = e.dst
            ), comps AS (
                SELECT node, min(comp) AS comp FROM reach GROUP BY node
            ), sizes AS (
                SELECT comp, count(*) AS n FROM comps GROUP BY comp
            )
            SELECT c.node AS doc_id, c.comp AS cluster_rep,
                   CAST(s.n AS BIGINT) AS cluster_size
            FROM comps c JOIN sizes s ON c.comp = s.comp
        """,
        "dedup_jaccard": f"""
            WITH tok AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS a
                FROM ({_DUP_CORPUS_SQL}) c
            ), sh AS (
                SELECT doc_id, list_distinct(list_transform(
                    generate_series(0, greatest(len(a) - 3, 0)),
                    i -> CAST(concat('0x', substr(md5(a[i+1] || ' ' || a[i+2] || ' ' || a[i+3]), 1, 8)) AS BIGINT)
                )) AS s
                FROM tok
            ), sig AS (
                SELECT doc_id, s, list_transform(generate_series(0, 15),
                    j -> list_min(list_transform(s, h -> ((2*j+3)*h + (5*j+1)) % 2147483647))
                ) AS sg
                FROM sh
            ), band AS (
                SELECT doc_id, sg, b,
                       array_to_string(sg[b*4+1 : b*4+4], '-') AS bsig
                FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) bs
            ), sized AS (
                SELECT *, count(*) OVER (PARTITION BY b, bsig) AS bn FROM band
            ), flt AS (
                SELECT * FROM sized WHERE bn <= 64
            ), pairs AS (
                SELECT DISTINCT l.doc_id AS id1, r.doc_id AS id2
                FROM flt l JOIN flt r
                  ON l.b = r.b AND l.bsig = r.bsig AND l.doc_id < r.doc_id
            ), jac AS (
                SELECT p.id1, p.id2,
                       CAST(len(list_intersect(s1.s, s2.s)) AS BIGINT) AS i_,
                       CAST(len(s1.s) + len(s2.s) - len(list_intersect(s1.s, s2.s)) AS BIGINT) AS u_
                FROM pairs p
                JOIN sh s1 ON s1.doc_id = p.id1
                JOIN sh s2 ON s2.doc_id = p.id2
            )
            SELECT id1, id2, (100 * i_) // u_ AS jaccard_pct
            FROM jac WHERE (100 * i_) // u_ >= 50
        """,
        "simhash": """
            WITH tok AS (
                SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
                FROM documents WHERE doc_id < 200
            ), h AS (
                SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 8)) AS BIGINT) AS hh
                FROM tok
            ), bits AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (hh >> b) % 2 = 1 THEN 1 ELSE -1 END) AS v
                FROM h, (SELECT unnest(generate_series(0, 31)) AS b) bb
                GROUP BY doc_id, b
            )
            SELECT doc_id,
                   CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
            FROM bits GROUP BY doc_id
        """,
        "tfidf_topk": _TFIDF_ORACLE_SQL,
        "curation_pipeline": _CURATION_ORACLE_SQL,
        "config_roundtrip": _CONFIG_ORACLE_SQL,
        "schema_copy": _SCHEMA_COPY_ORACLE_SQL,
        "stratified_sample": _STRATIFIED_ORACLE_SQL,
        "stratified_fixed": _STRATIFIED_FIXED_ORACLE_SQL,
        "text_quality": """
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS a
                FROM documents
            )
            SELECT doc_id,
                   CAST(len(a) AS BIGINT) AS n_tokens,
                   CAST(len(list_distinct(a)) AS BIGINT) AS n_uniq,
                   (100 * CAST(len(list_distinct(a)) AS BIGINT)) // CAST(len(a) AS BIGINT) AS ttr_pct,
                   (100 * CAST(len(list_filter(a, x -> list_contains(['the','a','of','to','in'], x))) AS BIGINT)) // CAST(len(a) AS BIGINT) AS stop_pct
            FROM t
        """,
        "lang_id": """
            WITH tok AS (
                SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t
                FROM documents
            ), sc AS (
                SELECT doc_id, 'lang_a' AS pred_lang,
                       CAST(sum(CASE WHEN t IN ('the','a','row','key') THEN 1 ELSE 0 END) AS BIGINT) AS score
                FROM tok GROUP BY doc_id
                UNION ALL
                SELECT doc_id, 'lang_b',
                       CAST(sum(CASE WHEN t IN ('table','join','query','merge') THEN 1 ELSE 0 END) AS BIGINT)
                FROM tok GROUP BY doc_id
                UNION ALL
                SELECT doc_id, 'lang_c',
                       CAST(sum(CASE WHEN t IN ('fast','slow','small','big') THEN 1 ELSE 0 END) AS BIGINT)
                FROM tok GROUP BY doc_id
            ), r AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, pred_lang) AS rn
                FROM sc
            )
            SELECT doc_id, pred_lang, score FROM r WHERE rn = 1
        """,
        "fingerprint": """
            WITH t AS (
                SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS a
                FROM documents
            ), h AS (
                SELECT doc_id,
                       list_transform(a, x -> CAST(concat('0x', substr(md5(x), 1, 8)) AS BIGINT)) AS hs,
                       len(a) AS n
                FROM t
            )
            SELECT doc_id, list_min(hs) AS fp_min, list_max(hs) AS fp_max,
                   CAST(n AS BIGINT) AS n_tokens
            FROM h
        """,
        "ann_topk": """
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
                FROM embeddings
            ), qs AS (
                SELECT vec_id AS qid, q AS qv FROM e WHERE vec_id < 10
            ), d AS (
                SELECT qid, e.vec_id AS cid,
                       CAST(list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * e.q[i])) AS BIGINT) AS dot_q
                FROM qs CROSS JOIN e
            ), r AS (
                SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dot_q DESC, cid) AS rank
                FROM d
            )
            SELECT qid, cid, dot_q, CAST(rank AS INT) AS rank FROM r WHERE rank <= 5
        """,
        "embed_near_dup": """
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS q
                FROM embeddings WHERE vec_id < 200
            ), d AS (
                SELECT a.vec_id AS id1, b.vec_id AS id2,
                       CAST(list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i] * b.q[i])) AS BIGINT) AS dot_q
                FROM e a JOIN e b ON a.vec_id < b.vec_id
            )
            SELECT id1, id2, dot_q FROM d WHERE dot_q >= 25000000
        """,
        "top_revenue": """
            WITH rev AS (
                SELECT l_orderkey,
                       CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
                FROM lineitem GROUP BY l_orderkey
            ), j AS (
                SELECT o.o_orderkey, c.c_name, c.c_mktsegment, rev.revenue_cents
                FROM orders o
                JOIN rev ON o.o_orderkey = rev.l_orderkey
                JOIN customer c ON o.o_custkey = c.c_custkey
            ), r AS (
                SELECT *, row_number() OVER (ORDER BY revenue_cents DESC, o_orderkey) AS rank
                FROM j
            )
            SELECT CAST(rank AS INT) AS rank, o_orderkey, c_name, c_mktsegment, revenue_cents
            FROM r WHERE rank <= 10
        """,
        "windowed_events": """
            SELECT CAST(floor(epoch(ts) / 300) AS BIGINT) * 300 AS win_start,
                   event_type, count(*) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
            FROM events GROUP BY 1, 2
        """,
        "running_sum": """
            SELECT event_id, user_id,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
            FROM events
        """,
        "overview_select": """
            WITH r AS (
                SELECT p_brand, p_partkey, p_size,
                       row_number() OVER (PARTITION BY p_brand
                           ORDER BY abs(p_size - 25), p_partkey) AS rn
                FROM part
            )
            SELECT p_brand, p_partkey, p_size FROM r WHERE rn = 1
        """,
    }


# ---------------------------------------------------------------- entry

def entry(spark: SparkSession) -> DataFrame:
    """Flagship on sf0.001: orders → synthetic images (real bytes) →
    Arrow-batch decode → tile assignment (z=6) → boundary cell join →
    per-region rollup. Returns one row per region with decode-verified
    pixel stats."""
    _ship(spark)
    from gdal_drivers_spark.operators.assign import assign_tiles
    from gdal_drivers_spark.operators.decode import decode_stats
    from gdal_drivers_spark.sources.synth import images_df, region_boundaries

    sf_dir = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    decoded = decode_stats(images_df(orders.select(F.col("o_orderkey").alias("id"))))
    assigned = assign_tiles(decoded, z=Z_ASSIGN)
    bounds = region_boundaries(spark, Z_ASSIGN, 8)
    return (
        assigned.join(F.broadcast(bounds), "cell", "inner")
        .groupBy("region")
        .agg(
            F.count("*").alias("n_assign"),
            F.countDistinct("image_id").alias("n_images"),
            F.sum(F.col("dec_ok").cast("int")).alias("n_decoded"),
            F.round(F.avg("px_mean"), 3).alias("avg_px_mean"),
        )
        .orderBy("region")
    )
