"""Layout contract: same-bucketed tables join with ZERO exchange
(co-located sort-merge join); the identical unbucketed join shuffles
both sides. This is the 100 TB shuffle-elimination strategy of
plans/layout.py, proven on the executed plan."""

import pytest
from pyspark.sql import functions as F

from gdal_drivers_spark.plans.layout import bucketed_join, write_bucketed


@pytest.fixture()
def no_broadcast(spark):
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _tables(spark, tmp_path, bucketed: bool):
    a = spark.range(20_000).select(
        (F.col("id") % 4096).alias("cell"), F.col("id").alias("payload_a")
    )
    b = spark.range(8_000).select(
        (F.col("id") % 4096).alias("cell"), (F.col("id") * 3).alias("payload_b")
    )
    if not bucketed:
        return a, b
    write_bucketed(a, "t_a", str(tmp_path / "a"), buckets=8)
    write_bucketed(b, "t_b", str(tmp_path / "b"), buckets=8)
    return spark.table("t_a"), spark.table("t_b")


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line and "BroadcastExchange" not in line
    )


def test_bucketed_join_has_no_exchange(spark, tmp_path, no_broadcast):
    ta, tb = _tables(spark, tmp_path, bucketed=True)
    j = ta.join(tb, "cell")
    n = j.count()
    assert n > 0
    assert _n_exchanges(j) == 0, "bucketed SMJ must not shuffle either side"
    # same result as the via-helper join
    assert bucketed_join(spark, "t_a", "t_b").count() == n
    spark.sql("DROP TABLE IF EXISTS t_a")
    spark.sql("DROP TABLE IF EXISTS t_b")


def test_unbucketed_join_shuffles_both_sides(spark, tmp_path, no_broadcast):
    a, b = _tables(spark, tmp_path, bucketed=False)
    j = a.join(b, "cell")
    j.count()
    assert _n_exchanges(j) >= 2, "control: plain SMJ shuffles both sides"


def test_bucketed_blend_has_no_exchange(spark):
    """The 100 TB blend contract: over a table bucketed by the blend's
    grouping keys (cell, band), the grouped Arrow kernel's clustering
    requirement (``_groups.run_grouped`` keeps the ``groupBy``) is
    satisfied by the bucketing — ZERO exchanges; the whole mosaic runs
    scan → FlatMapGroupsInArrow with no shuffle. Control: the same
    data unbucketed shuffles once."""
    import pandas as pd

    from gdal_drivers_spark.core import codecs
    from gdal_drivers_spark.operators.blend import blend_tiles
    from gdal_drivers_spark.sources.synth import pattern

    rows = []
    for i in range(32 * 2):
        cell = (6 << 52) + (i // 2)
        img = pattern(16, 16, 1, i % 256)
        rows.append((cell, 0, i % 2, codecs.encode_raw(img), 0.0, 0.0, 1.0, 1.0))
    pdf = pd.DataFrame(
        rows, columns=["cell", "band", "source_id", "tile", "vx0", "vy0", "vx1", "vy1"]
    )
    df = spark.createDataFrame(pdf)
    spark.sql("DROP TABLE IF EXISTS blend_bkt")
    (
        df.write.mode("overwrite")
        .bucketBy(4, "cell", "band")
        .sortBy("cell", "band")
        .format("parquet")
        .saveAsTable("blend_bkt")
    )
    out = blend_tiles(spark.table("blend_bkt"), tile_px=16, overlap=0.05)
    assert out.count() == 32
    assert _n_exchanges(out) == 0, "bucketed blend must not shuffle"
    ctrl = blend_tiles(df, tile_px=16, overlap=0.05)
    ctrl.count()
    assert _n_exchanges(ctrl) >= 1, "control: unbucketed blend shuffles"
    spark.sql("DROP TABLE IF EXISTS blend_bkt")


def test_zorder_col_matches_numpy_morton(spark):
    """Column-form interleave is bit-identical to core.qcell.morton."""
    import numpy as np

    from gdal_drivers_spark.core import qcell
    from gdal_drivers_spark.plans.layout import zorder_col

    rng = np.random.default_rng(7)
    xs = rng.integers(0, 1 << 26, 500)
    ys = rng.integers(0, 1 << 26, 500)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], "x long, y long"
    )
    got = [r["z"] for r in df.select(
        zorder_col(F.col("x"), F.col("y")).alias("z")).collect()]
    assert got == [int(v) for v in qcell.morton(xs, ys)]


def test_zorder_write_prunes_both_dims(spark, tmp_path):
    """The measurable Z-order payoff: a predicate on the NON-leading
    key prunes most files under Z-order clustering, while a linear
    sort on x must open every file. Content identical either way."""
    import numpy as np

    from gdal_drivers_spark.plans.layout import (
        overlap_fraction,
        write_zordered,
    )

    n = 1 << 14
    rng = np.random.default_rng(11)
    xs = rng.integers(0, 1 << 10, n)
    ys = rng.integers(0, 1 << 10, n)
    df = spark.createDataFrame(
        [(int(a), int(b), int(a + b)) for a, b in zip(xs, ys)],
        "x long, y long, payload long",
    )
    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    write_zordered(df, zdir, "x", "y", n_files=32)
    df.repartitionByRange(32, "x").sortWithinPartitions("x").write.parquet(ldir)

    box = {"y": (100, 163)}  # 1/16 of the y domain, no x constraint
    z_frac = overlap_fraction(zdir, box)
    l_frac = overlap_fraction(ldir, box)
    assert l_frac == 1.0, "x-sorted layout cannot prune a y predicate"
    assert z_frac <= 0.5, f"z-order should prune most files, got {z_frac}"

    got_z = sorted(map(tuple, spark.read.parquet(zdir)
                       .filter("y between 100 and 163").collect()))
    got_l = sorted(map(tuple, spark.read.parquet(ldir)
                       .filter("y between 100 and 163").collect()))
    assert got_z == got_l and len(got_z) > 0


def test_overlap_fraction_missing_stats_counts_as_opened(spark, tmp_path):
    """A file without usable footer stats cannot be pruned — the
    measurement must count it as opened; an empty path raises."""
    import pytest as _pytest

    from gdal_drivers_spark.plans.layout import overlap_fraction

    d = str(tmp_path / "nostats")
    spark.createDataFrame([(None,), (None,)], "y long").coalesce(1).write.parquet(d)
    # all-null column → has_min_max False → unprunable → fraction 1.0
    assert overlap_fraction(d, {"y": (0, 10)}) == 1.0
    with _pytest.raises(ValueError, match="no parquet files"):
        overlap_fraction(str(tmp_path / "missing"), {"y": (0, 1)})
