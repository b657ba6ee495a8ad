"""As-of join: semantics (backward, ties, tolerance) + plan shape
(one key shuffle, never a per-key cross product)."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from gdal_drivers_spark.operators.asof import asof_join


def _ts(s):
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


@pytest.fixture(scope="module")
def frames(spark):
    left = spark.createDataFrame(
        [(1, 100, _ts(10)), (2, 100, _ts(20)), (3, 100, _ts(5)),
         (4, 200, _ts(50)), (5, 300, _ts(7))],
        "event_id long, k long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(100, _ts(8), 77), (100, _ts(20), 88),   # tie with event 2
         (200, _ts(60), 99)],                     # only AFTER event 4
        "k long, ts timestamp, payload long",
    )
    return left, right


def test_backward_semantics(frames):
    left, right = frames
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["payload"])
    got = {r["event_id"]: r["payload"] for r in out.collect()}
    assert got == {
        1: 77,    # latest right at/before ts=10 is ts=8
        2: 88,    # tie: right at equal ts matches
        3: None,  # nothing at/before ts=5
        4: None,  # right exists only after
        5: None,  # key never appears on the right
    }
    # left-join row preservation
    assert out.count() == left.count()


def test_matched_ts_and_tolerance(frames):
    left, right = frames
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["payload"], tolerance=1.0)
    got = {r["event_id"]: (r["payload"], r["matched_ts"]) for r in out.collect()}
    # event 2 matched at distance 0 → kept; event 1 matched 2 s stale → nulled
    assert got[2] == (88, _ts(20))
    assert got[1] == (None, None)


def test_passthrough_and_collision(frames):
    left, right = frames
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["payload"])
    assert set(out.columns) == {"event_id", "k", "ts", "payload", "matched_ts"}
    with pytest.raises(ValueError):
        asof_join(left, right.withColumnRenamed("payload", "event_id"),
                  on="k", left_ts="ts", right_ts="ts", payload=["event_id"])


def test_plan_no_cross_product(frames):
    left, right = frames
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["payload"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the merge is a union + one window, not a join at all
    assert "Window" in plan


def test_null_payload_row_is_still_the_match(spark):
    """The latest right ROW wins even when its payload is NULL —
    payload and matched_ts must come from the same row (DuckDB ASOF
    matches the row, then reads its columns)."""
    left = spark.createDataFrame([(1, 5, _ts(30))], "event_id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(5, _ts(10), 7), (5, _ts(20), None)],
        "k long, ts timestamp, payload long",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["payload"])
    r = out.collect()[0]
    assert r["payload"] is None and r["matched_ts"] == _ts(20)


def test_null_keys_never_match(spark):
    """SQL equality semantics: NULL = NULL is not a match."""
    left = spark.createDataFrame([(1, None, _ts(30))], "event_id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(None, _ts(5), 99)], "k long, ts timestamp, payload long"
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["payload"])
    r = out.collect()[0]
    assert r["payload"] is None and r["matched_ts"] is None


def test_reserved_names_rejected(frames):
    left, right = frames
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left.withColumn("matched_ts", F.lit(1)), right,
                  on="k", left_ts="ts", right_ts="ts", payload=["payload"])
    with pytest.raises(ValueError, match="reserved"):
        asof_join(left.withColumn("_side", F.lit(1)), right,
                  on="k", left_ts="ts", right_ts="ts", payload=["payload"])


def test_engine_events_facade(spark):
    """The temporal operators compose over one events table: windows,
    sessions, as-of enrichment and interval tagging."""
    from gdal_drivers_spark.operators.intervals import interval_join
    from gdal_drivers_spark.streaming.events import windowed_event_counts
    from gdal_drivers_spark.streaming.sessionize import sessionize_batch

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    assert windowed_event_counts(ev).count() > 0
    assert sessionize_batch(ev).count() > 0
    right = ev.filter("event_type = 'error'").select(
        "user_id", "ts", F.col("event_id").alias("marker_id")
    )
    joined = asof_join(ev, right, on="user_id", left_ts="ts", right_ts="ts",
                       payload=["marker_id"])
    assert joined.count() == ev.count()
    iv = spark.createDataFrame([(1, 0, 100)], "iid long, lo long, hi long")
    pts = ev.select("event_id", F.round(F.col("value") * 100).cast("long").alias("v"))
    tagged = interval_join(pts, iv, "v", "lo", "hi", bin_width=64)
    assert tagged.count() > 0


def test_duplicate_right_latest_wins(spark):
    left = spark.createDataFrame([(1, 7, _ts(100))], "event_id long, k long, ts timestamp")
    right = spark.createDataFrame(
        [(7, _ts(10), 1), (7, _ts(50), 2), (7, _ts(99), 3)],
        "k long, ts timestamp, payload long",
    )
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["payload"])
    assert out.collect()[0]["payload"] == 3


def test_asof_matches_pandas_merge_asof_randomized(spark):
    """Third-party cross-check: pandas.merge_asof (backward,
    allow_exact_matches=True) is an independent implementation of the
    same semantics — 200 random events over 8 keys with duplicate-free
    (key, ts) must match exactly, including never-matched rows."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(42)
    n_l, n_r = 200, 60
    base = pd.Timestamp("2024-01-01")
    lts = base + pd.to_timedelta(rng.choice(10_000, n_l, replace=False), unit="s")
    rts = base + pd.to_timedelta(rng.choice(10_000, n_r, replace=False), unit="s")
    lpd = pd.DataFrame({
        "event_id": np.arange(n_l), "k": rng.integers(0, 8, n_l), "ts": lts,
    })
    rpd = pd.DataFrame({
        "k": rng.integers(0, 8, n_r), "ts": rts, "payload": rng.integers(0, 1000, n_r),
    })
    expect = pd.merge_asof(
        lpd.sort_values("ts"), rpd.sort_values("ts"),
        on="ts", by="k", direction="backward", allow_exact_matches=True,
    ).sort_values("event_id")
    exp = {
        int(r.event_id): (None if pd.isna(r.payload) else int(r.payload))
        for r in expect.itertuples()
    }

    left = spark.createDataFrame(lpd)
    right = spark.createDataFrame(rpd)
    out = asof_join(left, right, on="k", left_ts="ts", right_ts="ts",
                    payload=["payload"])
    got = {int(r["event_id"]): (None if r["payload"] is None else int(r["payload"]))
           for r in out.collect()}
    assert got == exp
