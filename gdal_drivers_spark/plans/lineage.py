"""Per-partition lineage records + observed counts.

Every partition of a tracked stage emits one lineage row (partition id,
row count, key range, content checksum) alongside observed counts —
the audit trail that makes a 10^12-row job debuggable and the resume
decision (plans/checkpoint.py) verifiable. The reference's analogue is
its structured error/warning channel (``mvt.cpp:262-287``
checkNonzero/checkZero/checkSingle; consumed-input warning
``mvt.cpp:207-213``) — here it becomes data, not stderr.

Implementation: a per-row Arrow pass-through that also yields side rows
is not possible (one schema per stream), so lineage is a *parallel*
aggregation over the same partitioning: ``spark_partition_id()`` +
groupBy — zero extra shuffle when the input is already partitioned, one
cheap key-only shuffle otherwise. Row counts come from ``observed``: a
``pyspark.sql.Observation`` read from the metrics of one action's plan,
not an accumulator bumped inside Python tasks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

LINEAGE_COLS = ["part_id", "n_rows", "key_min", "key_max", "checksum"]


def lineage_records(df: DataFrame, key: str) -> DataFrame:
    """One row per physical partition: count, key envelope, and an
    order-insensitive checksum (bit_xor of xxhash64 — commutative and
    overflow-free under ANSI mode; identical duplicate rows cancel,
    which is consistent between write and validate)."""
    return (
        df.withColumn("_pid", F.spark_partition_id())
        .groupBy("_pid")
        .agg(
            F.count("*").alias("n_rows"),
            F.min(key).alias("key_min"),
            F.max(key).alias("key_max"),
            F.expr(f"bit_xor(xxhash64({key}))").alias("checksum"),
        )
        .withColumnRenamed("_pid", "part_id")
    )


def bucket_lineage_records(df: DataFrame, key: str, n_buckets: int = 64) -> DataFrame:
    """Engine-portable lineage: one record per deterministic key-hash
    bucket — (bucket, n_rows, checksum, key_min, key_max). The
    checksum is the sum of 32-bit key mixes: commutative (partial
    aggregation and row order cannot change it) and bounded by
    n_rows·2³², inside int64 up to ~2·10⁹ rows per bucket. All four
    aggregates map-side combine, so the shuffle carries ≤ n_buckets
    rows per task regardless of data size.

    The bucket is the engine-portable multiplicative key hash
    (``operators.sample._mix``) mod ``n_buckets`` — pure arithmetic on
    an INTEGER key, replayable bit-for-bit by any engine over the same
    rows, so bucket-level lineage doubles as cross-run/cross-engine
    evidence (and the contract oracle checks it in SQL). Requires an
    integer-castable key (ANSI cast throws on arbitrary strings)."""
    from gdal_drivers_spark.operators.sample import _mix

    return (
        df.groupBy((_mix(key) % F.lit(int(n_buckets))).cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_mix(key)).cast("long").alias("checksum"),
            F.min(F.col(key)).cast("long").alias("key_min"),
            F.max(F.col(key)).cast("long").alias("key_max"),
        )
    )


def observed(df: DataFrame, key: str, name: str = "lineage"):
    """Attach row/null-key counters to ``df`` via
    ``pyspark.sql.Observation`` — collected by the FIRST action on the
    returned frame itself, with zero extra scans.
    Returns ``(df_with_observation, observation)``;
    ``observation.get`` then yields ``{"rows": n, "null_keys": n}``."""
    from pyspark.sql import Observation

    obs = Observation(name)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col(key).isNull().cast("long")).alias("null_keys"),
    )
    return out, obs

