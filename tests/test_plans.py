"""Scale/robustness layer: skew handling, lineage, checkpoint resume,
streaming-vs-batch equivalence."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from gdal_drivers_spark.core import qcell
from gdal_drivers_spark.plans.checkpoint import CheckpointedWriter
from gdal_drivers_spark.plans.lineage import lineage_records
from gdal_drivers_spark.plans.skew import (
    cell_census,
    hot_cells,
    split_hot_cells,
    with_salt,
)


def _skewed_assignments(spark, n_hot=2000, n_cold=50):
    """One pathologically hot cell + sparse background, with footprints
    so adaptive split can route rows by midpoint."""
    z = 4
    hot_cell = int(qcell.pack(z, 3, 3))
    rng = np.random.default_rng(42)
    rows = []
    cw = 1 / 16
    for i in range(n_hot):
        mx, my = 3 * cw + rng.random() * cw, 3 * cw + rng.random() * cw
        rows.append((i, hot_cell, mx - 0.001, my - 0.001, mx + 0.001, my + 0.001))
    for i in range(n_cold):
        cx, cy = int(rng.integers(0, 16)), int(rng.integers(0, 16))
        if (cx, cy) == (3, 3):
            continue
        mx, my = (cx + 0.5) * cw, (cy + 0.5) * cw
        rows.append((n_hot + i, int(qcell.pack(z, cx, cy)), mx, my, mx + 0.001, my + 0.001))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["rid", "cell", "x0", "y0", "x1", "y1"])
    )


def test_census_and_hot_detection(spark):
    df = _skewed_assignments(spark)
    hot = hot_cells(df, threshold=500).collect()
    assert len(hot) == 1
    assert hot[0]["cell"] == int(qcell.pack(4, 3, 3))


def test_salting_preserves_totals(spark):
    df = _skewed_assignments(spark)
    hot = hot_cells(df, threshold=500)
    salted = with_salt(df, hot, n_salts=8, salt_src="rid")
    # two-stage agg == direct agg
    direct = {r["cell"]: r["count"] for r in cell_census(df).collect()}
    partial = salted.groupBy("cell", "salt").count()
    recombined = {
        r["cell"]: r["n"]
        for r in partial.groupBy("cell").agg(F.sum("count").alias("n")).collect()
    }
    assert recombined == direct
    # the hot cell actually fans out
    n_salts_used = salted.filter(F.col("cell") == int(qcell.pack(4, 3, 3))).select(
        "salt"
    ).distinct().count()
    assert n_salts_used > 4


def test_adaptive_cell_split(spark):
    df = _skewed_assignments(spark)
    out = split_hot_cells(df, threshold=500, max_rounds=4)
    census = {r["cell"]: r["count"] for r in cell_census(out).collect()}
    assert out.count() == df.count()  # no rows lost
    assert max(census.values()) <= 2000  # hot cell got subdivided
    hot_children = [c for c in census if (c >> 52) > 4]
    assert len(hot_children) >= 2  # descended at least one level
    # children of the hot cell only
    for c in hot_children:
        z, x, y = (int(v) for v in qcell.unpack(np.int64(c)))
        assert (x >> (z - 4), y >> (z - 4)) == (3, 3)


def test_lineage_checksum_order_insensitive(spark):
    df = spark.range(1000).select(F.col("id").alias("k"))
    a = lineage_records(df.repartition(8, "k"), "k")
    b = lineage_records(df.sort(F.desc("k")).repartition(8, "k"), "k")
    tot_a = a.agg(F.sum("n_rows"), F.expr("bit_xor(checksum)")).collect()[0]
    tot_b = b.agg(F.sum("n_rows"), F.expr("bit_xor(checksum)")).collect()[0]
    assert tot_a == tot_b
    assert tot_a[0] == 1000


def test_bucket_lineage_engine_portable(spark):
    """Deterministic bucket lineage: bit-identical regardless of
    physical partitioning, and replayable outside Spark (pandas
    recomputes the same records from the same rows)."""
    import pandas as pd

    from gdal_drivers_spark.plans.lineage import bucket_lineage_records

    df = spark.range(1, 2001).select(F.col("id").alias("k"))
    a = bucket_lineage_records(df.repartition(16, "k"), "k", n_buckets=8)
    b = bucket_lineage_records(df.sort(F.desc("k")).coalesce(1), "k", n_buckets=8)
    ra = sorted(tuple(r) for r in a.collect())
    assert ra == sorted(tuple(r) for r in b.collect())

    ks = np.arange(1, 2001, dtype=np.int64)
    mix = (ks * 2654435761) % (1 << 32)
    pdf = pd.DataFrame({"bucket": mix % 8, "k": ks, "mix": mix})
    expect = sorted(
        (int(g), int(len(s)), int(s["mix"].sum()), int(s["k"].min()), int(s["k"].max()))
        for g, s in pdf.groupby("bucket")
    )
    assert ra == expect


def test_observed_counters(spark):
    from gdal_drivers_spark.plans.lineage import observed

    df = spark.range(500).select(
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id")).alias("k")
    )
    out, obs = observed(df, "k")
    assert out.count() == 500  # the counting action feeds the observation
    assert obs.get == {"rows": 500, "null_keys": 100}


def test_checkpoint_lineage_and_counters(spark, tmp_path):
    """north rule: every partition emits lineage records and counters.
    write_batches commits per-bucket lineage before each manifest row,
    the bucket records fold to the manifest checksum, and the write
    action's observation counts land in stats."""
    n = 4096
    data = spark.range(n).select(F.col("id").alias("k"), (F.col("id") % 5).alias("batch"))
    w = CheckpointedWriter(spark, str(tmp_path / "out"))
    stats = w.write_batches(data, F.col("batch"), key="k", lineage_buckets=8)
    assert stats["observed_rows"] == n and stats["observed_null_keys"] == 0

    lin = w.lineage()
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == n
    # per-batch: xor of bucket checksums == manifest checksum
    folded = {
        int(r["batch"]): (int(r["n"]), int(r["ck"]))
        for r in lin.groupBy("batch")
        .agg(F.sum("n_rows").alias("n"), F.expr("bit_xor(checksum)").alias("ck"))
        .collect()
    }
    man = {
        int(r["batch_id"]): (int(r["n_rows"]), int(r["checksum"]))
        for r in w._read_manifest().collect()
    }
    assert folded == man
    # resume skips committed batches but their lineage stays readable
    stats2 = CheckpointedWriter(spark, str(tmp_path / "out")).write_batches(
        data, F.col("batch"), key="k", lineage_buckets=8
    )
    assert stats2["written"] == 0 and stats2["skipped"] == 5
    assert w.lineage(batch_id=2).count() > 0


def test_checkpoint_string_and_null_keys(spark, tmp_path):
    """The checkpoint lineage path must survive ANY key type: string
    keys (the e2e image_id case — ANSI cast would throw) and NULL keys
    (a portable-hash bucket would come back NULL). Empty committed
    batches still get a (0-row) lineage file."""
    data = spark.range(200).select(
        F.when(F.col("id") % 50 == 0, None)
        .otherwise(F.concat(F.lit("img"), F.col("id")))
        .alias("k"),
        (F.col("id") % 3).alias("batch"),
    )
    w = CheckpointedWriter(spark, str(tmp_path / "out"))
    stats = w.write_batches(data, F.col("batch"), key="k", lineage_buckets=4,
                            batch_ids=[0, 1, 2, 9])  # 9 = empty batch
    assert stats["written"] == 4
    assert stats["observed_rows"] == 200 and stats["observed_null_keys"] == 4
    assert w.lineage().agg(F.sum("n_rows")).collect()[0][0] == 200
    assert w.lineage(batch_id=9).count() == 0  # evidence exists, empty
    assert w.validate("k")


def test_checkpoint_compaction(spark, tmp_path):
    """Snapshot-safe small-file compaction: committed batches with
    many small files collapse to few, content + manifest validation
    unchanged, read_committed byte-identical."""
    data = spark.range(5000).repartition(16).select(
        F.col("id").alias("k"), (F.col("id") % 3).alias("batch")
    )
    w = CheckpointedWriter(spark, str(tmp_path / "out"))
    w.write_batches(data, F.col("batch"), key="k")
    before = sorted(r["k"] for r in w.read_committed().collect())

    stats = w.compact("k", target_bytes=1 << 30)  # everything → 1 file
    assert stats["compacted"] == 3
    assert stats["files_after"] == 3 and stats["files_before"] > 3
    assert sorted(r["k"] for r in w.read_committed().collect()) == before
    assert w.validate("k")
    # idempotent: a second pass finds nothing to do
    assert w.compact("k", target_bytes=1 << 30)["compacted"] == 0


def test_checkpoint_resume_identical_output(spark, tmp_path):
    """Kill mid-job, resume, final output identical to a clean run."""
    data = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("batch")
    )
    clean_dir = str(tmp_path / "clean")
    w1 = CheckpointedWriter(spark, clean_dir)
    w1.write_batches(data, F.col("batch"), key="k")
    clean = sorted(r["k"] for r in w1.read_committed().select("k").collect())

    crash_dir = str(tmp_path / "crash")
    w2 = CheckpointedWriter(spark, crash_dir)
    # the crash state: every batch written, only the first 3 committed
    w2.write_batches(data, F.col("batch"), key="k", batch_ids=[0, 1, 2])
    assert w2.committed() == {0, 1, 2}
    # resume with a fresh writer (new process semantics)
    w3 = CheckpointedWriter(spark, crash_dir)
    stats = w3.write_batches(data, F.col("batch"), key="k")
    assert stats["skipped"] == 3 and stats["written"] == 4
    resumed = sorted(r["k"] for r in w3.read_committed().select("k").collect())
    assert resumed == clean
    assert w3.validate("k")


def test_aqe_splits_skewed_cell_join(spark):
    """The join half of the skew story (SURVEY §4): engine-level
    salting/cell-split covers grouped aggregations; for JOINS the
    engine relies on AQE's skew split — prove it actually engages on a
    hot-cell join (95% of rows on one cell): the final adaptive plan
    must show SortMergeJoin(skew=true) with an AQEShuffleRead skewed
    child. Thresholds lowered to make the tiny fixture 'big'."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
        left = spark.range(400_000).select(
            F.when(F.col("id") % 20 != 0, F.lit(42))
            .otherwise(F.col("id") % 1000)
            .alias("cell"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(1000).select(
            F.col("id").alias("cell"), (F.col("id") * 7).alias("attr")
        )
        j = left.join(right, "cell")
        assert len(j.collect()) == 400_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "AQE skew split did not engage"
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_checkpoint_time_travel(spark, tmp_path):
    """Read-as-of-snapshot on the manifest log: the table as it stood
    after snapshot s is exactly the first s committed batches, and the
    sequence survives a resume (monotone across writers)."""
    data = spark.range(1_000).select(
        F.col("id").alias("k"), (F.col("id") % 5).alias("batch")
    )
    d = str(tmp_path / "tt")
    w = CheckpointedWriter(spark, d)
    w.write_batches(data, F.col("batch"), key="k", batch_ids=[0, 1])
    CheckpointedWriter(spark, d).write_batches(data, F.col("batch"), key="k")
    snaps = CheckpointedWriter(spark, d).snapshots()
    assert [s for s, _, _ in snaps] == [1, 2, 3, 4, 5]
    r = CheckpointedWriter(spark, d)
    n_full = r.read_committed().count()
    assert n_full == 1_000
    as_of_2 = r.read_committed(as_of_seq=2)
    batches_2 = {b for _, b, _ in snaps[:2]}
    expect = data.filter(F.col("batch").isin([int(x) for x in batches_2])).count()
    assert as_of_2.count() == expect < n_full


def test_stream_equals_batch(spark, tmp_path):
    """Windowed agg over the events stream (availableNow) == batch twin."""
    from gdal_drivers_spark.streaming.events import (
        read_events_stream,
        run_stream_to_memory,
        windowed_event_counts,
    )

    import shutil

    src = "/root/testdata/sf0.001/events.parquet"
    batch = windowed_event_counts(spark.read.parquet(src))
    expected = sorted(tuple(r) for r in batch.collect())

    # file-stream sources require a directory
    stream_dir = str(tmp_path / "events_stream")
    import os

    os.makedirs(stream_dir)
    shutil.copy(src, f"{stream_dir}/part-0.parquet")
    stream = read_events_stream(spark, stream_dir, max_files=1)
    out = windowed_event_counts(stream)
    run_stream_to_memory(out, "ev_windows")
    got = sorted(tuple(r) for r in spark.sql("SELECT * FROM ev_windows").collect())
    assert got == expected


def test_checkpoint_single_input_scan(spark, tmp_path):
    """VERDICT r01 #5 done-criterion: write_batches scans the INPUT
    exactly once regardless of batch count. An accumulator bumped by a
    pandas UDF in the input plan counts how many rows ever flow out of
    the source; after writing 8 batches it must equal n_rows (the old
    per-batch loop scanned ~2×8 times)."""
    acc = spark.sparkContext.accumulator(0)

    @F.pandas_udf("long")
    def counted(v: pd.Series) -> pd.Series:
        acc.add(len(v))
        return v

    n = 4000
    src = spark.range(n).select(
        counted(F.col("id")).alias("k"), (F.col("id") % 97).alias("v")
    )
    w = CheckpointedWriter(spark, str(tmp_path / "out"))
    stats = w.write_batches(src, F.col("k") % 8, key="k")
    assert stats["written"] == 8 and stats["rows"] == n
    assert acc.value == n, f"input scanned {acc.value / n:.1f}× (want 1×)"
    # and the committed data reads back complete + valid
    assert w.read_committed().count() == n
    assert w.validate("k")


def test_manifest_mixes_pre_seq_commits(spark, tmp_path):
    """ADVICE r01: manifests written before the ``seq`` column existed
    must still read (mergeSchema + seq default), and committed() only
    swallows the empty-manifest case."""
    w = CheckpointedWriter(spark, str(tmp_path / "out"))
    # simulate an old 3-column commit file
    spark.createDataFrame(
        [(0, 10, 1234)], "batch_id long, n_rows long, checksum long"
    ).coalesce(1).write.parquet(f"{w.manifest_dir}/commit-0-legacy")
    src = spark.range(100).select(F.col("id").alias("k"))
    stats = w.write_batches(src, F.col("k") % 4, key="k")
    assert stats["skipped"] == 1 and stats["written"] == 3  # batch 0 honored
    assert w.committed() == {0, 1, 2, 3}
    snaps = w.snapshots()
    assert [s for s, _, _ in snaps][:1] == [0]  # legacy commit defaults to seq 0


def test_checkpoint_ignores_stale_uncommitted_dirs(spark, tmp_path):
    """Review r02: a batch dir left by a previous failed run, whose
    batch is ABSENT from the current input, must not be committed as if
    this input produced it."""
    import time as _time

    out = str(tmp_path / "out")
    w = CheckpointedWriter(spark, out)
    # plant an uncommitted leftover dir (as a previous failed run would)
    spark.range(7).select(F.col("id").alias("k")).write.parquet(f"{out}/batch=9")
    _time.sleep(0.05)  # ensure a distinguishable mtime
    src = spark.range(100).select(F.col("id").alias("k"))
    stats = w.write_batches(src, F.col("k") % 2, key="k")
    assert stats["written"] == 2
    assert w.committed() == {0, 1}  # stale batch 9 never committed
    assert w.read_committed().count() == 100


def test_checkpoint_many_batches_scale_contract(spark, tmp_path):
    """Manifest-scale contract (VERDICT r02 #7): the resume filter is a
    broadcast anti-join against the manifest frame (no isin over a
    driver-materialized id list), lineage lands via ONE distributed
    partitionBy write, commits append in one manifest file, and
    validate() is a single job — so batch count never bloats the driver
    or the plan. 2 000 batches here (CI-sized); the same flow measured
    at 10 000 batches: write 196 s, resume-skip 0.9 s, committed() 0.3 s,
    single-job validate 30 s, flat driver memory (PLANS.md)."""
    n_b = 2000
    out = str(tmp_path / "out")
    w = CheckpointedWriter(spark, out)
    df = spark.range(3 * n_b).select(F.col("id").alias("k"))
    batch = (F.col("k") % n_b).cast("int")
    stats = w.write_batches(df, batch, "k")
    assert stats["written"] == n_b and stats["rows"] == 3 * n_b
    assert len(w.committed()) == n_b
    # full resume: everything skipped, nothing rewritten
    stats2 = w.write_batches(df, batch, "k")
    assert stats2["written"] == 0 and stats2["skipped"] == n_b
    # the resume plan must carry a broadcast anti-join, not an In-list
    tagged = df.withColumn("batch", batch)
    resumed = tagged.join(
        F.broadcast(w._read_manifest().select(F.col("batch_id").alias("batch"))),
        "batch", "left_anti",
    )
    plan = resumed._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan and " IN (" not in plan
    # one-job validation over all committed batches
    assert w.validate("k")
    # lineage evidence exists for an arbitrary batch, written pre-commit
    lin = w.lineage(batch_id=n_b // 2)
    assert lin.agg(F.sum("n_rows")).collect()[0][0] == 3
    # read-back integrity
    assert w.read_committed().count() == 3 * n_b
