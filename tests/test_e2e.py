"""End-to-end north-rule scenario: the full image pipeline —
distributed synthesis → Arrow-batch decode → tile assignment →
per-partition lineage → checkpointed batch write — killed mid-job and
resumed, with the resumed output byte-identical to a clean run and the
lineage/observed-count evidence intact (BASELINE.json north_rule: "resumable
from checkpoint with per-partition lineage + metrics")."""

from pyspark.sql import functions as F

from gdal_drivers_spark.operators.assign import assign_tiles
from gdal_drivers_spark.operators.decode import decode_stats
from gdal_drivers_spark.plans.checkpoint import CheckpointedWriter
from gdal_drivers_spark.plans.lineage import lineage_records, observed
from gdal_drivers_spark.sources import synth

N_IMAGES = 400
Z = 5


def _assignments(spark):
    """The pipeline's assignments, and an Observation counting the
    synthesized images that enter it."""
    images, seen = observed(
        synth.images_df(spark.range(0, N_IMAGES, 1, 8)), "image_id", name="images"
    )
    decoded = decode_stats(images)
    assigned = assign_tiles(decoded.filter("dec_ok"), z=Z)
    return assigned.select(
        "image_id", "cell", (F.col("cell") % 8).alias("batch")
    ), seen


def test_image_pipeline_kill_resume_and_lineage(spark, tmp_path):
    assigned, seen = _assignments(spark)

    # --- clean run
    clean_dir = str(tmp_path / "clean")
    w_clean = CheckpointedWriter(spark, clean_dir)
    w_clean.write_batches(assigned, F.col("batch"), key="image_id")
    clean = sorted(
        (r["image_id"], r["cell"])
        for r in w_clean.read_committed().select("image_id", "cell").collect()
    )
    assert len(clean) > N_IMAGES / 2  # every image covers ≥1 cell
    # the write saw every synthesized image exactly once
    assert seen.get["rows"] == N_IMAGES

    # --- killed run: every batch written, only the first 3 committed
    crash_dir = str(tmp_path / "crash")
    w_crash = CheckpointedWriter(spark, crash_dir)
    w_crash.write_batches(assigned, F.col("batch"), key="image_id", batch_ids=[0, 1, 2])
    assert w_crash.committed() == {0, 1, 2}

    # --- resume from the manifest (fresh writer = new-process semantics)
    w_resume = CheckpointedWriter(spark, crash_dir)
    stats = w_resume.write_batches(assigned, F.col("batch"), key="image_id")
    assert stats["skipped"] == 3 and stats["written"] == 5
    resumed = sorted(
        (r["image_id"], r["cell"])
        for r in w_resume.read_committed().select("image_id", "cell").collect()
    )
    assert resumed == clean
    assert w_resume.validate("image_id")

    # --- per-partition lineage over the final table: totals must match
    lin = lineage_records(w_resume.read_committed(), "cell")
    tot = lin.agg(F.sum("n_rows").alias("n")).collect()[0]["n"]
    assert tot == len(clean)
