"""Streaming ingest → checkpointed sink (r04): a mid-stream kill after
an epoch's manifest commit forces Structured Streaming to REPLAY that
epoch on restart; the manifest must skip it (exactly-once), and the
committed output must be byte-identical to an uninterrupted run."""

import glob
import os
import shutil
import tempfile

import pytest

from gdal_drivers_spark.operators.assign import assign_tiles
from gdal_drivers_spark.operators.decode import decode_stats
from gdal_drivers_spark.plans.checkpoint import CheckpointedWriter
from gdal_drivers_spark.sources import synth
from gdal_drivers_spark.streaming.checkpointed import start_checkpointed_ingest
from gdal_drivers_spark.streaming.ingest import assign_images_stream, read_images_stream


def _stream_files(spark, images, stream_dir, n_files=4):
    os.makedirs(stream_dir)
    tmp = tempfile.mkdtemp()
    images.coalesce(n_files).write.mode("overwrite").parquet(tmp + "/d")
    for i, part in enumerate(sorted(glob.glob(tmp + "/d/part-*.parquet"))):
        shutil.copy(part, f"{stream_dir}/f{i}.parquet")
    shutil.rmtree(tmp)


def test_stream_kill_restart_is_exactly_once_and_byte_identical(
        spark, tmp_path, crash_after_commit):
    images = synth.images_df(spark.range(0, 160, 1, 4))
    stream_dir = str(tmp_path / "imgs")
    _stream_files(spark, images, stream_dir, n_files=4)

    # ---------- killed run: crash right AFTER epoch 1's manifest commit
    out_a = str(tmp_path / "out_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    wa = CheckpointedWriter(spark, out_a)

    def run():
        stream = read_images_stream(spark, stream_dir, max_files=1)
        q = start_checkpointed_ingest(
            assign_images_stream(stream, z=6), wa, ckpt_a)
        q.awaitTermination()

    with crash_after_commit(wa, 1), pytest.raises(Exception, match="injected failure"):
        run()
    committed_mid = wa.committed()
    assert committed_mid == {0, 1}  # epoch 1 committed, THEN the crash

    # restart with the same streaming checkpoint: epoch 1 is REPLAYED
    # (Spark never recorded its offsets) — the manifest must skip it
    run()
    assert wa.validate("image_id")
    snaps = wa.snapshots()
    assert [b for _, b, _ in snaps] == sorted({b for _, b, _ in snaps}), \
        "an epoch was committed twice"

    # ---------- uninterrupted control run → identical committed content
    out_b = str(tmp_path / "out_b")
    wb = CheckpointedWriter(spark, out_b)
    stream = read_images_stream(spark, stream_dir, max_files=1)
    q = start_checkpointed_ingest(
        assign_images_stream(stream, z=6), wb, str(tmp_path / "ckpt_b"))
    q.awaitTermination()
    assert wb.validate("image_id")

    rows_a = sorted(map(tuple, wa.read_committed()
                        .select("image_id", "cell", "cx", "cy").collect()))
    rows_b = sorted(map(tuple, wb.read_committed()
                        .select("image_id", "cell", "cx", "cy").collect()))
    assert rows_a == rows_b and len(rows_a) > 160

    # per-batch manifest checksums agree batch-for-batch (the "byte
    # identical committed output" claim at the commit-protocol level)
    man_a = {int(r["batch_id"]): (int(r["n_rows"]), int(r["checksum"]))
             for r in wa._read_manifest().collect()}
    man_b = {int(r["batch_id"]): (int(r["n_rows"]), int(r["checksum"]))
             for r in wb._read_manifest().collect()}
    assert man_a == man_b

    # batch truth: the streaming+checkpoint composition lost nothing
    batch = assign_tiles(decode_stats(images).filter("dec_ok"), z=6)
    expected = sorted(map(tuple, batch.select("image_id", "cell", "cx", "cy").collect()))
    assert rows_a == expected


def test_stream_identity_guard_refuses_new_checkpoint_lineage(spark, tmp_path):
    """ADVICE r05 (medium): epoch ids are only comparable within ONE
    streaming-checkpoint lineage. If the checkpointLocation is deleted
    or changed while the same output dir is reused, epoch ids restart
    at 0 and the manifest anti-join would silently skip genuinely-new
    micro-batches as 'already committed' — silent data loss. The sink
    pins the stream's stable query id next to the manifest and FAILS
    FAST when a different id targets a manifest with committed
    batches; re-running under the ORIGINAL checkpoint still resumes
    cleanly."""
    images = synth.images_df(spark.range(0, 80, 1, 2))
    stream_dir = str(tmp_path / "imgs")
    _stream_files(spark, images, stream_dir, n_files=2)
    out = str(tmp_path / "out")
    ckpt_a = str(tmp_path / "ckpt_a")
    w = CheckpointedWriter(spark, out)

    def run(ckpt):
        stream = read_images_stream(spark, stream_dir, max_files=1)
        q = start_checkpointed_ingest(
            assign_images_stream(stream, z=6), w, ckpt)
        q.awaitTermination()

    run(ckpt_a)
    committed = w.committed()
    assert committed == {0, 1}

    # same checkpoint lineage again: no-op resume, no error
    run(ckpt_a)
    assert w.committed() == committed

    # NEW checkpoint dir (epoch ids restart at 0) + committed manifest
    # → the guard must refuse instead of silently skipping epoch 0/1
    with pytest.raises(Exception, match="epoch ids restart"):
        run(str(tmp_path / "ckpt_b"))
    assert w.committed() == committed, "guard must not mutate the manifest"


def test_stream_compaction_preserves_validate_and_resume(spark, tmp_path):
    """VERDICT r04 #7: 10⁴ availableNow epochs accrete 10⁴ small file
    sets — the writer's ``compact()`` must compose with the STREAM
    manifest. After streaming N epochs: compact → validate() green and
    committed content identical; a restart under the same checkpoint
    is still a no-op (replayed epochs skipped); NEW files arriving
    after compaction commit as new epochs on top of the compacted
    layout, and validate() stays green across the mixed
    compacted/uncompacted batches."""
    images = synth.images_df(spark.range(0, 160, 1, 4))
    stream_dir = str(tmp_path / "imgs")
    _stream_files(spark, images, stream_dir, n_files=4)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    w = CheckpointedWriter(spark, out)

    def run():
        stream = read_images_stream(spark, stream_dir, max_files=1)
        # repartition(4) makes each epoch land 4 small files — the
        # accretion pattern compact() exists for (a 1-file epoch is
        # already compact and gets skipped)
        q = start_checkpointed_ingest(
            assign_images_stream(stream, z=6).repartition(4), w, ckpt)
        q.awaitTermination()

    run()
    assert w.committed() == {0, 1, 2, 3}
    before = sorted(map(tuple, w.read_committed()
                        .select("image_id", "cell", "cx", "cy").collect()))

    stats = w.compact("image_id")
    assert stats["compacted"] >= 1, stats
    assert stats["files_after"] < stats["files_before"], stats
    # content identical, manifest still verifies against rewritten bytes
    assert w.validate("image_id")
    assert sorted(map(tuple, w.read_committed()
                      .select("image_id", "cell", "cx", "cy").collect())) == before

    # restart under the same checkpoint: nothing new → no-op resume,
    # no epoch re-applied onto the compacted dirs
    run()
    assert w.committed() == {0, 1, 2, 3}
    assert w.validate("image_id")

    # new arrivals post-compaction commit as fresh epochs
    more = synth.images_df(spark.range(0, 80, 1, 2))
    tmp = tempfile.mkdtemp()
    more.coalesce(2).write.mode("overwrite").parquet(tmp + "/d")
    for i, part in enumerate(sorted(glob.glob(tmp + "/d/part-*.parquet"))):
        shutil.copy(part, f"{stream_dir}/g{i}.parquet")
    shutil.rmtree(tmp)
    run()
    assert w.committed() == {0, 1, 2, 3, 4, 5}
    assert w.validate("image_id")
    both = assign_tiles(
        decode_stats(images.unionByName(more)).filter("dec_ok"), z=6)
    expected = sorted(map(tuple, both.select(
        "image_id", "cell", "cx", "cy").collect()))
    got = sorted(map(tuple, w.read_committed()
                     .select("image_id", "cell", "cx", "cy").collect()))
    assert got == expected


def test_stream_identity_guard_refuses_unverifiable_manifest(spark, tmp_path):
    """r05 review: a manifest with committed batches but NO _stream_id
    sidecar (pre-guard engine, or the sidecar was deleted) must NOT be
    silently adopted — if the lineage actually changed, adoption
    re-opens the exact silent-skip data-loss mode the guard closes.
    The error tells the operator how to adopt explicitly when they
    KNOW the lineage is unchanged; doing so resumes cleanly."""
    from gdal_drivers_spark.streaming.checkpointed import _stream_query_id

    images = synth.images_df(spark.range(0, 80, 1, 2))
    stream_dir = str(tmp_path / "imgs")
    _stream_files(spark, images, stream_dir, n_files=2)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    w = CheckpointedWriter(spark, out)

    def run():
        stream = read_images_stream(spark, stream_dir, max_files=1)
        q = start_checkpointed_ingest(
            assign_images_stream(stream, z=6), w, ckpt)
        q.awaitTermination()

    run()
    committed = w.committed()
    assert committed == {0, 1}

    marker = os.path.join(w.manifest_dir, "_stream_id")
    os.remove(marker)  # sidecar lost; manifest still holds commits
    # a new file arrives so the resume actually presents an epoch —
    # the guard runs on the first epoch of a run (a batchless no-op
    # resume has nothing to lose and nothing to check)
    more = synth.images_df(spark.range(0, 40, 1, 1))
    tmp2 = str(tmp_path / "more")
    more.coalesce(1).write.parquet(tmp2)
    shutil.copy(sorted(glob.glob(tmp2 + "/part-*.parquet"))[0],
                f"{stream_dir}/f9.parquet")
    with pytest.raises(Exception, match="_stream_id"):
        run()
    assert w.committed() == committed, "no epoch may commit unverified"

    # operator verifies the lineage is the original and adopts it the
    # way the error message says — the new epoch then lands cleanly
    with open(marker, "w") as fh:
        fh.write(_stream_query_id(ckpt))
    run()
    assert w.committed() == committed | {2}
