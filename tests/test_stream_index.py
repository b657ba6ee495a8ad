"""Streaming ANN-index ingest (r05): continuous corpus ingest composed
with the exactly-once checkpointed sink. Per epoch only the delta is
coarse-assigned (ivf_assign — broadcast centroids, delta-sized
shuffle) and committed as one manifest batch; a kill right after an
epoch's commit forces Structured Streaming to replay it, the manifest
must skip the replay, and the SERVED index (base ∪ committed epochs)
must equal a one-shot assignment of the whole corpus bit-for-bit —
which makes ivf_topk over the streamed index identical to ivf_topk
over a batch-built one."""

import glob
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from gdal_drivers_spark.operators.similarity import (
    ivf_assign,
    ivf_topk,
    ivfpq_encode,
    ivfpq_topk,
    pq_codewords_from_sample,
)
from gdal_drivers_spark.plans.checkpoint import CheckpointedWriter
from gdal_drivers_spark.streaming.checkpointed import (
    read_stream_index,
    start_index_ingest,
)

DIM = 8


def _emb(spark, n, start=0):
    """Deterministic embeddings (no RNG): cid, cvec float array."""
    return spark.range(start, start + n).select(
        F.col("id").alias("cid"),
        F.expr(
            f"transform(sequence(0, {DIM - 1}), "
            "j -> cast(((id * 31 + j * 17) % 97) / 97.0 - 0.5 AS float))"
        ).alias("cvec"),
    )


def _cents(spark, n_lists=4):
    return spark.range(n_lists).select(
        F.col("id").alias("list_id"),
        F.expr(
            f"transform(sequence(0, {DIM - 1}), "
            "j -> cast(((id * 53 + j * 29) % 89) / 89.0 - 0.5 AS float))"
        ).alias("center"),
    )


def _stream_files(df, stream_dir, n_files):
    os.makedirs(stream_dir)
    tmp = tempfile.mkdtemp()
    df.coalesce(n_files).write.mode("overwrite").parquet(tmp + "/d")
    for i, part in enumerate(sorted(glob.glob(tmp + "/d/part-*.parquet"))):
        shutil.copy(part, f"{stream_dir}/f{i}.parquet")
    shutil.rmtree(tmp)
    return df.schema


def test_stream_index_ingest_exactly_once_matches_batch_build(
        spark, tmp_path, crash_after_commit):
    cents = _cents(spark)
    fresh = _emb(spark, 120, start=200).repartition(3)
    stream_dir = str(tmp_path / "emb")
    schema = _stream_files(fresh, stream_dir, n_files=3)

    out = str(tmp_path / "sidx")
    ckpt = str(tmp_path / "ckpt")
    w = CheckpointedWriter(spark, out)

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        start_index_ingest(stream, cents, w, ckpt).awaitTermination()

    # kill right AFTER epoch 1's manifest commit → Spark replays epoch 1
    with crash_after_commit(w, 1), pytest.raises(Exception, match="injected failure"):
        run()
    assert w.committed() == {0, 1}

    run()  # restart: replayed epoch skipped, remaining epochs land
    assert w.validate("cid")
    snaps = w.snapshots()
    assert [b for _, b, _ in snaps] == sorted({b for _, b, _ in snaps}), \
        "an epoch was committed twice"

    # the streamed index equals the one-shot batch assignment exactly
    got = sorted(
        map(tuple, read_stream_index(w).select("cid", "list_id").collect())
    )
    exp = sorted(
        map(tuple, ivf_assign(fresh, cents).select("cid", "list_id").collect())
    )
    assert got == exp and len(got) == 120


def test_stream_index_serves_topk_over_base_union(spark, tmp_path):
    """Serving path: ivf_topk(lists=base ∪ streamed epochs) is
    bit-identical to ivf_topk(lists=one-shot assignment of the FULL
    corpus) — continuous ingest costs nothing in answer quality, and
    the corpus is never re-scanned (the lists= serving contract)."""
    cents = _cents(spark)
    historical = _emb(spark, 100, start=0)
    fresh = _emb(spark, 60, start=100).repartition(2)

    stream_dir = str(tmp_path / "emb")
    schema = _stream_files(fresh, stream_dir, n_files=2)
    w = CheckpointedWriter(spark, str(tmp_path / "sidx"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    start_index_ingest(
        stream, cents, w, str(tmp_path / "ckpt")
    ).awaitTermination()

    base = ivf_assign(historical, cents)
    served = read_stream_index(w, base=base)

    queries = _emb(spark, 5, start=40).select(
        F.col("cid").alias("qid"), F.col("cvec").alias("qvec")
    )
    got = sorted(map(tuple, ivf_topk(
        queries, None, cents, k=5, nprobe=2, lists=served
    ).collect()))
    full = ivf_assign(historical.unionByName(fresh), cents)
    exp = sorted(map(tuple, ivf_topk(
        queries, None, cents, k=5, nprobe=2, lists=full
    ).collect()))
    assert got == exp and len(got) == 25


def test_stream_index_pq_encoded_epochs_match_batch_encode(spark, tmp_path):
    """codewords= streams RESIDUAL-PQ-encoded epochs through the same
    sink: the committed code stream equals a one-shot ivfpq_encode of
    the same vectors bit-for-bit, and serves ivfpq_topk(encoded=)
    identically."""
    cents = _cents(spark)
    fresh = _emb(spark, 80, start=300).repartition(2)
    corpus = fresh  # already (cid, cvec)
    cw = pq_codewords_from_sample(corpus, ncodes=8)

    stream_dir = str(tmp_path / "emb")
    schema = _stream_files(fresh, stream_dir, n_files=2)
    w = CheckpointedWriter(spark, str(tmp_path / "sidx"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    start_index_ingest(
        stream, cents, w, str(tmp_path / "ck"), codewords=cw, m=8
    ).awaitTermination()
    served = read_stream_index(w)

    batch = ivfpq_encode(corpus, cents, cw, m=8)
    got = sorted(map(tuple, served.select("cid", "list_id", "codes").collect()))
    exp = sorted(map(tuple, batch.select("cid", "list_id", "codes").collect()))
    assert got == exp and len(got) == 80

    qs = _emb(spark, 4, start=310).select(
        F.col("cid").alias("qid"), F.col("cvec").alias("qvec")
    )
    tk_s = sorted(map(tuple, ivfpq_topk(
        qs, None, cents, cw, m=8, k=4, encoded=served).collect()))
    tk_b = sorted(map(tuple, ivfpq_topk(
        qs, None, cents, cw, m=8, k=4, encoded=batch).collect()))
    assert tk_s == tk_b and len(tk_s) == 16
