"""Streaming pyramid maintenance (r05): leaf-tile deltas arrive as a
file stream; each epoch commits only the changed tiles (delta +
recomputed ancestors) through the exactly-once manifest sink. The
resolved pyramid must equal a batch rebuild over the final leaves —
byte-identical per level — including after a kill-after-commit that
forces an epoch replay."""

import glob
import os
import shutil
import tempfile

import numpy as np
import pandas as pd
import pytest

from gdal_drivers_spark.operators.pyramid import build_pyramid
from gdal_drivers_spark.plans.checkpoint import CheckpointedWriter
from gdal_drivers_spark.streaming.checkpointed import (
    read_stream_pyramid,
    start_pyramid_ingest,
)

T = 16
LEAF_SCHEMA = "cell long, band int, tile binary, ts int"


def _tile_rows(rng, cells):
    return [
        (int((4 << 52) | (cx << 26) | cy), 0,
         rng.integers(0, 256, (T, T), dtype=np.uint8).tobytes(), T)
        for cx, cy in cells
    ]


def _write_stream_files(spark, stream_dir, epochs):
    """One parquet file per epoch (maxFilesPerTrigger=1 → one epoch
    each)."""
    os.makedirs(stream_dir, exist_ok=True)
    for i, rows in enumerate(epochs):
        tmp = tempfile.mkdtemp()
        spark.createDataFrame(
            pd.DataFrame(rows, columns=["cell", "band", "tile", "ts"]),
            schema=LEAF_SCHEMA,
        ).coalesce(1).write.mode("overwrite").parquet(tmp + "/d")
        part = sorted(glob.glob(tmp + "/d/part-*.parquet"))[0]
        shutil.copy(part, f"{stream_dir}/e{i}.parquet")
        shutil.rmtree(tmp)


def _levels_bytes(levels):
    return {
        z: {(r["cell"], r["band"]): bytes(r["tile"]) for r in df.collect()}
        for z, df in levels.items()
    }


def test_stream_pyramid_equals_batch_rebuild_with_kill_replay(
        spark, tmp_path, crash_after_commit):
    rng = np.random.default_rng(41)
    base_rows = _tile_rows(rng, [(4 + cx, 8 + cy) for cx in range(4) for cy in range(4)])
    base = spark.createDataFrame(
        pd.DataFrame(base_rows, columns=["cell", "band", "tile", "ts"]),
        schema=LEAF_SCHEMA,
    )
    # persist the base pyramid store (levels 4..2)
    store = str(tmp_path / "store")
    for z, df in build_pyramid(base, 4, 2, agg="mean").items():
        df.write.mode("overwrite").parquet(f"{store}/{z}")

    def base_levels():
        return {z: spark.read.parquet(f"{store}/{z}") for z in (4, 3, 2)}

    # three epochs of deltas: replacements + a brand-new cell; later
    # epochs overwrite earlier versions of the SAME cell (latest wins)
    e0 = _tile_rows(rng, [(4, 8), (6, 9)])
    e1 = _tile_rows(rng, [(7, 11), (9, 8)])       # (9,8) = new cell
    e2 = _tile_rows(rng, [(4, 8), (9, 8)])        # re-update both
    stream_dir = str(tmp_path / "stream")
    _write_stream_files(spark, stream_dir, [e0, e1, e2])

    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    writer = CheckpointedWriter(spark, out)

    def run():
        stream = (
            spark.readStream.schema(LEAF_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir)
        )
        q = start_pyramid_ingest(stream, base_levels, writer, ckpt, agg="mean")
        q.awaitTermination()

    # kill right AFTER epoch 0's manifest commit → epoch 0 is replayed
    # on restart and must be skipped by the manifest
    with crash_after_commit(writer, 0), pytest.raises(Exception, match="injected failure"):
        run()
    assert writer.committed() == {0}
    run()
    assert writer.committed() == {0, 1, 2}
    snaps = writer.snapshots()
    assert [b for _, b, _ in snaps] == sorted({b for _, b, _ in snaps}), \
        "an epoch was committed twice"

    # resolved pyramid == batch rebuild over the FINAL merged leaves
    final_rows = {(r[0], r[1]): r for r in base_rows}
    for rows in (e0, e1, e2):
        final_rows.update({(r[0], r[1]): r for r in rows})
    final = spark.createDataFrame(
        pd.DataFrame(list(final_rows.values()), columns=["cell", "band", "tile", "ts"]),
        schema=LEAF_SCHEMA,
    )
    expect = _levels_bytes(build_pyramid(final, 4, 2, agg="mean"))
    got = _levels_bytes(read_stream_pyramid(writer, base_levels()))
    assert got == expect
