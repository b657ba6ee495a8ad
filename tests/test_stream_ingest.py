"""Streaming image ingestion == batch: the decode → tile-assign chain
over a closed file stream produces exactly the batch assignments."""

import glob
import os
import shutil
import tempfile

from gdal_drivers_spark.operators.assign import assign_tiles
from gdal_drivers_spark.operators.decode import decode_stats
from gdal_drivers_spark.sources import synth
from gdal_drivers_spark.streaming.ingest import assign_images_stream, read_images_stream


def test_stream_assignment_equals_batch(spark, tmp_path):
    images = synth.images_df(spark.range(0, 200, 1, 4))
    # batch truth
    batch = assign_tiles(decode_stats(images).filter("dec_ok"), z=6)
    expected = sorted((r["image_id"], r["cell"]) for r in batch.select("image_id", "cell").collect())

    # materialize the same images as two stream files
    stream_dir = str(tmp_path / "imgs")
    os.makedirs(stream_dir)
    tmp = tempfile.mkdtemp()
    images.coalesce(2).write.mode("overwrite").parquet(tmp + "/d")
    for i, part in enumerate(sorted(glob.glob(tmp + "/d/part-*.parquet"))):
        shutil.copy(part, f"{stream_dir}/f{i}.parquet")
    shutil.rmtree(tmp)

    stream = read_images_stream(spark, stream_dir, max_files=1)
    out = assign_images_stream(stream, z=6)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_assign")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(
        (r["image_id"], r["cell"])
        for r in spark.sql("SELECT image_id, cell FROM stream_assign").collect()
    )
    assert got == expected
    assert len(got) > 200  # multi-cell footprints fan out
