"""Streaming protobuf-tile ingestion == batch: the proto decode +
per-layer rollup over a closed file stream produces exactly the batch
result, and a poison tile in the stream drops silently (zero rows)
instead of failing the query."""

import glob
import os
import shutil
import tempfile

import numpy as np
import pandas as pd

from gdal_drivers_spark.core import mvtcodec, mvtproto
from gdal_drivers_spark.operators.mvt import decode_features
from gdal_drivers_spark.streaming.tiles import feature_counts, read_tiles_stream


def _proto_tiles_df(spark, n=24, poison_every=None):
    rows = []
    for i in range(n):
        if poison_every and i % poison_every == 0:
            rows.append((1, i, 0, b"\xde\xad garbage"))
            continue
        gt = mvtcodec.GEOM_POINT if i % 2 == 0 else mvtcodec.GEOM_LINESTRING
        if gt == mvtcodec.GEOM_POINT:
            geom = np.array([(1 << 3) | 1, (2 * i) << 1, (3 * i % 256) << 1], np.uint64)
        else:
            stream = mvtcodec.encode_geometry(
                gt, [np.array([[i % 200, 0], [i % 200 + 5, 7]], np.int64)]
            )
            geom = stream.astype(np.uint64)
        blob = mvtproto.encode_tile(
            [{"name": "lyr", "extent": 256, "version": 2,
              "keys": ["k"], "values": [("int", i)],
              "features": [{"id": i + 1, "tags": np.array([0, 0], np.uint64),
                            "geom_type": gt, "geometry": geom}]}]
        )
        rows.append((1, i, 0, blob))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "data"]),
        "z int, tx long, ty long, data binary",
    )


def _run_stream(spark, tiles, tmp_path, name):
    stream_dir = str(tmp_path / name)
    os.makedirs(stream_dir)
    tmp = tempfile.mkdtemp()
    tiles.coalesce(3).write.mode("overwrite").parquet(tmp + "/d")
    for i, part in enumerate(sorted(glob.glob(tmp + "/d/part-*.parquet"))):
        shutil.copy(part, f"{stream_dir}/f{i}.parquet")
    shutil.rmtree(tmp)
    out = decode_features(read_tiles_stream(spark, stream_dir, max_files=1))
    q = (
        out.select("layer", "geom_type", "fid", "n_vertices")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.sql(f"SELECT * FROM {name}")


def test_stream_tiles_equals_batch(spark, tmp_path):
    tiles = _proto_tiles_df(spark, 24)
    batch = decode_features(tiles).select(
        "layer", "geom_type", "fid", "n_vertices"
    )
    expected = sorted(tuple(r) for r in batch.collect())
    got_df = _run_stream(spark, tiles, tmp_path, "stream_tiles")
    got = sorted(tuple(r) for r in got_df.collect())
    assert got == expected and len(got) == 24
    # rollup parity too
    fc = {
        (r.layer, r.geom_type): (r.n_features, r.n_vertices)
        for r in feature_counts(decode_features(tiles)).collect()
    }
    assert fc[("lyr", "point")][0] == 12 and fc[("lyr", "linestring")][0] == 12


def test_stream_tiles_poison_survives(spark, tmp_path):
    tiles = _proto_tiles_df(spark, 24, poison_every=6)
    got = _run_stream(spark, tiles, tmp_path, "stream_tiles_poison")
    assert got.count() == 20  # 4 poison tiles dropped, stream completed
