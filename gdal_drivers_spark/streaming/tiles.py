"""Streaming vector-tile ingestion — real protobuf tiles arriving as a
file stream: ``read_tiles_stream`` hands the rows straight to the
batch decoder (``operators/mvt.decode_features``), then
``feature_counts`` rolls them up per layer/geometry with exactly-once
file-stream semantics.

Stream == batch holds because the decode is a stateless Arrow map
(poison tiles drop to zero rows in either mode); the per-layer
rollup is the only stateful piece and runs in complete/update mode or
as a stateless append of decoded features. Asserted in
tests/test_stream_tiles.py.

The 100 TB shape: a tile lake's landing zone is a directory of tile
batches; ``maxFilesPerTrigger`` bounds per-micro-batch work, and the
decode parallelism is the file-split parallelism — no shuffle before
the rollup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TILES_STREAM_SCHEMA = "z int, tx long, ty long, data binary"


def read_tiles_stream(spark: SparkSession, path: str, max_files: int = 8) -> DataFrame:
    return (
        spark.readStream.schema(TILES_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def feature_counts(features: DataFrame) -> DataFrame:
    """Per (layer, geom_type) feature counts + vertex totals — the
    incremental rollup a tile-lake monitor watches."""
    return features.groupBy("layer", "geom_type").agg(
        F.count("*").alias("n_features"),
        F.sum("n_vertices").alias("n_vertices"),
    )
