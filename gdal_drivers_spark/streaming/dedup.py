"""Streaming exact dedup — the incremental twin of
``operators.dedup.exact_dedup`` for continuous ingestion (a training
pipeline rarely gets its corpus as one closed batch; the reference is
batch-only, update refused: mask.cpp:112-118 et al., so this is an
engine extension like the rest of §2.8).

``dropDuplicatesWithinWatermark`` keeps the first row per content key
and expires dedup state once the watermark passes — bounded state, the
only viable shape for an unbounded 10^12-row stream (plain
``dropDuplicates`` on a stream accumulates state forever). Duplicates
arriving later than the watermark delay are NOT caught — that is the
documented contract, matching the batch result only for duplicates
within the delay window; a periodic batch ``exact_dedup`` compaction
closes the gap, which is how production pipelines pair the two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def stream_exact_dedup(
    df: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """First-seen-wins exact dedup on a stream, keyed by md5(``bytes``)
    — identical to the batch ``exact_dedup`` content key (JVM-side md5,
    no Python)."""
    df = df.withColumn("content_key", F.md5(F.col("bytes")))
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["content_key"]
    )
