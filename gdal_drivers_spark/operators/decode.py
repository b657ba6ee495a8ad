"""Batch image decode — the format-dispatch scan operator.

Plays the role of the reference's driver registry + ``IReadBlock``
(``/root/reference/gdal-drivers/register.cpp:37-47`` dispatch;
per-block decode hooks ``mask.cpp:219``, ``solid.cpp:443``,
``blender.cpp:559``): one scalar Arrow UDF decodes a whole
column batch of image payloads, dispatching per row on the ``fmt``
column (or magic sniff), entirely inside the Python worker — the JVM
sees only binary in / fixed-width stats out. Per-image numpy work is
vectorized; the per-row loop only routes buffers (decode cost is in
zlib/numpy, not the loop).

Scale note: decode is embarrassingly parallel and shuffle-free; its
throughput is the pipeline's map-side floor. Stats (mean/min/max) are
computed here rather than materializing pixels, so a 100 TB scan never
amplifies through the shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import codecs
from ._groups import row_udf

DECODE_STATS_SCHEMA = (
    "dec_w int, dec_h int, dec_c int, px_mean double, px_min int, px_max int, dec_ok boolean"
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every image (``bytes``, ``fmt``) and append pixel
    statistics columns.

    Mirrors the reference's read path end state: pixels materialized
    per block, here reduced to stats so the operator composes into
    aggregations without shipping pixel arrays through the shuffle.
    """

    def _decode(buf, fmt):
        try:
            img = codecs.decode(bytes(buf), fmt)
        except Exception:  # noqa: BLE001 — poison-row guard:
            # corrupt payloads raise whatever the codec stack raises
            # (zlib.error on truncation, struct.error on short headers,
            # ValueError on bad magic…). One bad blob among 10^12 must
            # mark its row dec_ok=false (zero stats), never kill the
            # stage.
            return 0, 0, 0, 0.0, 0, 0, False
        h, w, c = img.shape
        return w, h, c, float(img.mean()), int(img.min()), int(img.max()), True

    # asNondeterministic (guide §4.4, r06): downstream filters on the
    # decoded columns (`.filter("dec_ok")` is the canonical consumer)
    # otherwise make the optimizer push a copy of the filter below the
    # projection and evaluate the decode UDF TWICE — the r05 bench plan
    # showed two ArrowEvalPython nodes, i.e. every image decoded twice.
    # Values are unaffected; the flag only forbids duplicating or
    # reordering the (expensive) evaluation. It also blocks pushdown of
    # ANY later filter below this projection, including filters on
    # source or partition columns that could prune the scan: callers
    # should filter those columns BEFORE decode_stats, or every row is
    # decoded. Pinned by test_poison::test_decode_stats_filter_decodes_once.
    dec = row_udf(_decode, DECODE_STATS_SCHEMA).asNondeterministic()
    return images.withColumn("_d", dec(F.col("bytes"), F.col("fmt"))).select(
        "*", "_d.*"
    ).drop("_d")
