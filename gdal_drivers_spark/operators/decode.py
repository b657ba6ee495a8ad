"""Batch image decode — the format-dispatch scan operator.

Plays the role of the reference's driver registry + ``IReadBlock``
(``/root/reference/gdal-drivers/register.cpp:37-47`` dispatch;
per-block decode hooks ``mask.cpp:219``, ``solid.cpp:443``,
``blender.cpp:559``): one Arrow-batched pandas UDF decodes a whole
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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import codecs

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

    @F.pandas_udf(DECODE_STATS_SCHEMA)
    def _decode(bufs: pd.Series, fmts: pd.Series) -> pd.DataFrame:
        n = len(bufs)
        out = {
            "dec_w": np.zeros(n, np.int32),
            "dec_h": np.zeros(n, np.int32),
            "dec_c": np.zeros(n, np.int32),
            "px_mean": np.zeros(n, np.float64),
            "px_min": np.zeros(n, np.int32),
            "px_max": np.zeros(n, np.int32),
            "dec_ok": np.zeros(n, bool),
        }
        for i, (buf, fmt) in enumerate(zip(bufs, fmts)):
            try:
                img = codecs.decode(bytes(buf), fmt)
            except Exception:  # noqa: BLE001 — poison-row guard:
                # corrupt payloads raise whatever the codec stack
                # raises (zlib.error on truncation, struct.error on
                # short headers, ValueError on bad magic…). One bad
                # blob among 10^12 must mark its row dec_ok=false,
                # never kill the stage.
                continue
            out["dec_h"][i], out["dec_w"][i], out["dec_c"][i] = img.shape
            out["px_mean"][i] = float(img.mean())
            out["px_min"][i] = int(img.min())
            out["px_max"][i] = int(img.max())
            out["dec_ok"][i] = True
        return pd.DataFrame(out)

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
    dec = _decode.asNondeterministic()
    return images.withColumn("_d", dec(F.col("bytes"), F.col("fmt"))).select(
        "*", "_d.*"
    ).drop("_d")
