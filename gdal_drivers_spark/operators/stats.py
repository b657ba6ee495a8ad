"""Distribution statistics for curation gates — per-group quantiles.

Curation pipelines constantly need "keep documents above the p75
quality score *within their language*" — a per-group quantile
threshold, then a filter against it. Two paths, chosen by group size:

- ``group_quantiles``: EXACT linear-interpolation percentiles
  (Spark's ``percentile`` aggregate). Exact percentile buffers the
  group's values, so this is for BOUNDED groups (per-language, per-
  event-type, per-format — cardinalities in the thousands, not the
  billions). Its definition (index ``p·(n-1)``, interpolate) matches
  DuckDB ``quantile_cont`` bit-for-bit, which is what the contract
  oracle checks.
- ``approx_group_quantiles``: ``approx_percentile`` — a mergeable
  sketch, map-side combined like any other partial aggregate, memory
  O(1/accuracy) per group regardless of group size. The unbounded-
  scale path; approximate by construction, so pytest-checked for
  rank-error bounds rather than oracle-hashed.

``threshold_filter`` is the curation ACTION: compute per-group
thresholds (tiny — one row per group) and broadcast-join them back,
keeping rows at-or-above their group's quantile. One full pass for
the thresholds, one for the filter; the join never shuffles the fact
side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_quantiles(
    df: DataFrame, keys: list[str], col: str, probs: list[float]
) -> DataFrame:
    """Exact per-group quantiles: one output row per group with
    ``q_<pct>`` columns (linear interpolation, the quantile_cont
    definition). Bounded-group path — see module docstring."""
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.expr(f"percentile(`{col}`, {p})").alias(_qname(p)) for p in probs
    ]
    return df.groupBy(*keys).agg(*aggs)


def approx_group_quantiles(
    df: DataFrame, keys: list[str], col: str, probs: list[float],
    accuracy: int = 10_000,
) -> DataFrame:
    """Sketch-based per-group quantiles (rank error ≤ 1/accuracy):
    the unbounded-group scale path; partial-aggregates map-side."""
    aggs = [F.count(F.lit(1)).alias("n")] + [
        F.expr(f"approx_percentile(`{col}`, {p}, {accuracy})").alias(_qname(p))
        for p in probs
    ]
    return df.groupBy(*keys).agg(*aggs)


def threshold_filter(
    df: DataFrame, keys: list[str], col: str, prob: float
) -> DataFrame:
    """Keep rows whose ``col`` is at or above their group's exact
    ``prob`` quantile. The thresholds (bounded group counts) are one row
    per group and are broadcast, so the fact side never shuffles."""
    if "_thr" in df.columns:
        raise ValueError("'_thr' is reserved by threshold_filter")
    thr = group_quantiles(df, keys, col, [prob]).select(
        *keys, F.col(_qname(prob)).alias("_thr")
    )
    return (
        df.join(F.broadcast(thr), keys)
        .filter(F.col(col) >= F.col("_thr"))
        .drop("_thr")
    )


def _qname(p: float) -> str:
    return f"q{str(p).replace('.', '_')}"
