"""Storage layout for co-located joins — bucketing by cell id.

At 100 TB the dominant cost of the tile↔source join is the shuffle of
the big fact side. The engine's layout contract removes it:

- **partition** the lake table by cell *prefix* (coarse quadkey level,
  e.g. z=4 → ≤256 directories): `filter(cell prefix)` becomes file
  pruning (the quadtree constraint pushdown of
  ``/root/reference/gdal-drivers/mask.cpp:229-233``, done by layout
  instead of a custom Catalyst rule);
- **bucket** by the full cell id (`bucketBy(n, 'cell')`): two tables
  bucketed the same way sort-merge-join with NO exchange on either
  side — the join is executed bucket-by-bucket, co-located. This is
  Spark's native form of the reference's "aligned grids never
  resample" invariant (blender.cpp:164-172): align the layout once at
  write time, every later join is narrow.

`tests/test_layout.py` proves the plan shape: bucketed join → zero
Exchange; identical unbucketed join → two Exchanges.

The third layout tool is **Z-order clustering** (``write_zordered``):
sort the table by the bit-interleave of two key columns before
writing, so every parquet file covers a small square of the 2-D key
space instead of a thin full-width stripe. Parquet footers then carry
tight min/max on BOTH columns and a predicate on EITHER column prunes
most files — a linear sort can only ever prune its leading column.
This is Iceberg/Delta ``ZORDER BY`` re-expressed with nothing but
``repartitionByRange`` + ``sortWithinPartitions`` on the morton value
(same interleave as ``core.qcell.morton``, Column form). Evidence is
measured, not asserted: ``overlap_fraction`` reads the real footers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    buckets: int,
    key: str = "cell",
) -> None:
    """Write ``df`` as a bucketed and in-bucket sorted parquet table.
    Sorting by the key lets the sort-merge join skip its sort too."""
    (df.write.mode("overwrite").option("path", path).bucketBy(buckets, key)
     .sortBy(key).format("parquet").saveAsTable(table))


def bucketed_join(spark: SparkSession, left: str, right: str) -> DataFrame:
    """Join two same-bucketed tables on the ``cell`` bucket key —
    co-located, shuffle-free (verify with ``df.explain``: no Exchange)."""
    return spark.table(left).join(spark.table(right), "cell")


def zorder_col(x: Column, y: Column) -> Column:
    """Column form of ``core.qcell.morton``: interleave two 26-bit
    non-negative ints (x even bits, y odd) → int64 Z-value. Pure
    shift/mask codegen — the same bit-spread ladder as the numpy
    version, so layouts written here agree with the engine's cell
    arithmetic."""

    def spread(v: Column) -> Column:
        v = v.cast("long").bitwiseAND(F.lit(0x3FFFFFF))
        v = v.bitwiseOR(F.shiftleft(v, 16)).bitwiseAND(F.lit(0x0000FFFF0000FFFF))
        v = v.bitwiseOR(F.shiftleft(v, 8)).bitwiseAND(F.lit(0x00FF00FF00FF00FF))
        v = v.bitwiseOR(F.shiftleft(v, 4)).bitwiseAND(F.lit(0x0F0F0F0F0F0F0F0F))
        v = v.bitwiseOR(F.shiftleft(v, 2)).bitwiseAND(F.lit(0x3333333333333333))
        v = v.bitwiseOR(F.shiftleft(v, 1)).bitwiseAND(F.lit(0x5555555555555555))
        return v

    return spread(x).bitwiseOR(F.shiftleft(spread(y), 1))


def write_zordered(
    df: DataFrame, path: str, xcol: str, ycol: str, n_files: int = 64
) -> None:
    """Write ``df`` Z-order-clustered on (xcol, ycol): range-partition
    by the morton value (one output file per range) and sort within
    each partition, so each file owns a compact Z-curve segment ≈ a
    small square of key space. One shuffle at write time buys file
    pruning on BOTH columns for every later scan."""
    z = zorder_col(F.col(xcol), F.col(ycol))
    (
        df.repartitionByRange(n_files, z)
        .sortWithinPartitions(z)
        .write.mode("overwrite")
        .parquet(path)
    )


def file_envelopes(path: str, cols: list[str]) -> list[dict]:
    """Per-file (min, max) of ``cols`` read from the REAL parquet
    footers — the statistics a lake engine prunes with."""
    import os

    import pyarrow.parquet as pq

    out = []
    if not os.path.isdir(path):
        return out
    for name in sorted(os.listdir(path)):
        if not name.endswith(".parquet"):
            continue
        md = pq.ParquetFile(f"{path}/{name}").metadata
        env: dict = {"file": name}
        for c in cols:
            lo, hi, missing = None, None, False
            for rg in range(md.num_row_groups):
                row_group = md.row_group(rg)
                for ci in range(row_group.num_columns):
                    col = row_group.column(ci)
                    if col.path_in_schema != c:
                        continue
                    s = col.statistics
                    # a row group without usable min/max (stats
                    # disabled, or an all-null chunk: pyarrow returns
                    # a Statistics object with has_min_max=False)
                    # makes the whole file UNPRUNABLE on this column
                    if s is None or not s.has_min_max:
                        missing = True
                        continue
                    lo = s.min if lo is None else min(lo, s.min)
                    hi = s.max if hi is None else max(hi, s.max)
            env[c] = (None, None) if missing else (lo, hi)
        out.append(env)
    return out


def overlap_fraction(path: str, predicates: dict) -> float:
    """Fraction of files whose footer envelope intersects the query
    box ``predicates = {col: (lo, hi)}`` — i.e. the files a min/max-
    pruning scan must actually open. The Z-order payoff is this number
    staying ≪ 1 for a predicate on either key column. A file WITHOUT
    usable stats on a predicate column counts as opened (a real engine
    cannot prune what it cannot bound) — the metric errs against the
    layout, never for it."""
    envs = file_envelopes(path, list(predicates))
    if not envs:
        raise ValueError(f"no parquet files under {path}")
    hit = 0
    for env in envs:
        ok = True
        for c, (qlo, qhi) in predicates.items():
            lo, hi = env[c]
            if lo is None:
                continue  # unprunable on this column → stays a hit
            if hi < qlo or lo > qhi:
                ok = False
                break
        hit += ok
    return hit / len(envs)
