"""Skew handling for hot cells — salted repartition + adaptive cell split.

Dense areas (a city in a world dataset) make some cells orders of
magnitude heavier than others; a single hot cell can exceed one
executor. Two engine-level mechanisms on top of AQE's skew-join:

- **salting**: append a deterministic salt in [0, s) to the grouping
  key of hot cells so one logical group fans to s physical reducers;
  partial aggregates recombine in a second pass (classic two-stage
  agg). Used where the aggregation is algebraic (counts/sums/blend
  accumulators).

- **adaptive cell split**: descend hot cells one quadtree level
  (4 children — exactly the reference's node subdivision,
  ``/root/reference/gdal-drivers/mask.cpp:246-248``), re-assigning
  their rows to child cells; iterate to a fixpoint. Used where the
  operator needs spatial locality (blend halos, kNN) — the split keeps
  the key spatial, unlike a salt.

The census is a cheap ``groupBy(cell).count()`` — one map-side-combined
shuffle over the key column only (column pruning: never reads payload).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..core import qcell


def cell_census(df: DataFrame) -> DataFrame:
    """Per-cell row counts (the skew detector)."""
    return df.groupBy("cell").count()


def hot_cells(df: DataFrame, threshold: int) -> DataFrame:
    """Cells whose row count exceeds ``threshold`` — the broadcast side
    of the salting/split decision."""
    return cell_census(df).filter(F.col("count") > threshold).select("cell")


def with_salt(
    df: DataFrame,
    hot: DataFrame,
    n_salts: int = 8,
    salt_src: str | None = None,
) -> DataFrame:
    """Append ``salt`` ∈ [0, n_salts) for rows in hot cells (0 for the
    rest). Deterministic: derived from a stable row column (``salt_src``,
    default the cell's own row hash via monotonically increasing id is
    NOT deterministic — callers pass an id column). groupBy(cell, salt)
    then a second groupBy(cell) recombines."""
    assert salt_src is not None, "pass a stable row column for deterministic salting"
    marked = df.join(
        F.broadcast(hot.withColumn("_hot", F.lit(True))), "cell", "left"
    )
    return marked.withColumn(
        "salt",
        F.when(
            F.col("_hot").isNotNull(), F.abs(F.xxhash64(F.col(salt_src))) % n_salts
        ).otherwise(F.lit(0)),
    ).drop("_hot")


def split_hot_cells(
    assignments: DataFrame,
    threshold: int,
    max_rounds: int = 4,
) -> DataFrame:
    """Adaptive cell split: rows in cells heavier than ``threshold``
    descend one level (child picked by the row's own cell-fraction
    coordinates cx2/cy2 — callers provide ``cx_frac``/``cy_frac`` in
    [0,2) relative to the cell, or we split by footprint midpoint when
    the columns exist). Iterates until no cell exceeds the threshold or
    ``max_rounds`` (guards a pathological point-mass where splitting
    cannot help). Output keeps the refined ``cell`` key.

    Driver-side loop over DataFrame ops: each round is one census
    (shuffle on key only) + one narrow map — the same shape the
    reference uses for tree descent, distributed.
    """
    cur = assignments
    for _ in range(max_rounds):
        hot = hot_cells(cur, threshold)
        if len(hot.take(1)) == 0:
            break
        z, x, y = qcell.unpack_col("cell")
        # child index from the row's position within the cell: use the
        # footprint center (x0..x1 columns) when present, else hash
        if {"x0", "x1", "y0", "y1"}.issubset(set(cur.columns)):
            n = F.pow(F.lit(2.0), z.cast("double"))
            midx = (F.col("x0") + F.col("x1")) / 2
            midy = (F.col("y0") + F.col("y1")) / 2
            cx2 = F.least(F.lit(1), F.greatest(F.lit(0), (F.floor(midx * n * 2) - x * 2).cast("int")))
            cy2 = F.least(F.lit(1), F.greatest(F.lit(0), (F.floor(midy * n * 2) - y * 2).cast("int")))
        else:
            cx2 = (F.abs(F.xxhash64(*[c for c in cur.columns if c != "cell"])) % 2).cast("int")
            cy2 = (F.abs(F.xxhash64(F.lit(1), *[c for c in cur.columns if c != "cell"])) % 2).cast("int")
        child = qcell.pack_col(z + 1, x * 2 + cx2, y * 2 + cy2)
        marked = cur.join(F.broadcast(hot.withColumn("_hot", F.lit(True))), "cell", "left")
        cur = marked.withColumn(
            "cell", F.when(F.col("_hot").isNotNull(), child).otherwise(F.col("cell"))
        ).drop("_hot")
    return cur
