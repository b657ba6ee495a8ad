"""kNN join via cell-ring expansion.

The reference's latent neighborhood operator: the quadtree constraint
traversal visits a node's spatial neighborhood at a chosen depth
(``/root/reference/gdal-drivers/mask.cpp:229-233``), and z-x-y
addressing bounds rings at ``max = 2^z − 1``
(``detail/mbtiles.cpp:146-152``). Distributed recipe:

1. index data points by level-z cell (codegen arithmetic, no UDF);
2. join query points against candidates at Chebyshev cell distance
   ≤ r (an equi-join on exploded neighbor cells — never a cross
   join), doubling r until every query point has ≥ k candidates
   *whose worst kept distance is certified* — i.e. the k-th best
   distance is ≤ the nearest possible point outside the searched
   ring (r·cell_span), the standard grid-kNN termination proof;
3. final exact re-rank per query: ``row_number`` over distance.

The expansion loop is a driver-side loop over DataFrame ops (few
iterations — ring doubles), each iteration a narrow explode + one
shuffle join; unsatisfied queries shrink geometrically so late
iterations are cheap. Distances use exact integer arithmetic when the
inputs are integers (tie-stability across engines).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def knn_join(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    z: int,
    coord_span: int,
) -> DataFrame:
    """Exact kNN of each query row (qid, qx, qy) against the points
    table (pid, px, py).

    Coordinates are integers in [0, coord_span). Cells are the level-z
    grid over that span (cell side = coord_span >> z must divide
    evenly). Returns (qid, pid, dist2, rank) with rank 1..k by
    (dist2, pid) — deterministic total order, matching a brute-force
    SQL oracle row-for-row.

    Each ring's top-k and pending queries are ``localCheckpoint``ed.
    Their blocks live only on executors: losing an executor fails the
    job, with no lineage to recompute them from.
    """
    n = 1 << z
    side = coord_span // n
    assert side * n == coord_span, "coord_span must be a multiple of 2^z"

    pts = points.select(
        F.col("pid").alias("_pid"),
        F.col("px").alias("_px"),
        F.col("py").alias("_py"),
        (F.col("px").cast("long") / side).cast("long").alias("_pcx"),
        (F.col("py").cast("long") / side).cast("long").alias("_pcy"),
    )
    qry = queries.select(
        F.col("qid").alias("_qid"),
        F.col("qx").alias("_qx"),
        F.col("qy").alias("_qy"),
        (F.col("qx").cast("long") / side).cast("long").alias("_qcx"),
        (F.col("qy").cast("long") / side).cast("long").alias("_qcy"),
    )

    pending = qry
    collected = None
    ring = 1
    while True:
        ring = min(ring, n)
        # explode pending queries to all cells within Chebyshev distance ring
        cand_cells = (
            pending.withColumn(
                "_ncx",
                F.explode(
                    F.sequence(
                        F.greatest(F.lit(0), F.col("_qcx") - ring),
                        F.least(F.lit(n - 1), F.col("_qcx") + ring),
                    )
                ),
            )
            .withColumn(
                "_ncy",
                F.explode(
                    F.sequence(
                        F.greatest(F.lit(0), F.col("_qcy") - ring),
                        F.least(F.lit(n - 1), F.col("_qcy") + ring),
                    )
                ),
            )
        )
        matched = cand_cells.join(
            pts, (F.col("_ncx") == F.col("_pcx")) & (F.col("_ncy") == F.col("_pcy")), "inner"
        ).select(
            "_qid",
            "_qx",
            "_qy",
            "_qcx",
            "_qcy",
            "_pid",
            (
                (F.col("_px") - F.col("_qx")) * (F.col("_px") - F.col("_qx"))
                + (F.col("_py") - F.col("_qy")) * (F.col("_py") - F.col("_qy"))
            ).cast("long").alias("dist2"),
        )
        w = Window.partitionBy("_qid").orderBy("dist2", "_pid")
        topk = matched.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
        # Truncate lineage once per iteration: topk is consumed three
        # times (certification stats, the kept rows, and the caller's
        # final action) and the pending anti-join chain would otherwise
        # be re-executed from the source on every take(1) — O(iters²)
        # recompute. localCheckpoint materializes the (small, ≤ |Q|·k
        # after certification) frame; on a real cluster a reliable
        # checkpoint dir gives the same truncation with executor-loss
        # tolerance.
        topk = topk.localCheckpoint(eager=False)
        # certification: the k-th distance must be within the guaranteed
        # ring radius (any unseen point is at Chebyshev cell distance
        # > ring ⇒ euclidean distance ≥ ring*side away from the query's
        # cell — conservative bound using the query point's own cell edge)
        guarantee = (ring * side) ** 2  # lower bound on unseen dist2
        stats = topk.groupBy("_qid").agg(
            F.count("*").alias("_got"), F.max("dist2").alias("_worst")
        )
        # strict <: an unseen point at exactly the bound could still win
        # its tie-break against the current k-th
        done_ids = stats.filter(
            (F.col("_got") >= k) & (F.col("_worst") < F.lit(guarantee))
        ).select("_qid")
        if ring >= n:  # the ring covers the whole grid
            done = topk
            pending = None
        else:
            done = topk.join(done_ids, "_qid", "left_semi")
            pending = pending.join(done_ids, "_qid", "left_anti").localCheckpoint(
                eager=False
            )
        collected = done if collected is None else collected.unionByName(done)
        if pending is None or len(pending.take(1)) == 0:
            break
        ring *= 2

    return collected.select(
        F.col("_qid").alias("qid"),
        F.col("_pid").alias("pid"),
        "dist2",
        "rank",
    )
