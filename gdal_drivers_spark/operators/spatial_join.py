"""Spatial joins — cell equi-join + exact refinement.

The reference's tile↔source join is a block-nested loop over sources
per output tile (``/root/reference/gdal-drivers/blender.cpp:570-573``,
ROI test ``blender.cpp:226-238``). Distributed re-expression: explode
both sides to covering cells, equi-join on the cell id (Catalyst picks
broadcast / SMJ; we hint broadcast for small boundary tables), then
re-check the exact predicate — bbox overlap or point-in-polygon — as a
post-filter. The cell join is the prune (never false negatives for
footprints ≤ cell span when z chosen so cover is exact), the refine
removes the false positives.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core import geometry, qcell


def cell_join(
    assignments: DataFrame,
    boundaries: DataFrame,
    refine: bool = True,
) -> DataFrame:
    """Join tile assignments (cell, x0..y1, …) with a boundary table
    (cell, x0..y1 renamed bx0..by1, attrs…) on the cell id, then exact
    bbox refine, the half-open overlap predicate of blender.cpp:226-238.
    The boundary side is broadcast (small: ≤ 4^z rows)."""
    b = boundaries
    for col in ("x0", "y0", "x1", "y1"):
        if col in b.columns:
            b = b.withColumnRenamed(col, "b" + col)
    j = assignments.join(F.broadcast(b), "cell", "inner")
    if refine and {"bx0", "by0", "bx1", "by1"}.issubset(set(b.columns)):
        j = j.filter(
            (F.col("x0") < F.col("bx1"))
            & (F.col("bx0") < F.col("x1"))
            & (F.col("y0") < F.col("by1"))
            & (F.col("by0") < F.col("y1"))
        )
    return j


def pip_join(
    points: DataFrame,
    polygons_pdf: pd.DataFrame,
    z: int,
) -> DataFrame:
    """Point-in-polygon join: points (``px``, ``py``) against a small polygon table
    (driver-side pandas: id, ring as Nx2 float array, plus the covering
    cells of each polygon's bbox at level z).

    Plan shape: points get their level-z cell (codegen arithmetic) →
    equi-join against the broadcast (cell → candidate polygon) map →
    exact vectorized ray-cast refine in a scalar Arrow UDF
    (the generalization of the reference's per-pixel point-in-rect,
    blender.cpp:590-600). Polygon vertex data rides inside the UDF
    closure — broadcast once per executor, not per row.
    """
    # build (cell -> polygon candidates) on the driver: polygons are the
    # small dimension side (the reference's boundary layers)
    cand_rows = []
    rings: dict[int, np.ndarray] = {}
    for _, r in polygons_pdf.iterrows():
        pid = int(r["poly_id"])
        ring = np.asarray(r["ring"], np.float64)
        rings[pid] = ring
        bx0, by0 = ring.min(axis=0)
        bx1, by1 = ring.max(axis=0)
        cx0, cy0, cx1, cy1 = (int(v) for v in qcell.UNIT.cover_ranges(z, bx0, by0, bx1, by1))
        for cx in range(cx0, cx1 + 1):
            for cy in range(cy0, cy1 + 1):
                cand_rows.append((qcell.pack_int(z, cx, cy), pid))
    spark = points.sparkSession
    cand = spark.createDataFrame(pd.DataFrame(cand_rows, columns=["cell", "poly_id"]))

    pts = points.withColumn("cell", qcell.cell_of_col(z, "px", "py"))
    joined = pts.join(F.broadcast(cand), "cell", "inner")

    @F.arrow_udf("boolean")
    def _inside(pxs, pys, pids):
        import pyarrow as pa

        out = np.zeros(len(pxs), bool)
        x = pxs.to_numpy(zero_copy_only=False).astype(np.float64)
        y = pys.to_numpy(zero_copy_only=False).astype(np.float64)
        ids = pids.to_numpy(zero_copy_only=False)
        for pid in np.unique(ids):
            m = ids == pid
            out[m] = geometry.points_in_polygon(x[m], y[m], rings[int(pid)])
        return pa.array(out)

    return joined.filter(_inside(F.col("px"), F.col("py"), F.col("poly_id")))


def transform_points(
    df: DataFrame,
    src_srs: str,
    dst_srs: str,
    x: str = "x",
    y: str = "y",
    out_x: str = "tx",
    out_y: str = "ty",
) -> DataFrame:
    """ogr2ogr -t_srs for point columns: reproject (x, y) from
    ``src_srs`` to ``dst_srs`` as PURE Column expressions — the same
    3-backend formula source the warp family uses (core.srs), so the
    transform runs inside whole-stage codegen with zero Python and
    composes through EPSG:4326 for any registered pair (e.g.
    EPSG:32633 → EPSG:3857, the UTM→WebMercator hop). Unknown SRS
    raises at PLAN time (reference: GDAL raises for unknown SRS —
    unsupported is an error, not a silent no-op)."""
    from ..core.srs import as_plane, get_transform

    tf = as_plane(get_transform(src_srs, dst_srs))
    cx, cy = tf.col_xy(F.col(x), F.col(y))
    # one atomic withColumns: sequential withColumn would let an
    # in-place out_x (== x or y) feed ALREADY-TRANSFORMED values into
    # the second coordinate's expression
    return df.withColumns({out_x: cx, out_y: cy})
