"""Tile assignment — footprint → covering cells (the scan side of the
reference's tile↔source range join).

Semantics: each image footprint (axis-aligned world rect, the extents
model of ``/root/reference/gdal-drivers/mask.cpp:152-155``) is exploded
to every level-z cell it overlaps — the covering-cells prune of the
Blender ``Locator`` ROI test (``blender.cpp:226-238``) reduced to an
equi-join key, the standard distributed spatial-join recipe.

Everything here is **JVM-side Column arithmetic** (shifts, floor,
``sequence`` + ``explode``) — whole-stage codegen, no Python workers,
no shuffle (narrow explode). At 10^12 rows the only cost is the
fan-out factor (cells per footprint ≈ 2-20 at z=8 for the synthetic
footprint distribution), which Catalyst pipelines into the next join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..core.qcell import cover_cols, explode_ranges

MAX_SPAN = 1.0 / 64  # synthetic footprint max width/height (fraction of world)


def with_footprint(df: DataFrame) -> DataFrame:
    """Derive the deterministic unit-world footprint from ``phash`` —
    identical arithmetic to sources.synth.footprint_of (power-of-two
    divisions ⇒ bit-identical doubles in numpy / Spark / DuckDB)."""
    h = F.col("phash")
    fx = (h % F.lit(1 << 20)).cast("double") / F.lit(float(1 << 20))
    fy = (F.shiftright(h, 20) % F.lit(1 << 20)).cast("double") / F.lit(float(1 << 20))
    fw = ((F.shiftright(h, 40) % F.lit(1024)).cast("double") + F.lit(1.0)) / F.lit(1024.0)
    fh = ((F.shiftright(h, 50) % F.lit(1024)).cast("double") + F.lit(1.0)) / F.lit(1024.0)
    x0 = fx * F.lit(1.0 - MAX_SPAN)
    y0 = fy * F.lit(1.0 - MAX_SPAN)
    return (
        df.withColumn("x0", x0)
        .withColumn("y0", y0)
        .withColumn("x1", x0 + fw * F.lit(MAX_SPAN))
        .withColumn("y1", y0 + fh * F.lit(MAX_SPAN))
    )


def explode_cells(df: DataFrame, z: int) -> DataFrame:
    """Fan each footprint row out to one row per covering cell. Narrow
    (no shuffle): sequence+explode inside one codegen stage."""
    b = cover_cols(z)
    bounded = (
        df.withColumn("_cx0", b["cx0"])
        .withColumn("_cy0", b["cy0"])
        .withColumn("_cx1", b["cx1"])
        .withColumn("_cy1", b["cy1"])
    )
    return explode_ranges(
        bounded, z, (F.col("_cx0"), F.col("_cx1")), (F.col("_cy0"), F.col("_cy1")), "cx", "cy"
    ).drop("_cx0", "_cy0", "_cx1", "_cy1")


def assign_tiles(images: DataFrame, z: int) -> DataFrame:
    """images(…phash…) → one row per (image, covering cell) at level z.

    The full tile-assignment operator: footprint derivation + cover
    explode, all codegen'd. Output keeps the footprint columns for the
    exact-refine stage of downstream joins.
    """
    return explode_cells(with_footprint(images), z)
