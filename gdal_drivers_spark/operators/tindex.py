"""Raster tile index — gdaltindex semantics, distributed.

gdaltindex walks a list of rasters, reads each one's geotransform +
size, and writes one vector feature per raster: the file location and
the footprint polygon (apps/gdaltindex_lib.cpp in GDAL proper; in the
reference the same corner math backs the blender's extents gate,
blender.cpp:120-151). The engine's form is a pure projection over the
raster catalog — every column is JVM Column arithmetic (corner coords,
per-axis resolution, pixel count, WKT ring), no Python, no shuffle; at
10^12 rasters the index build is a single narrow scan that Catalyst
fuses into whatever written/filtered form follows.

Conventions:
- footprint is the axis-aligned world rect (x0,y0)-(x1,y1) the engine
  uses everywhere (assign.with_footprint / synth.footprint_of);
- the WKT ring is closed, counter-clockwise in the engine's y-up world:
  (x0 y0, x1 y0, x1 y1, x0 y1, x0 y0), coordinates rendered %.9f
  (Java String.format — HALF_UP at the 9th decimal; dyadic footprint
  coords can land exactly on a decimal half, so the TEXT column is
  pinned by pytest, while oracle hashing uses the raw doubles);
- ``res_x``/``res_y`` are world-units-per-pixel (gt_resolution of the
  orthogonal GT gt_from_extents would build — blender.cpp:141-151).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tile_index(
    rasters: DataFrame,
    location: str = "image_id",
) -> DataFrame:
    """One index feature per raster: (location, corners, res_x, res_y,
    n_px, wkt). Input must already carry ``w``, ``h`` and the footprint
    corners ``x0, y0, x1, y1`` (compose
    with ``assign.with_footprint`` for phash-derived footprints).
    Rows with a degenerate footprint (x1<=x0 or y1<=y0) or
    non-positive size are flagged ``ok=false`` with NULL geometry —
    gdaltindex skips unreadable rasters; set-at-a-time the row is
    flagged, never dropped, so counts reconcile."""
    cx0, cy0, cx1, cy1 = F.col("x0"), F.col("y0"), F.col("x1"), F.col("y1")
    cw, ch = F.col("w").cast("long"), F.col("h").cast("long")
    good = (cx1 > cx0) & (cy1 > cy0) & (cw > 0) & (ch > 0)

    def _pt(a: Column, b: Column) -> Column:
        return F.format_string("%.9f %.9f", a, b)

    wkt = F.concat(
        F.lit("POLYGON (("),
        _pt(cx0, cy0), F.lit(", "), _pt(cx1, cy0), F.lit(", "),
        _pt(cx1, cy1), F.lit(", "), _pt(cx0, cy1), F.lit(", "),
        _pt(cx0, cy0), F.lit("))"),
    )
    null_d = F.lit(None).cast("double")
    return rasters.select(
        F.col(location).alias("location"),
        F.when(good, cx0).otherwise(null_d).alias("x0"),
        F.when(good, cy0).otherwise(null_d).alias("y0"),
        F.when(good, cx1).otherwise(null_d).alias("x1"),
        F.when(good, cy1).otherwise(null_d).alias("y1"),
        F.when(good, (cx1 - cx0) / cw.cast("double")).otherwise(null_d).alias("res_x"),
        F.when(good, (cy1 - cy0) / ch.cast("double")).otherwise(null_d).alias("res_y"),
        F.when(good, cw * ch).otherwise(F.lit(None).cast("long")).alias("n_px"),
        F.when(good, wkt).otherwise(F.lit(None).cast("string")).alias("wkt"),
        good.alias("ok"),
    )
