"""Smoke for the round-5 utility operators: each runs end-to-end, and
each tile operator composes with BOTH payload column conventions
("tile" and "raster") through its column-name parameter — the
adaptation an AnalysisException regression would break."""

import numpy as np
import pandas as pd

from gdal_drivers_spark.operators.assign import with_footprint
from gdal_drivers_spark.operators.calc import band_calc
from gdal_drivers_spark.operators.cutline import cutline_crop
from gdal_drivers_spark.operators.multimodal import (
    build_palette_median_cut,
    equalize_images,
    pansharpen,
    rgb2pct,
    scale_images,
)
from gdal_drivers_spark.operators.polygonize import contour_polygons
from gdal_drivers_spark.operators.pyramid import retile
from gdal_drivers_spark.operators.rasterize import burn_into
from gdal_drivers_spark.operators.tindex import tile_index
from gdal_drivers_spark.operators.viewshed import viewshed
from gdal_drivers_spark.operators.zonal import to_xyz
from gdal_drivers_spark.sources import synth


def _tiles(spark, col):
    rows = [((4 << 52) + (tx << 26) + ty, bytes(np.full(256, 9, np.uint8)))
            for tx in range(4) for ty in range(4)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["cell", col]))


def test_imageset_utility_verbs(spark):
    imgs = synth.images_df(spark.range(0, 24, 1, 8))
    assert equalize_images(imgs).filter("ok").count() == 24
    assert scale_images(imgs, dst=(10, 200)).filter("ok").count() == 24
    pal = build_palette_median_cut(imgs)  # median-cut over this corpus
    assert rgb2pct(imgs, pal).filter("ok").count() == 24
    assert band_calc({"A": imgs, "B": imgs}, "A + B // 2").filter("ok").count() == 24
    idx = tile_index(with_footprint(imgs))
    assert idx.count() == 24 and idx.filter("ok").count() == 24
    # pansharpen: 3-band vs 3-band pan is a grid mismatch -> poison rows
    ps = pansharpen(imgs, imgs)
    assert ps.count() == 24 and ps.filter("NOT ok").count() == 24


def test_tileset_utility_verbs_both_payload_columns(spark):
    ring = [[5, 3], [58, 13], [40, 62], [9, 50]]
    fdf = spark.createDataFrame(
        pd.DataFrame([(1, [[3.0, 2.0], [40.0, 6.0], [30.0, 37.0],
                           [6.0, 28.0]], 50)],
                     columns=["fid", "ring", "v"]),
        "fid long, ring array<array<double>>, v long")
    obs = spark.createDataFrame(
        pd.DataFrame([(1, 20, 20)], columns=["oid", "px", "py"]))
    for col in ("raster", "tile"):
        ts = _tiles(spark, col)
        assert cutline_crop(ts, ring, 16, raster=col).count() == 16, col
        assert retile(ts, 16, 32, 4, (4, 4), tile_col=col).count() == 4, col
        burned = burn_into(ts, fdf, 16, 4, (4, 4), tile_col=col)
        assert burned.filter("ok").count() == 16, col
        row = viewshed(obs, ts, 16, 4, (4, 4), 8, tile_col=col).collect()[0]
        assert row["n_visible"] == row["n_eval"], col  # flat field
        assert contour_polygons(ts, [128], 16, (4, 4), tile_col=col).count() == 1, col


def test_tileset_to_xyz_verb(spark):
    for col in ("raster", "tile"):
        ts = _tiles(spark, col)
        assert to_xyz(ts, 16, tile_col=col).count() == 16 * 256, col       # full export
        assert to_xyz(ts, 16, tile_col=col, skip_value=9).count() == 0, col  # all skipped
