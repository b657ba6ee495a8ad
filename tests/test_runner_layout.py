"""The grouped-kernel runner (operators/_groups.run_grouped) as a tested
property: every per-tile Python stage goes through it, and its output
does not depend on how the input is partitioned or how Arrow cuts the
groups into batches."""

import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from gdal_drivers_spark.core import codecs, qcell

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "gdal_drivers_spark")
T = 8


def test_no_pandas_grouped_map_left():
    """Grouped kernels run one way: no ``applyInPandas(`` anywhere in
    the package (``applyInPandasWithState`` is the streaming state API,
    a different operator)."""
    hits = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                for i, line in enumerate(open(p, encoding="utf-8"), 1):
                    if re.search(r"applyInPandas\(", line):
                        hits.append(f"{os.path.relpath(p, PKG)}:{i}")
    assert hits == []


def _raster(n, seed):
    return np.random.default_rng(seed).integers(0, 256, (n * T, n * T), dtype=np.uint8)


def _tiles(spark, z=2, n=3, seed=5):
    full = _raster(n, seed)
    rows = [(int(qcell.pack(z, tx, ty)), full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes())
            for tx in range(n) for ty in range(n)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))


def _dem(spark):
    from gdal_drivers_spark.operators.dem import horn_gradients

    return _tiles(spark), lambda df: horn_gradients(df, T)


def _proximity(spark):
    from gdal_drivers_spark.operators.proximity import proximity

    return _tiles(spark), lambda df: proximity(df, T, 7, 3)


def _blend(spark):
    from gdal_drivers_spark.operators.blend import blend_tiles

    rng = np.random.default_rng(11)
    rows = []
    for c in range(4):
        cell = int(qcell.pack(1, c % 2, c // 2))
        for s in range(3):
            img = rng.integers(0, 256, (T, T, 1), dtype=np.uint8)
            x0, y0 = (c % 2) * 0.5, (c // 2) * 0.5
            rows.append((cell, 0, s, codecs.encode_raw(img),
                         x0 + 0.05 * s, y0, x0 + 0.5, y0 + 0.5 - 0.07 * s))
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["cell", "band", "source_id", "tile", "vx0", "vy0", "vx1", "vy1"]))
    return df, lambda d: blend_tiles(d, tile_px=T, overlap=0.03)


def _pyramid(spark):
    from gdal_drivers_spark.operators.pyramid import rollup_tiles_one_level

    full = _raster(4, 9)
    rows = [(int(qcell.pack(2, tx, ty)), 0,
             full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes(), T)
            for tx in range(4) for ty in range(4)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "band", "tile", "ts"]),
                               "cell long, band int, tile binary, ts int")
    return df, rollup_tiles_one_level


def _warp(spark):
    from gdal_drivers_spark.operators.warp import warp_tiles

    rng = np.random.default_rng(3)
    rows = [(sx, sy, codecs.encode_raw(rng.integers(0, 256, (T, T, 1), dtype=np.uint8)))
            for sx in range(4) for sy in range(4)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["scx", "scy", "tile"]),
                               "scx long, scy long, tile binary")
    src_gt = np.array([0.0, 1 / 32, 0.0, 1.0, 0.0, -1 / 32])
    dst_gt = np.array([0.0, 1 / 24, 0.0, 1.0, 0.0, -1 / 24])
    return df, lambda d: warp_tiles(d, src_gt, dst_gt, (24, 24), tile_px=T, method="bilinear")


def _gridding(spark):
    from gdal_drivers_spark.operators.gridding import grid_idw

    rows = [(i, (i * 41) % 32, (i * 89) % 32, 1 + (i * 7) % 255) for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "px", "py", "v"]))
    return df, lambda d: grid_idw(d, T, 2, 5, (4, 4))


def _burn(spark):
    from gdal_drivers_spark.operators.rasterize import burn_features

    feats = [
        (1, [[3.0, 2.0], [20.0, 6.0], [15.0, 19.0], [6.0, 14.0]], 50),
        (2, [[10.0, 9.0], [29.0, 12.0], [25.0, 29.0], [11.0, 28.0]], 200),
        (2, [[1.0, 25.0], [6.0, 26.0], [3.0, 31.0]], 99),
    ]
    df = spark.createDataFrame(pd.DataFrame(feats, columns=["fid", "ring", "v"]),
                               "fid long, ring array<array<double>>, v long")
    return df, lambda d: burn_features(d, T, 2, (4, 4), init=7)


def _mvt(spark):
    from gdal_drivers_spark.operators.mvt import encode_layers

    rows = []
    for i in range(12):
        x0, y0 = 0.05 * i, 0.9 - 0.05 * i
        ring = [[x0, y0], [x0, y0 + 0.03], [x0 + 0.03, y0 + 0.03], [x0 + 0.03, y0], [x0, y0]]
        rows.append((1, 0, 0, "l" + str(i % 2), i + 1, "polygon",
                     json.dumps([[ring]]), {"k": str(i % 3)}))
        rows.append((1, 0, 0, "l" + str(i % 2), 100 + i, "point",
                     json.dumps([[[x0, y0]]]), {}))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "layer", "fid", "geom_type",
                                    "geom_json", "props"]),
        "z int, tx long, ty long, layer string, fid long, geom_type string, "
        "geom_json string, props map<string,string>")
    return df, lambda d: encode_layers(d, extent=256)


FAMILIES = {
    "dem_halo": _dem, "proximity": _proximity, "blend": _blend,
    "pyramid_rollup": _pyramid, "warp": _warp, "gridding": _gridding,
    "rasterize_burn": _burn, "mvt_encode": _mvt,
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_runner_output_is_layout_invariant(spark, family):
    """Same sorted output with the input at 1 and 4 partitions and with
    Arrow batches of 1 record and of the default size."""
    df, op = FAMILIES[family](spark)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    results = {}
    try:
        for batch in (old, "1"):
            spark.conf.set(key, batch)
            for parts in (1, 4):
                rows = op(df.repartition(parts)).collect()
                results[(batch, parts)] = sorted(repr(tuple(r)) for r in rows)
    finally:
        spark.conf.set(key, old)
    first = next(iter(results.values()))
    assert first, "fixture produced no output"
    for layout, rows in results.items():
        assert rows == first, layout
