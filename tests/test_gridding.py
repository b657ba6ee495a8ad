"""gdal_grid parity vs scalar whole-raster interpolation: nearest
(exact integer metric, pid tie-break) and IDW (float, coincident-point
rule) on random scattered points, plus the dense-universe contract
(tiles with no candidate emit nodata rasters, never disappear)."""

import numpy as np
import pandas as pd

from gdal_drivers_spark.operators.gridding import grid_idw, grid_nearest

T, GRID, Z = 16, 3, 4
W = T * GRID


def _cell(tx, ty):
    return (Z << 52) + (tx << 26) + ty


def _points(spark, n, seed):
    rng = np.random.default_rng(seed)
    pdf = pd.DataFrame({
        "pid": range(n),
        "px": rng.integers(0, W, n),
        "py": rng.integers(0, W, n),
        "v": rng.integers(1, 256, n),
    })
    return spark.createDataFrame(pdf), pdf


def test_grid_nearest_matches_scalar(spark):
    sdf, pdf = _points(spark, 25, 17)
    r = 7
    got = {row["cell"]: row for row in
           grid_nearest(sdf, T, Z, r, (GRID, GRID)).collect()}
    assert len(got) == GRID * GRID  # dense universe
    exp = np.zeros((W, W), np.uint8)
    filled = np.zeros((W, W), bool)
    for y in range(W):
        for x in range(W):
            d2 = (pdf["px"] - x) ** 2 + (pdf["py"] - y) ** 2
            cand = d2[d2 <= r * r]
            if len(cand):
                # min (d2, pid): pandas idxmin returns first occurrence
                # and pid == index order, so ties go to the lowest pid
                best = cand.idxmin()
                exp[y, x] = pdf["v"].iloc[best]
                filled[y, x] = True
    for tx in range(GRID):
        for ty in range(GRID):
            row = got[_cell(tx, ty)]
            tile = np.frombuffer(bytes(row["raster"]), np.uint8).reshape(T, T)
            ref = exp[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            assert (tile == ref).all(), (tx, ty)
            assert row["n_filled"] == int(
                filled[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].sum())
    assert 0 < filled.sum() < W * W  # both reach and nodata exercised


def test_grid_nearest_tie_breaks_to_lowest_pid(spark):
    # two points equidistant from (5,5): (3,5) and (7,5); pid 1 wins
    pdf = pd.DataFrame({
        "pid": [2, 1], "px": [3, 7], "py": [5, 5], "v": [100, 200]})
    out = grid_nearest(spark.createDataFrame(pdf), T, Z, 4, (GRID, GRID))
    tile0 = next(r for r in out.collect() if r["cell"] == _cell(0, 0))
    arr = np.frombuffer(bytes(tile0["raster"]), np.uint8).reshape(T, T)
    assert arr[5, 5] == 200  # pid 1's value


def test_grid_idw_matches_scalar(spark):
    sdf, pdf = _points(spark, 20, 19)
    r = 9
    got = {row["cell"]: row for row in
           grid_idw(sdf, T, Z, r, (GRID, GRID)).collect()}
    exp = np.zeros((W, W), np.uint8)
    for y in range(W):
        for x in range(W):
            on = pdf[(pdf["px"] == x) & (pdf["py"] == y)]
            if len(on):
                exp[y, x] = on["v"].iloc[0]  # lowest pid (index order)
                continue
            d2 = ((pdf["px"] - x) ** 2 + (pdf["py"] - y) ** 2).to_numpy()
            m = d2 <= r * r
            if not m.any():
                continue
            w = 1.0 / d2[m].astype(np.float64)
            exp[y, x] = np.uint8(np.rint(
                (w * pdf["v"].to_numpy()[m]).sum() / w.sum()))
    for tx in range(GRID):
        for ty in range(GRID):
            tile = np.frombuffer(
                bytes(got[_cell(tx, ty)]["raster"]), np.uint8).reshape(T, T)
            ref = exp[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            assert (tile == ref).all(), (tx, ty)


def test_grid_empty_points_yields_all_nodata(spark):
    sdf = spark.createDataFrame(
        [], "pid long, px long, py long, v long")
    out = grid_nearest(sdf, T, Z, 5, (GRID, GRID), nodata=9).collect()
    assert len(out) == GRID * GRID
    for row in out:
        assert row["n_points"] == 0 and row["n_filled"] == 0
        assert bytes(row["raster"]) == bytes([9]) * (T * T)


def test_grid_datametrics_matches_scalar(spark):
    from gdal_drivers_spark.operators.gridding import grid_datametrics

    sdf, pdf = _points(spark, 30, 23)
    r = 6
    got = {row["cell"]: row for row in
           grid_datametrics(sdf, T, Z, r, (GRID, GRID), nodata=7).collect()}
    assert len(got) == GRID * GRID
    cnt = np.zeros((W, W), np.int64)
    vmin = np.full((W, W), 256, np.int64)
    vmax = np.full((W, W), -1, np.int64)
    for y in range(W):
        for x in range(W):
            d2 = (pdf["px"] - x) ** 2 + (pdf["py"] - y) ** 2
            cand = pdf["v"][d2 <= r * r]
            cnt[y, x] = len(cand)
            if len(cand):
                vmin[y, x], vmax[y, x] = cand.min(), cand.max()
    fill = cnt > 0
    exp = {
        "count": np.minimum(cnt, 255).astype(np.uint8),
        "vmin": np.where(fill, vmin, 7).astype(np.uint8),
        "vmax": np.where(fill, vmax, 7).astype(np.uint8),
        "vrange": np.where(fill, vmax - vmin, 7).astype(np.uint8),
    }
    for tx in range(GRID):
        for ty in range(GRID):
            row = got[_cell(tx, ty)]
            sl = np.s_[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            for band, ref in exp.items():
                tile = np.frombuffer(bytes(row[band]), np.uint8).reshape(T, T)
                assert (tile == ref[sl]).all(), (band, tx, ty)
            assert row["n_filled"] == int(fill[sl].sum())
    assert 0 < fill.sum() < W * W


def test_grid_datametrics_empty_and_saturation(spark):
    from gdal_drivers_spark.operators.gridding import grid_datametrics

    empty = spark.createDataFrame([], "pid long, px long, py long, v long")
    out = grid_datametrics(empty, T, Z, 5, (1, 1), nodata=3).collect()[0]
    assert bytes(out["count"]) == bytes(T * T)
    assert bytes(out["vmin"]) == bytes([3]) * (T * T)
    # 300 coincident points at (0,0): count saturates at 255, range exact
    pdf = pd.DataFrame({"pid": range(300), "px": 0, "py": 0,
                        "v": [1 + i % 200 for i in range(300)]})
    row = grid_datametrics(spark.createDataFrame(pdf), T, Z, 2, (1, 1)).collect()[0]
    c = np.frombuffer(bytes(row["count"]), np.uint8).reshape(T, T)
    rg = np.frombuffer(bytes(row["vrange"]), np.uint8).reshape(T, T)
    assert c[0, 0] == 255 and c[T - 1, T - 1] == 0
    assert rg[0, 0] == 199


def test_scatter_drops_far_out_of_grid_points(spark):
    """VERDICT r05 #1: a point far beyond the grid must scatter to 0
    rows — pre-gate, the clamped sequence(lo, hi) had lo > hi and
    Spark's descending sequence fanned it across an unbounded tile
    range (one point at px=1e9 exploded to ~1e7 rows)."""
    from gdal_drivers_spark.operators.gridding import _scatter

    pdf = pd.DataFrame({
        "pid": [0, 1, 2, 3],
        "px": [10**9, -(10**9), 5, W - 1],
        "py": [5, 5, -(10**9), W - 1],
        "v": [1, 2, 3, 4],
    })
    out = _scatter(spark.createDataFrame(pdf), T, Z, 4, (GRID, GRID))
    rows = out.collect()
    # the three dirty points scatter to exactly 0 rows ...
    assert all(r["_pid"] == 3 for r in rows)
    # ... and the in-grid corner point keeps its normal fan-out
    assert 1 <= len(rows) <= 4


def test_grid_nearest_unchanged_by_dirty_points(spark):
    """Dirty off-grid points must not change any raster byte or any
    n_points census value (they were already distance-filtered out of
    values; the gate now also keeps them out of the candidate counts)."""
    sdf, pdf = _points(spark, 25, 17)
    clean = {r["cell"]: (bytes(r["raster"]), r["n_points"], r["n_filled"])
             for r in grid_nearest(sdf, T, Z, 4, (GRID, GRID)).collect()}
    dirty_pdf = pd.concat([pdf, pd.DataFrame({
        "pid": [100, 101], "px": [10**6, -7777], "py": [3, 10**6],
        "v": [9, 9],
    })], ignore_index=True)
    dirty = {r["cell"]: (bytes(r["raster"]), r["n_points"], r["n_filled"])
             for r in grid_nearest(
                 spark.createDataFrame(dirty_pdf), T, Z, 4, (GRID, GRID)
             ).collect()}
    assert clean == dirty
