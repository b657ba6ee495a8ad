"""gdallocationinfo parity: point sampling against a scalar index of
the stitched raster — value equality, inner-join drop semantics for
out-of-raster points and missing tiles, short-payload poison, and the
pure-JVM plan contract (no Python worker in the hot path)."""

import numpy as np
import pandas as pd

from gdal_drivers_spark.operators.lookup import sample_points

T, GRID = 16, 3
W = T * GRID


def _cell(tx, ty):
    return (4 << 52) + (tx << 26) + ty


def _fixture(spark, full, drop=None):
    rows = [
        (_cell(tx, ty), full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes())
        for tx in range(GRID)
        for ty in range(GRID)
        if (tx, ty) != drop
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))


def test_sample_points_matches_scalar_index(spark):
    rng = np.random.default_rng(11)
    full = rng.integers(0, 256, (W, W)).astype(np.uint8)
    tiles = _fixture(spark, full)
    n = 200
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": range(n),
        "px": [(i * 37) % W for i in range(n)],
        "py": [(i * 61) % W for i in range(n)],
    }))
    out = sample_points(pts, tiles, T, 4).collect()
    assert len(out) == n
    for r in out:
        assert r["px_ok"]
        assert r["value"] == int(full[r["py"], r["px"]]), (r["px"], r["py"])


def test_sample_points_drop_and_poison(spark):
    rng = np.random.default_rng(13)
    full = rng.integers(0, 256, (W, W)).astype(np.uint8)
    # missing tile (1,0) and a short payload at (0,0)
    tiles_missing = _fixture(spark, full, drop=(1, 0))
    pts = spark.createDataFrame(pd.DataFrame({
        "pid": [0, 1, 2, 3],
        "px": [-1, W + 5, T + 2, 2],   # 2: on the missing tile
        "py": [3, 3, 2, 2],
    }))
    out = {r["pid"]: r for r in sample_points(pts, tiles_missing, T, 4).collect()}
    # negative / out-of-grid / missing-tile points yield NO row
    assert set(out) == {3}
    assert out[3]["value"] == int(full[2, 2])

    rows = [(_cell(0, 0), b"short")] + [
        (_cell(tx, ty), full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes())
        for tx in range(GRID) for ty in range(GRID) if (tx, ty) != (0, 0)
    ]
    tiles_bad = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))
    out2 = {r["pid"]: r for r in sample_points(pts, tiles_bad, T, 4).collect()}
    assert out2[3]["value"] is None and not out2[3]["px_ok"]


def test_sample_points_plan_is_jvm_only(spark):
    full = np.zeros((W, W), np.uint8)
    tiles = _fixture(spark, full)
    pts = spark.createDataFrame(pd.DataFrame({"pid": [1], "px": [3], "py": [4]}))
    plan = sample_points(pts, tiles, T, 4)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    assert "BroadcastHashJoin" in plan
