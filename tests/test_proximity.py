"""Bounded-radius proximity vs a scalar whole-raster brute force:
squared distance to the nearest target pixel within max_dist must be
exact on a random raster whose targets cross tile seams, including the
raster border (outside = no targets) and the unreached sentinel."""

import numpy as np
import pandas as pd
import pytest

from gdal_drivers_spark.operators.proximity import proximity

T, GRID = 16, 3
W = T * GRID


def _cell(tx, ty):
    return (4 << 52) + (tx << 26) + ty


def _tiles_df(spark, full):
    rows = [
        (_cell(tx, ty), full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes())
        for tx in range(GRID)
        for ty in range(GRID)
    ]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))


def _scalar_d2(full, tv, r):
    """Brute force: per pixel, min d² over every target within r."""
    cap = r * r + 1
    ty, tx = np.nonzero(full == tv)
    d2 = np.full(full.shape, cap, np.int64)
    for y in range(W):
        for x in range(W):
            dd = (ty - y) ** 2 + (tx - x) ** 2
            dd = dd[dd <= r * r]
            if dd.size:
                d2[y, x] = dd.min()
    return d2


@pytest.mark.parametrize("r", [1, 5])
def test_proximity_matches_scalar_brute_force(spark, r):
    rng = np.random.default_rng(31)
    # sparse targets (~2%) so many pixels sit near the sentinel edge
    full = np.where(rng.random((W, W)) < 0.02, 7, 200).astype(np.uint8)
    got = {
        row["cell"]: row
        for row in proximity(_tiles_df(spark, full), T, 7, r).collect()
    }
    exp = _scalar_d2(full, 7, r)
    assert len(got) == GRID * GRID
    for tx in range(GRID):
        for ty in range(GRID):
            row = got[_cell(tx, ty)]
            assert row["px_ok"] and row["n_bad_nbrs"] == 0
            tile = np.frombuffer(bytes(row["dist2"]), "<u2").reshape(T, T)
            ref = exp[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            assert (tile == ref).all(), (tx, ty)
            assert row["n_reached"] == int((ref <= r * r).sum())
            assert row["d2_sum"] == int(ref.sum())
    # the fixture exercises both reached and sentinel pixels
    assert 0 < int((exp <= r * r).sum()) < W * W


def test_proximity_poison_center_and_missing_neighbor(spark):
    rng = np.random.default_rng(33)
    full = np.where(rng.random((W, W)) < 0.05, 7, 200).astype(np.uint8)
    rows = [
        (
            _cell(tx, ty),
            b"corrupt" if (tx, ty) == (1, 1)
            else full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes(),
        )
        for tx in range(GRID)
        for ty in range(GRID)
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))
    got = {r_["cell"]: r_ for r_ in proximity(tiles, T, 7, 3).collect()}
    assert len(got) == GRID * GRID  # poison row survives, nothing invented
    bad = got[_cell(1, 1)]
    assert not bad["px_ok"] and bad["dist2"] is None
    # each of (1,1)'s 8 neighbors saw one corrupt band — counted, not fatal
    for tx, ty in [(0, 0), (1, 0), (2, 2)]:
        assert got[_cell(tx, ty)]["n_bad_nbrs"] == 1
        assert got[_cell(tx, ty)]["px_ok"]


def test_proximity_validates_radius(spark):
    full = np.zeros((W, W), np.uint8)
    tiles = _tiles_df(spark, full)
    with pytest.raises(ValueError):
        proximity(tiles, T, 0, T + 1)
    with pytest.raises(ValueError):
        proximity(tiles, T, 0, 0)


def _scalar_fill(full, nd, r):
    """Nearest-valid fill, ties → lowest neighbor gpid."""
    out = full.astype(np.int64).copy()
    unfilled = np.zeros(full.shape, bool)
    for y in range(W):
        for x in range(W):
            if full[y, x] != nd:
                continue
            best = None
            for ny in range(max(0, y - r), min(W, y + r + 1)):
                for nx in range(max(0, x - r), min(W, x + r + 1)):
                    d2 = (ny - y) ** 2 + (nx - x) ** 2
                    if 0 < d2 <= r * r and full[ny, nx] != nd:
                        k = (d2, ny * W + nx)
                        if best is None or k < best:
                            best = (d2, ny * W + nx)
                            bv = int(full[ny, nx])
            if best is None:
                unfilled[y, x] = True
            else:
                out[y, x] = bv
    return out.astype(np.uint8), unfilled


def test_fillnodata_matches_scalar_nearest_valid(spark):
    from gdal_drivers_spark.operators.proximity import fillnodata

    rng = np.random.default_rng(41)
    # ~30% holes, including blobs wider than r (unfilled survivors)
    full = np.where(rng.random((W, W)) < 0.3, 0, rng.integers(1, 256, (W, W))).astype(np.uint8)
    full[20:30, 20:30] = 0  # a hole wider than 2r
    r = 3
    exp, exp_unfilled = _scalar_fill(full, 0, r)
    got = {row["cell"]: row for row in
           fillnodata(_tiles_df(spark, full), T, 0, r).collect()}
    assert len(got) == GRID * GRID
    for tx in range(GRID):
        for ty in range(GRID):
            row = got[_cell(tx, ty)]
            assert row["px_ok"]
            tile = np.frombuffer(bytes(row["tile"]), np.uint8).reshape(T, T)
            ref = exp[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            assert (tile == ref).all(), (tx, ty)
            src = full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            un = exp_unfilled[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            assert row["n_filled"] == int(((src == 0) & ~un).sum())
            assert row["n_unfilled"] == int(un.sum())
    assert exp_unfilled.sum() > 0  # the wide hole survived


@pytest.mark.parametrize("op", ["proximity", "fillnodata"])
def test_duplicate_cell_is_deterministic(spark, op):
    """A duplicated input cell (malformed upstream union) resolves by
    the shared halo rule: the lexicographically smaller payload wins
    for the tile and for every band it ships, whatever the shuffle
    order — identical at 1 and 4 input partitions, and equal to the
    output with the larger payload removed."""
    from gdal_drivers_spark.operators.proximity import fillnodata

    rng = np.random.default_rng(35)
    full = np.where(rng.random((W, W)) < 0.05, 7, 200).astype(np.uint8)
    dup = _cell(1, 1)
    hi = full[T:2 * T, T:2 * T].copy()
    hi[0, 0] = 255  # larger payload than the real tile
    rows = [(_cell(tx, ty), full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes())
            for tx in range(GRID) for ty in range(GRID)]
    clean = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))
    dirty = spark.createDataFrame(
        pd.DataFrame(rows + [(dup, hi.tobytes())], columns=["cell", "tile"]))

    def run(df):
        out = (proximity(df, T, 7, 3) if op == "proximity"
               else fillnodata(df, T, 7, 3))
        return {r["cell"]: r for r in out.collect()}

    ref = run(clean)
    payload = "dist2" if op == "proximity" else "tile"
    for parts in (1, 4):
        got = run(dirty.repartition(parts))
        assert set(got) == set(ref)
        for c, r in ref.items():
            assert got[c][payload] == r[payload], (parts, c)
            # the duplicate counts as bad wherever it contributed
            assert got[c]["n_bad_nbrs"] == (1 if c == dup or _near(c, dup) else 0)


def _near(a, b):
    ax, ay = (a >> 26) & ((1 << 26) - 1), a & ((1 << 26) - 1)
    bx, by = (b >> 26) & ((1 << 26) - 1), b & ((1 << 26) - 1)
    return max(abs(ax - bx), abs(ay - by)) == 1
