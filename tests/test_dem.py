"""DEM operators: tiled Horn hillshade must equal the whole-raster
computation pixel-for-pixel (seams + domain-edge clamps), gradients
are exact, trig matches scalar libm within rounding."""

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_drivers_spark.operators.dem import (
    hillshade,
    hillshade_np,
    horn_gradients,
)

T, GRID, Z = 32, 4, 2  # 4×4 tiles of 32 px = 128² raster


def _cell(tx, ty):
    return (Z << 52) + (tx << 26) + ty


@pytest.fixture(scope="module")
def raster(spark):
    rng = np.random.default_rng(99)
    full = rng.integers(0, 256, (GRID * T, GRID * T), dtype=np.uint8)
    rows = [
        (_cell(tx, ty), full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes())
        for tx in range(GRID)
        for ty in range(GRID)
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))
    return full, tiles


def test_tiled_hillshade_equals_whole_raster(raster):
    """The headline invariant: distributed tiles + halo assembly ==
    one numpy pass over the stitched raster, byte-identical,
    including every seam pixel and the domain-edge clamp."""
    full, tiles = raster
    expect = hillshade_np(full)
    got = {r["cell"]: r for r in hillshade(tiles, T).collect()}
    assert len(got) == GRID * GRID
    for tx in range(GRID):
        for ty in range(GRID):
            tile = np.frombuffer(bytes(got[_cell(tx, ty)]["tile"]), np.uint8).reshape(T, T)
            ref = expect[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            assert (tile == ref).all(), (tx, ty, int((tile != ref).sum()))
            assert got[_cell(tx, ty)]["hs_sum"] == int(ref.sum(dtype=np.int64))


def test_gradients_exact_vs_numpy(raster):
    full, tiles = raster
    P = np.pad(full.astype(np.int64), 1, mode="edge")
    a = P[0:-2, 0:-2]; b = P[0:-2, 1:-1]; c = P[0:-2, 2:]
    d = P[1:-1, 0:-2]; f = P[1:-1, 2:]
    g = P[2:, 0:-2]; h = P[2:, 1:-1]; i = P[2:, 2:]
    p8 = (c + 2 * f + i) - (a + 2 * d + g)
    q8 = (g + 2 * h + i) - (a + 2 * b + c)
    got = {r["cell"]: r for r in horn_gradients(tiles, T).collect()}
    for tx in range(GRID):
        for ty in range(GRID):
            sl = np.s_[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            r = got[_cell(tx, ty)]
            assert r["p8_sum"] == int(p8[sl].sum()) and r["q8_sum"] == int(q8[sl].sum())
            assert r["p8_abs_sum"] == int(np.abs(p8[sl]).sum())
            assert r["n_px"] == T * T and r["n_bad"] == 0


def test_sun_direction_convention():
    """Esri/gdaldem compass semantics: with the default NW sun
    (azimuth 315), a NW-facing slope is fully lit and its SE-facing
    mirror is dark; flat ground sits at 255·cos(zenith) ≈ 180."""
    y, x = np.mgrid[0:16, 0:16]
    nw_facing = (x + y).astype(np.uint8)          # rises to the SE
    se_facing = (255 - (x + y)).astype(np.uint8)  # rises to the NW
    flat = np.full((16, 16), 7, np.uint8)
    interior = np.s_[4:12, 4:12]
    assert hillshade_np(nw_facing)[interior].min() >= 250
    assert hillshade_np(se_facing)[interior].max() == 0
    assert abs(int(hillshade_np(flat)[interior].mean()) - 180) <= 1


def test_trig_within_rounding_of_libm():
    """Vectorized hillshade is ≤1 ulp off scalar libm → the u8 output
    differs by at most 1 at half-integer boundaries."""
    rng = np.random.default_rng(5)
    elev = rng.integers(0, 256, (16, 16), dtype=np.uint8)
    got = hillshade_np(elev).astype(np.int16)
    P = np.pad(elev.astype(np.int64), 1, mode="edge")
    zen = math.radians(45.0); az = math.radians((360.0 - 315.0 + 90.0) % 360.0)
    for y in range(16):
        for x in range(16):
            aa, bb, cc = P[y, x], P[y, x + 1], P[y, x + 2]
            dd, ff = P[y + 1, x], P[y + 1, x + 2]
            gg, hh, ii = P[y + 2, x], P[y + 2, x + 1], P[y + 2, x + 2]
            p = ((cc + 2 * ff + ii) - (aa + 2 * dd + gg)) / 8.0
            q = ((gg + 2 * hh + ii) - (aa + 2 * bb + cc)) / 8.0
            s = math.atan(math.sqrt(p * p + q * q))
            asp = math.atan2(q, -p)
            hs = 255.0 * (math.cos(zen) * math.cos(s)
                          + math.sin(zen) * math.sin(s) * math.cos(az - asp))
            ref = int(round(min(max(hs, 0.0), 255.0)))
            assert abs(int(got[y, x]) - ref) <= 1


def test_poison_tiles_flagged_not_fatal(spark):
    """House poison policy: a corrupt neighbor is treated as absent
    and counted; a corrupt CENTER yields a flagged empty row; the
    stage always survives."""
    rng = np.random.default_rng(3)
    good = rng.integers(0, 256, (T, T), dtype=np.uint8)
    rows = [
        (_cell(0, 0), good.tobytes()),
        (_cell(1, 0), b"\x01short"),  # corrupt tile
        (_cell(0, 1), None),          # NULL payload
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell", "tile"]).astype({"cell": "int64"})
    )
    got = {r["cell"]: r for r in horn_gradients(df, T).collect()}
    # the good tile saw 2 bad contributions (its east + south neighbors)
    assert got[_cell(0, 0)]["n_px"] == T * T and got[_cell(0, 0)]["n_bad"] == 2
    # the corrupt centers produce flagged zero rows, not failures
    assert got[_cell(1, 0)]["n_px"] == 0 and got[_cell(1, 0)]["n_bad"] >= 1
    hs = {r["cell"]: r for r in hillshade(df, T).collect()}
    assert hs[_cell(1, 0)]["hs_sum"] == -1 and bytes(hs[_cell(1, 0)]["tile"]) == b""
    # the good tile's interior equals pure edge replication (bad
    # neighbors contributed nothing)
    tile = np.frombuffer(bytes(hs[_cell(0, 0)]["tile"]), np.uint8).reshape(T, T)
    assert (tile == hillshade_np(good)).all()


def test_halo_traffic_is_strips_not_full_tiles(raster):
    """The 100-TB scale contract: the halo exchange ships ≈ raster
    bytes + 1-px strips, NOT 9× full tiles. Sum the payload bytes of
    the shuffled contribution frame and bound it by raster + per-tile
    strip budget (4 side strips of t bytes + 4 corner bytes); the old
    full-tile re-key would weigh ~8.06× the raster on this 4×4 grid."""
    from gdal_drivers_spark.operators.halo import with_halo_bands

    full, tiles = raster
    n_tiles = GRID * GRID
    raster_bytes = n_tiles * T * T
    h = with_halo_bands(tiles, T, 1)
    total = h.agg(F.sum(F.length("payload"))).collect()[0][0]
    budget = raster_bytes + n_tiles * (4 * T + 4)
    assert total <= budget, (total, budget)
    assert total < 1.2 * raster_bytes  # nowhere near the 9x fan-out
    # and the frame still carries one center + <=8 neighbor rows/tile
    n_rows = h.count()
    assert n_rows == sum(
        1
        for tx in range(GRID)
        for ty in range(GRID)
        for dx in (-1, 0, 1)
        for dy in (-1, 0, 1)
        if 0 <= tx + dx < (1 << Z) and 0 <= ty + dy < (1 << Z)
    )


def test_single_tile_domain(spark):
    """A lone tile (no neighbors anywhere) = pure edge-replication."""
    rng = np.random.default_rng(1)
    elev = rng.integers(0, 256, (T, T), dtype=np.uint8)
    df = spark.createDataFrame(
        pd.DataFrame([(_cell(0, 0), elev.tobytes())], columns=["cell", "tile"])
    )
    out = hillshade(df, T).collect()
    assert len(out) == 1
    got = np.frombuffer(bytes(out[0]["tile"]), np.uint8).reshape(T, T)
    assert (got == hillshade_np(elev)).all()


def test_tiled_slope_aspect_equals_whole_raster(raster):
    """gdaldem slope/aspect over tiles == the whole-raster reference,
    float-exact (same shared formula and strip halo as hillshade);
    flat cells carry the gdaldem -9999 aspect sentinel."""
    from gdal_drivers_spark.operators.dem import slope_aspect, slope_aspect_np

    full, tiles = raster
    exp_s, exp_a = slope_aspect_np(full)
    got = {r["cell"]: r for r in slope_aspect(tiles, T).collect()}
    assert len(got) == GRID * GRID
    for tx in range(GRID):
        for ty in range(GRID):
            r = got[_cell(tx, ty)]
            s = np.frombuffer(bytes(r["slope_tile"]), np.float32).reshape(T, T)
            a = np.frombuffer(bytes(r["aspect_tile"]), np.float32).reshape(T, T)
            sl = np.s_[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            assert (s == exp_s[sl]).all() and (a == exp_a[sl]).all()


def test_aspect_compass_convention():
    """A surface rising to the SE faces NW: compass aspect 315; its
    mirror faces SE: 135; flat ground reports the -9999 sentinel."""
    from gdal_drivers_spark.operators.dem import slope_aspect_np

    y, x = np.mgrid[0:16, 0:16]
    nw_facing = (x + y).astype(np.uint8)
    _, a1 = slope_aspect_np(nw_facing)
    assert abs(float(a1[8, 8]) - 315.0) < 1e-4
    se_facing = (255 - (x + y)).astype(np.uint8)
    _, a2 = slope_aspect_np(se_facing)
    assert abs(float(a2[8, 8]) - 135.0) < 1e-4
    _, a3 = slope_aspect_np(np.full((16, 16), 9, np.uint8))
    assert (a3[4:12, 4:12] == np.float32(-9999.0)).all()


def test_terrain_indices_match_whole_raster(raster):
    """TRI (Wilson×8 and Riley², exact integers), TPI×8 and roughness
    over tiles == the same indices computed on the stitched full
    raster with edge replication — every seam and corner exact. The
    random fixture exercises all 3×3 value orders."""
    from gdal_drivers_spark.operators.dem import roughness_tiles, terrain_indices

    full, tiles = raster
    P = np.pad(full.astype(np.int64), 1, mode="edge")
    n = full.shape[0]
    c0 = P[1:n + 1, 1:n + 1]
    neigh = [P[dy:dy + n, dx:dx + n] for dy in (0, 1, 2) for dx in (0, 1, 2)
             if not (dx == 1 and dy == 1)]
    diffs = [c0 - nb for nb in neigh]
    tri_w8 = np.sum([np.abs(d) for d in diffs], axis=0)
    tri_r2 = np.sum([d * d for d in diffs], axis=0)
    tpi8 = 8 * c0 - np.sum(neigh, axis=0)
    rough = np.maximum.reduce(neigh + [c0]) - np.minimum.reduce(neigh + [c0])

    got = {r["cell"]: r for r in terrain_indices(tiles, tile_px=T).collect()}
    assert len(got) == GRID * GRID
    for tx in range(GRID):
        for ty in range(GRID):
            sl = np.s_[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            r = got[_cell(tx, ty)]
            assert r["n_bad"] == 0
            assert r["tri_w8_sum"] == int(tri_w8[sl].sum())
            assert r["tri_r2_sum"] == int(tri_r2[sl].sum())
            assert r["tpi8_sum"] == int(tpi8[sl].sum())
            assert r["tpi8_abs_sum"] == int(np.abs(tpi8[sl]).sum())
            assert r["rough_sum"] == int(rough[sl].sum())
            assert r["rough_max"] == int(rough[sl].max())

    rt = {r["cell"]: np.frombuffer(r["tile"], np.uint8).reshape(T, T)
          for r in roughness_tiles(tiles, tile_px=T).collect()}
    for tx in range(GRID):
        for ty in range(GRID):
            sl = np.s_[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T]
            assert (rt[_cell(tx, ty)] == rough[sl].astype(np.uint8)).all()


def test_color_relief_matches_scalar_oracle(spark):
    """Piecewise-linear ramp per pixel vs a python scalar loop:
    segment pick, end-clamp, exact-entry colors and banker's rounding
    all byte-exact; corrupt payload → ok=false, empty planes."""
    from gdal_drivers_spark.operators.dem import color_relief

    ramp = [(10, (0, 0, 128)), (74, (0, 255, 0)), (200, (255, 40, 0))]
    from gdal_drivers_spark.core import codecs

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (8, 8), dtype=np.uint8)  # exercises clamps
    rows = [(0, codecs.encode_raw(img[:, :, None])), (1, b"\x01bad")]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))
    got = {r["cell"]: r for r in color_relief(df, ramp).collect()}
    assert got[1]["ok"] is False and bytes(got[1]["r"]) == b""

    xs = [e for e, _ in ramp]
    exp = {ch: np.zeros(img.size, np.uint8) for ch in range(3)}
    for i, v in enumerate(img.ravel()):
        v = min(max(float(v), xs[0]), xs[-1])
        seg = 0 if v < xs[1] else 1
        e0, e1 = xs[seg], xs[seg + 1]
        fr = (v - e0) / (e1 - e0)
        for ch in range(3):
            c0, c1 = ramp[seg][1][ch], ramp[seg + 1][1][ch]
            exp[ch][i] = int(np.rint(c0 + fr * (c1 - c0)))
    for ch, name in enumerate(("r", "g", "b")):
        assert bytes(got[0][name]) == exp[ch].tobytes()


def test_contour_census_matches_whole_raster(raster):
    """Marching-squares case census over tiles == the census computed
    on the stitched raster: every square owned exactly once, the
    trailing column/row read through the halo, domain-edge squares
    dropped (not fabricated from replicated padding)."""
    from gdal_drivers_spark.operators.dem import contour_case_census

    full, tiles = raster
    n = full.shape[0]
    levels = [64.0, 128.0, 192.0]
    got = {(r["cell"], r["level"]): r
           for r in contour_case_census(
               tiles, tile_px=T, levels=levels, grid_wh=(GRID, GRID)).collect()}
    seg_of = np.array([0, 1, 1, 1, 1, 1, 2, 1, 1, 2, 1, 1, 1, 1, 1, 0])
    v = full.astype(np.int64)
    total_sq = 0
    for L in levels:
        case = ((v[:-1, :-1] >= L).astype(np.int64)
                + 2 * (v[:-1, 1:] >= L)
                + 4 * (v[1:, :-1] >= L)
                + 8 * (v[1:, 1:] >= L))
        # ownership: square (r, c) belongs to tile (c // T, r // T)
        for tx in range(GRID):
            for ty in range(GRID):
                rs = slice(ty * T, min((ty + 1) * T, n - 1))
                csl = slice(tx * T, min((tx + 1) * T, n - 1))
                blk = case[rs, csl]
                r = got[(_cell(tx, ty), L)]
                assert r["n_bad"] == 0
                assert r["n_squares"] == blk.size
                assert r["n_segments"] == int(seg_of[blk].sum())
                assert r["case_sum"] == int(blk.sum())
                total_sq += blk.size
    assert total_sq == 3 * (n - 1) * (n - 1)  # disjoint cover, all levels


def test_hillshade_multidirectional_tiled_equals_whole(spark):
    from gdal_drivers_spark.operators.dem import hillshade, hillshade_np

    rng = np.random.default_rng(59)
    W, T = 64, 16
    world = (np.cumsum(rng.integers(-3, 4, (W, W)), axis=1) % 200
             ).astype(np.uint8)
    rows = [
        ((4 << 52) + (tx << 26) + ty,
         world[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes())
        for tx in range(W // T) for ty in range(W // T)
    ]
    tiles = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell", "tile"]))
    got = {r["cell"]: r for r in
           hillshade(tiles, T, multidirectional=True).collect()}
    # stitch and compare byte-exactly to the whole-raster reference
    exp = hillshade_np(world, multidirectional=True)
    single = hillshade_np(world)
    assert not np.array_equal(exp, single)  # mode genuinely differs
    for tx in range(W // T):
        for ty in range(W // T):
            r = got[(4 << 52) + (tx << 26) + ty]
            tile = np.frombuffer(bytes(r["tile"]), np.uint8).reshape(T, T)
            assert (tile == exp[ty * T:(ty + 1) * T,
                                tx * T:(tx + 1) * T]).all(), (tx, ty)
    # Mark-1992 weighting: the four-azimuth blend softens the deepest
    # single-azimuth shadows (no pixel darker than ALL four inputs)
    mins = np.minimum.reduce([
        hillshade_np(world, azimuth_deg=az) for az in (225, 270, 315, 360)])
    assert (exp.astype(int) >= mins.astype(int) - 1).all()


def test_multi_weights_sum_identity():
    # sin²θ + sin²(θ−45°) + sin²(θ−90°) + sin²(θ−135°) ≡ 2
    import math
    for th in np.linspace(-np.pi, np.pi, 97):
        tot = sum(math.sin(th - math.radians(a)) ** 2
                  for a in (225, 270, 315, 360))
        assert abs(tot - 2.0) < 1e-12
