"""Pixel-operator parity vs slow, obviously-correct scalar oracles
(SURVEY.md §5.1 golden-parity strategy). Spark runs the distributed
operator; the oracle is a per-pixel python loop reimplementing the
reference semantics (blender.cpp:559-655, mask.cpp:219-264)."""

import numpy as np
import pandas as pd
import pytest

from gdal_drivers_spark.core import codecs, qcell
from gdal_drivers_spark.operators.blend import blend_tiles, check_compatibility
from gdal_drivers_spark.operators.pyramid import (
    build_pyramid,
    rollup_tiles_one_level,
    rollup_tristate,
    update_pyramid,
)
from gdal_drivers_spark.operators.rasterize import (
    BLACK,
    GRAY,
    WHITE,
    rasterize_quads,
    vectorize_tiles,
)
from gdal_drivers_spark.sources import synth

TS = 64  # small tiles keep the scalar oracle fast


# ---------------------------------------------------------------- blend

def _scalar_blend_oracle(cell, sources, ts, overlap, nodata):
    """Per-pixel loop: weight = clamped ramp product (blender.cpp:601-624),
    acc/wacc in f64, zero-weight → nodata (blender.cpp:634-646)."""
    z, cx, cy = (int(v) for v in qcell.unpack(cell))
    n = 1 << z
    cw = 1.0 / n
    out = np.zeros((ts, ts), np.float64)
    for row in range(ts):
        for col in range(ts):
            px = cx * cw + (col + 0.5) * (cw / ts)
            py = cy * cw + (row + 0.5) * (cw / ts)
            acc = wacc = 0.0
            for img, (vx0, vy0, vx1, vy1) in sources:
                if overlap > 0:
                    wx = min(px + overlap, vx1) - max(px - overlap, vx0)
                    wy = min(py + overlap, vy1) - max(py - overlap, vy0)
                    w = max(0.0, min(1.0, wx / (2 * overlap))) * max(
                        0.0, min(1.0, wy / (2 * overlap))
                    )
                else:
                    w = 1.0 if (vx0 <= px < vx1 and vy0 <= py < vy1) else 0.0
                acc += img[row, col] * w
                wacc += w
            if wacc > 0:
                out[row, col] = acc / wacc
            elif nodata is not None:
                out[row, col] = nodata
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


@pytest.mark.parametrize("overlap,nodata", [(0.0, None), (0.02, 7.0)])
def test_blend_matches_scalar_oracle(spark, overlap, nodata):
    cell = int(qcell.pack(3, 2, 5))
    z, cx, cy = 3, 2, 5
    cw = 1.0 / 8
    x0, y0 = cx * cw, cy * cw
    rng = np.random.default_rng(42)
    sources = []
    rows = []
    for sid in range(3):
        img = rng.integers(0, 256, (TS, TS, 1)).astype(np.uint8)
        # valid extents: staggered sub-rects overlapping the cell
        vx0 = x0 + (sid - 0.5) * cw * 0.4
        vy0 = y0 + (sid - 1.0) * cw * 0.3
        vx1, vy1 = vx0 + cw * 0.9, vy0 + cw * 1.1
        sources.append((img[:, :, 0].astype(np.float64), (vx0, vy0, vx1, vy1)))
        rows.append((cell, 0, sid, codecs.encode_raw(img), vx0, vy0, vx1, vy1))
    contribs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["cell", "band", "source_id", "tile", "vx0", "vy0", "vx1", "vy1"])
    )
    got = blend_tiles(contribs, tile_px=TS, overlap=overlap, nodata=nodata).collect()
    assert len(got) == 1
    out = np.frombuffer(got[0]["tile"], np.uint8).reshape(TS, TS)
    exp = _scalar_blend_oracle(cell, sources, TS, overlap, nodata)
    assert int(np.abs(out.astype(int) - exp.astype(int)).max()) <= 1  # rint boundary
    # mask = OR over sources of weight>0
    mask = np.frombuffer(got[0]["mask"], np.uint8).reshape(TS, TS)
    assert set(np.unique(mask)) <= {0, 255}


def test_blend_single_source_identity(spark):
    """Blend of one source with full validity == identity (§5.3)."""
    cell = int(qcell.pack(2, 1, 1))
    img = synth.pattern(TS, TS, 1, 99)
    contribs = spark.createDataFrame(
        pd.DataFrame(
            [(cell, 0, 0, codecs.encode_raw(img), 0.0, 0.0, 1.0, 1.0)],
            columns=["cell", "band", "source_id", "tile", "vx0", "vy0", "vx1", "vy1"],
        )
    )
    got = blend_tiles(contribs, tile_px=TS, overlap=0.0).collect()[0]
    out = np.frombuffer(got["tile"], np.uint8).reshape(TS, TS)
    assert (out == img[:, :, 0]).all()
    assert got["n_sources"] == 1


def test_blend_rejects_bad_dtype(spark):
    with pytest.raises(ValueError, match="solid.cpp"):
        blend_tiles(None, out_dtype="u128")


def test_compatibility_gate():
    ok = pd.DataFrame(
        {"source_id": [0, 1], "res_x": [1.0, 1.00001], "res_y": [1.0, 1.0], "bands": [3, 3]}
    )
    check_compatibility(ok)
    bad = pd.DataFrame(
        {"source_id": [0, 1], "res_x": [1.0, 1.2], "res_y": [1.0, 1.0], "bands": [3, 3]}
    )
    with pytest.raises(ValueError, match="resolution mismatch"):
        check_compatibility(bad)


# ------------------------------------------------------------ rasterize

def _scalar_rasterize_oracle(quads_pdf, depth, tile_px):
    n_units = 1 << depth
    tiles_per_side = max(1, n_units // tile_px)
    full = np.zeros((n_units, n_units), np.uint8)
    # gray first, white wins at overlaps (engine paints sorted by value)
    for want in (GRAY, WHITE):
        for r in quads_pdf.itertuples():
            v = {"white": WHITE, "gray": GRAY, "black": BLACK}[r.value]
            if v != want:
                continue
            s = 1 << (depth - r.level)
            full[r.qy * s : (r.qy + 1) * s, r.qx * s : (r.qx + 1) * s] = v
    return {
        (tx, ty): full[
            ty * tile_px : (ty + 1) * tile_px, tx * tile_px : (tx + 1) * tile_px
        ]
        for tx in range(tiles_per_side)
        for ty in range(tiles_per_side)
    }


@pytest.mark.parametrize("depth", [6, 7])
def test_rasterize_matches_oracle(spark, depth):
    quads_pdf = synth.quads_pdf(depth)
    tile_px = 1 << (depth - 1)  # 4 tiles
    got = rasterize_quads(spark.createDataFrame(quads_pdf), depth, tile_px).collect()
    exp = _scalar_rasterize_oracle(quads_pdf, depth, tile_px)
    got_map = {
        (r["tx"], r["ty"]): np.frombuffer(r["tile"], np.uint8).reshape(r["ts"], r["ts"])
        for r in got
    }
    # engine emits only tiles touched by nonblack quads; others are zeros
    for key, e in exp.items():
        g = got_map.get(key, np.zeros_like(e))
        assert (g == e).all(), f"tile {key}"


def test_vectorize_roundtrip(spark, tmp_path):
    depth = 6
    tile_px = 1 << depth
    quads_pdf = synth.quads_pdf(depth)
    tiles = rasterize_quads(spark.createDataFrame(quads_pdf), depth, tile_px)
    quads2 = vectorize_tiles(tiles, depth, tile_px)
    tiles2 = rasterize_quads(
        quads2.filter("value != 'black'"), depth, tile_px
    ).collect()
    exp = _scalar_rasterize_oracle(quads_pdf, depth, tile_px)
    for r in tiles2:
        g = np.frombuffer(r["tile"], np.uint8).reshape(r["ts"], r["ts"])
        assert (g == exp[(r["tx"], r["ty"])]).all()
    # maximality: no 4 uniform siblings with equal value
    qp = quads2.toPandas()
    key = {(r.level, r.qx, r.qy): r.value for r in qp.itertuples()}
    for (lv, qx, qy), v in key.items():
        sibs = [(lv, qx ^ 1, qy), (lv, qx, qy ^ 1), (lv, qx ^ 1, qy ^ 1)]
        if all(key.get(s) == v for s in sibs) and (qx & 1 == 0) and (qy & 1 == 0):
            raise AssertionError(f"non-maximal quad at {(lv, qx, qy)}")


# -------------------------------------------------------------- pyramid

def test_pyramid_mean_rollup(spark):
    ts = 32
    rng = np.random.default_rng(4)
    rows = []
    fulls = {}
    for cx in range(2):
        for cy in range(2):
            img = rng.integers(0, 256, (ts, ts)).astype(np.uint8)
            fulls[(cx, cy)] = img
            rows.append((int(qcell.pack(4, 8 + cx, 2 + cy)), 0, img.tobytes(), ts))
    tiles = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "band", "tile", "ts"]))
    levels = build_pyramid(tiles, from_level=4, to_level=3)
    got = levels[3].collect()
    assert len(got) == 1
    out = np.frombuffer(got[0]["tile"], np.uint8).reshape(ts, ts)
    assert got[0]["cell"] == int(qcell.pack(3, 4, 1))
    half = ts // 2
    for (cx, cy), img in fulls.items():
        small = img.reshape(half, 2, half, 2).astype(np.float64).mean(axis=(1, 3))
        exp = np.rint(small).clip(0, 255).astype(np.uint8)
        quad = out[cy * half : (cy + 1) * half, cx * half : (cx + 1) * half]
        assert (quad == exp).all()


def test_pyramid_mode_rollup_matches_scalar_oracle(spark):
    """Categorical (mode) overview: each parent pixel is the majority
    of its exact 2×2 child block, ties → LOWEST value (GDAL's
    BuildOverviews mode rule). 4-class random tiles make 2-2 ties
    common, so the tie-break is genuinely exercised."""
    ts = 16
    rng = np.random.default_rng(11)
    rows, fulls = [], {}
    for cx in range(2):
        for cy in range(2):
            img = (rng.integers(0, 4, (ts, ts)) * 50).astype(np.uint8)
            fulls[(cx, cy)] = img
            rows.append((int(qcell.pack(4, 2 + cx, 6 + cy)), 0, img.tobytes(), ts))
    tiles = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "band", "tile", "ts"]))
    got = rollup_tiles_one_level(tiles, agg="mode").collect()
    assert len(got) == 1
    assert got[0]["cell"] == int(qcell.pack(3, 1, 3))
    out = np.frombuffer(got[0]["tile"], np.uint8).reshape(ts, ts)
    half = ts // 2
    saw_tie = False
    for (cx, cy), img in fulls.items():
        exp = np.zeros((half, half), np.uint8)
        for oy in range(half):
            for ox in range(half):
                block = img[2 * oy : 2 * oy + 2, 2 * ox : 2 * ox + 2].ravel()
                vals, cnts = np.unique(block, return_counts=True)
                m = cnts.max()
                if (cnts == m).sum() > 1:
                    saw_tie = True
                exp[oy, ox] = vals[cnts == m].min()
        quad = out[cy * half : (cy + 1) * half, cx * half : (cx + 1) * half]
        assert (quad == exp).all()
    assert saw_tie  # the fixture must exercise the tie-break rule


def test_update_pyramid_matches_full_rebuild(spark):
    """Incremental overview maintenance == full rebuild, byte-identical
    at every level: replace 3 leaf tiles AND add one brand-new cell
    (whose z3/z2 ancestors don't exist in the old pyramid), then
    compare update_pyramid against build_pyramid over the merged
    leaves."""
    ts = 16
    rng = np.random.default_rng(23)

    def mk(z, cx, cy):
        img = rng.integers(0, 256, (ts, ts)).astype(np.uint8)
        return (int(qcell.pack(z, cx, cy)), 0, img.tobytes(), ts)

    base_rows = [mk(4, 4 + cx, 8 + cy) for cx in range(4) for cy in range(4)]
    delta_rows = [mk(4, 4, 8), mk(4, 6, 9), mk(4, 7, 11),  # replacements
                  mk(4, 9, 8)]                             # new cell, new ancestors
    cols = ["cell", "band", "tile", "ts"]
    base = spark.createDataFrame(pd.DataFrame(base_rows, columns=cols))
    delta = spark.createDataFrame(pd.DataFrame(delta_rows, columns=cols))

    levels = build_pyramid(base, from_level=4, to_level=2, agg="mean")
    updated = update_pyramid(levels, delta, agg="mean")

    merged_rows = {(r[0], r[1]): r for r in base_rows}
    merged_rows.update({(r[0], r[1]): r for r in delta_rows})
    merged = spark.createDataFrame(
        pd.DataFrame(list(merged_rows.values()), columns=cols))
    full = build_pyramid(merged, from_level=4, to_level=2, agg="mean")

    got_by_level = {}
    for z in (4, 3, 2):
        got = {(r["cell"], r["band"]): bytes(r["tile"]) for r in updated[z].collect()}
        exp = {(r["cell"], r["band"]): bytes(r["tile"]) for r in full[z].collect()}
        assert got == exp, f"level {z} diverged"
        got_by_level[z] = got
    # the new cell's ancestors exist at every level
    assert (int(qcell.pack(3, 4, 4)), 0) in got_by_level[3]
    assert (int(qcell.pack(2, 2, 2)), 0) in got_by_level[2]


def _tiles_by_key(frames):
    """{(cell, band): tile} over the union of pyramid frames (a packed
    cell carries its level, so keys of different levels never clash)."""
    from functools import reduce

    rows = reduce(lambda a, b: a.unionByName(b),
                  [f.select("cell", "band", "tile") for f in frames]).collect()
    out = {(r["cell"], r["band"]): bytes(r["tile"]) for r in rows}
    assert len(out) == len(rows), "a (cell, band) was emitted twice"
    return out


@pytest.mark.parametrize("agg", ["mean", "min", "max", "mode"])
def test_pyramid_deeper_than_one_stride_matches_one_level_chain(spark, agg):
    """Build and update from z=8 to 0 — three chained strides — equal
    the iterated one-level rollup over the merged leaves at every
    level. The delta carries a duplicate row, two brand-new cells (new
    ancestors at every level) and replacements under different stride
    roots; 2 bands."""
    ts, schema = 4, "cell long, band int, tile binary, ts int"
    rng = np.random.default_rng(37)

    def tile():
        return rng.choice(np.array([0, 40, 41, 128, 200, 255], np.uint8), (ts, ts)).tobytes()

    keys = {(int(x), int(y), int(b)) for x, y, b in zip(
        rng.integers(0, 32, 60), rng.integers(0, 32, 60), rng.integers(0, 2, 60))}
    base_rows = [(int(qcell.pack(8, x, y)), b, tile(), ts) for x, y, b in sorted(keys)[:40]]
    old = [base_rows[i] for i in (0, 13, 27, 39)]
    delta_rows = [(c, b, tile(), ts) for c, b, _, _ in old]
    delta_rows.append((old[0][0], old[0][1], tile(), ts))          # duplicate (cell, band)
    delta_rows += [(int(qcell.pack(8, 40, 50)), 0, tile(), ts),    # brand-new cells
                   (int(qcell.pack(8, 200, 3)), 1, tile(), ts)]
    # replacements under more than one z=5 root (the first stride's top)
    assert len({(int(x) >> 3, int(y) >> 3) for _, x, y in (qcell.unpack(c) for c, *_ in old)}) > 1
    resolved = {}
    for c, b, t, s in delta_rows:  # the greatest (ts, tile) version wins
        if (c, b) not in resolved or (s, t) > resolved[c, b][:2]:
            resolved[c, b] = (s, t, c, b)
    merged = {(c, b): (c, b, t, s) for c, b, t, s in base_rows}
    merged.update({k: (c, b, t, s) for k, (s, t, c, b) in resolved.items()})
    merged_rows = list(merged.values())

    expect, cur = {}, spark.createDataFrame(merged_rows, schema)
    expect.update(_tiles_by_key([cur]))
    for _ in range(8):
        cur = spark.createDataFrame(rollup_tiles_one_level(cur, agg).collect(), schema)
        expect.update(_tiles_by_key([cur]))

    built = build_pyramid(spark.createDataFrame(merged_rows, schema), 8, 0, agg)
    assert sorted(built) == list(range(9))
    assert _tiles_by_key(built.values()) == expect

    base = build_pyramid(spark.createDataFrame(base_rows, schema), 8, 0, agg)
    updated = update_pyramid(base, spark.createDataFrame(delta_rows, schema), agg)
    assert sorted(updated) == list(range(9))
    assert _tiles_by_key(updated.values()) == expect


@pytest.mark.parametrize("order", [1, -1])
def test_pyramid_mixed_tile_sizes_under_one_parent_raise(spark, order):
    """Children of one parent with different tile sizes fail with a
    ValueError naming the parent and both sizes, whatever the arrival
    order of the children."""
    rows = [(int(qcell.pack(4, 0, 0)), 0, bytes(64), 8),
            (int(qcell.pack(4, 1, 0)), 0, bytes(16), 4)][::order]
    tiles = spark.createDataFrame(rows, "cell long, band int, tile binary, ts int").coalesce(1)
    pcell = int(qcell.pack(3, 0, 0))
    with pytest.raises(Exception, match=rf"ValueError: pyramid parent cell {pcell} "
                                        r"\(band 0\) has children of tile sizes 4 and 8"):
        build_pyramid(tiles, 4, 3)[3].collect()


def test_tristate_rollup_relational(spark):
    rows = [
        (2, 0, 0, "white"), (2, 1, 0, "white"), (2, 0, 1, "white"), (2, 1, 1, "white"),
        (2, 2, 0, "black"), (2, 3, 0, "black"), (2, 2, 1, "black"), (2, 3, 1, "black"),
        (2, 0, 2, "white"), (2, 1, 2, "black"), (2, 0, 3, "gray"), (2, 1, 3, "white"),
        (2, 2, 2, "white"),  # missing 3 siblings → gray (incomplete)
    ]
    quads = spark.createDataFrame(pd.DataFrame(rows, columns=["level", "qx", "qy", "value"]))
    got = {(r["qx"], r["qy"]): r["value"] for r in rollup_tristate(quads).collect()}
    assert got[(0, 0)] == "white"
    assert got[(1, 0)] == "black"
    assert got[(0, 1)] == "gray"
    assert got[(1, 1)] == "gray"


def test_halo_convolve_matches_whole_image_oracle(spark):
    """Cross-tile 3×3 box-mean via halo join == convolving the stitched
    full image (seam-exact), with edge normalization by in-bounds
    sample count."""
    import numpy as np
    import pandas as pd

    from gdal_drivers_spark.core import qcell
    from gdal_drivers_spark.operators.halo import halo_convolve

    t, nz = 16, 4  # 4x4 tiles of 16px at z=2
    full = np.zeros((nz * t, nz * t), np.uint8)
    rows = []
    for ty in range(nz):
        for tx in range(nz):
            img = ((np.arange(t)[:, None] * 7 + np.arange(t)[None, :] * 11
                    + tx * 31 + ty * 57) % 256).astype(np.uint8)
            full[ty * t : (ty + 1) * t, tx * t : (tx + 1) * t] = img
            rows.append((int(qcell.pack(2, tx, ty)), img.tobytes()))
    tiles = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))
    got = {
        r["cell"]: np.frombuffer(bytes(r["tile"]), np.uint8).reshape(t, t)
        for r in halo_convolve(tiles, tile_px=t).collect()
    }
    assert len(got) == nz * nz

    # whole-image oracle: padded sums + in-bounds counts
    H = W = nz * t
    padv = np.zeros((H + 2, W + 2), np.float64)
    padv[1:-1, 1:-1] = full
    padc = np.zeros((H + 2, W + 2), np.float64)
    padc[1:-1, 1:-1] = 1.0
    acc = np.zeros((H, W)); cnt = np.zeros((H, W))
    for ky in range(3):
        for kx in range(3):
            acc += padv[ky : ky + H, kx : kx + W]
            cnt += padc[ky : ky + H, kx : kx + W]
    exp = np.rint(acc / cnt).astype(np.uint8)
    for ty in range(nz):
        for tx in range(nz):
            g = got[int(qcell.pack(2, tx, ty))]
            e = exp[ty * t : (ty + 1) * t, tx * t : (tx + 1) * t]
            assert (g == e).all(), (tx, ty)


def test_halo_convolve_poison_and_strip_traffic(spark):
    """r03: halo_convolve rides the strip-projected exchange — a
    corrupt neighbor is treated as absent (previously a stage kill),
    and the good tile's result equals the whole-image oracle computed
    with that neighbor missing."""
    import numpy as np
    import pandas as pd

    from gdal_drivers_spark.core import qcell
    from gdal_drivers_spark.operators.halo import halo_convolve

    t = 8
    img = ((np.arange(t)[:, None] * 3 + np.arange(t)[None, :] * 5) % 256).astype(np.uint8)
    rows = [
        (int(qcell.pack(2, 0, 0)), img.tobytes()),
        (int(qcell.pack(2, 1, 0)), b"bad"),   # corrupt east neighbor
        (int(qcell.pack(2, 0, 1)), None),     # NULL south neighbor
    ]
    tiles = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))
    out = {r["cell"]: r for r in halo_convolve(tiles, tile_px=t).collect()}
    # corrupt centers yield FLAGGED rows (empty tile + n_bad); the good
    # tile survives with its 2 bad contributions counted
    assert set(out) == {int(qcell.pack(2, 0, 0)), int(qcell.pack(2, 1, 0)),
                        int(qcell.pack(2, 0, 1))}
    for bad in (int(qcell.pack(2, 1, 0)), int(qcell.pack(2, 0, 1))):
        assert bytes(out[bad]["tile"]) == b"" and out[bad]["n_bad"] >= 1
    assert out[int(qcell.pack(2, 0, 0))]["n_bad"] == 2
    got = {c: np.frombuffer(bytes(r["tile"]), np.uint8).reshape(t, t)
           for c, r in out.items() if r["tile"]}
    padv = np.zeros((t + 2, t + 2)); padv[1:-1, 1:-1] = img
    padc = np.zeros((t + 2, t + 2)); padc[1:-1, 1:-1] = 1.0
    acc = np.zeros((t, t)); cnt = np.zeros((t, t))
    for ky in range(3):
        for kx in range(3):
            acc += padv[ky:ky + t, kx:kx + t]
            cnt += padc[ky:ky + t, kx:kx + t]
    exp = np.rint(acc / cnt).astype(np.uint8)
    assert (got[int(qcell.pack(2, 0, 0))] == exp).all()

def test_halo_convolve_duplicate_cell_deterministic(spark):
    """ADVICE r04: duplicate (dx,dy) contributions (malformed upstream
    union — here a duplicated cell row) resolve by the same
    deterministic rule as dem._assemble_padded: lexicographically-
    smaller payload wins, the duplicate counts in n_bad. Previously
    pandas row order (shuffle-dependent) picked the winner."""
    import numpy as np
    import pandas as pd

    from gdal_drivers_spark.core import qcell
    from gdal_drivers_spark.operators.halo import halo_convolve

    t = 8
    lo = np.full((t, t), 10, np.uint8)   # lexicographically smaller
    hi = np.full((t, t), 200, np.uint8)
    cell = int(qcell.pack(2, 1, 1))
    for order in ([lo, hi], [hi, lo]):
        tiles = spark.createDataFrame(
            pd.DataFrame([(cell, img.tobytes()) for img in order],
                         columns=["cell", "tile"])
        )
        out = {r["cell"]: r for r in halo_convolve(tiles, tile_px=t).collect()}
        r = out[cell]
        # every (dx,dy) offset of the duplicated cell is doubled: the
        # center + however many in-bounds neighbor strips it feeds
        assert r["n_bad"] >= 1
        got = np.frombuffer(bytes(r["tile"]), np.uint8)
        assert (got == 10).all(), "min-payload winner must be deterministic"


def test_update_pyramid_duplicate_delta_rows_resolve_deterministically(spark):
    """A delta carrying two versions of one (cell, band) — e.g. one
    streaming epoch batching several files — must resolve to ONE
    deterministic winner (max (ts, tile)), not a shuffle-order race
    that could put different versions in the leaf and its parent."""
    ts = 8
    base_rows = [(int(qcell.pack(4, 0, 0)), 0, bytes([1] * ts * ts), ts)]
    cols = ["cell", "band", "tile", "ts"]
    base = spark.createDataFrame(pd.DataFrame(base_rows, columns=cols))
    dup = [
        (int(qcell.pack(4, 0, 0)), 0, bytes([7] * ts * ts), ts),
        (int(qcell.pack(4, 0, 0)), 0, bytes([9] * ts * ts), ts),
    ]
    delta = spark.createDataFrame(pd.DataFrame(dup, columns=cols))
    levels = build_pyramid(base, from_level=4, to_level=3)
    for _ in range(3):  # stable across repeated evaluation
        up = update_pyramid(levels, delta, agg="min")
        leaf = {bytes(r["tile"]) for r in up[4].collect()}
        parent = {bytes(r["tile"]) for r in up[3].collect()}
        assert leaf == {bytes([9] * ts * ts)}  # max (ts, tile) wins
        exp_parent = np.zeros((ts, ts), np.uint8)
        exp_parent[: ts // 2, : ts // 2] = 9
        assert parent == {exp_parent.tobytes()}
