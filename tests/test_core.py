"""M0 property suite (SURVEY.md §5.3) — pure-python core; Spark only
where a Column form of the cell codec is checked against it.

Oracles here are deliberately *independent* reimplementations (scalar
loops / closed forms), not calls into the vectorized engine code.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from gdal_drivers_spark.core import codecs, geometry, mvtcodec, qcell
from gdal_drivers_spark.sources import synth


# --------------------------------------------------------------- qcell

@given(st.integers(0, (1 << 26) - 1), st.integers(0, (1 << 26) - 1), st.integers(0, 26))
def test_pack_roundtrip(x, y, z):
    x, y = x % (1 << z) if z else 0, y % (1 << z) if z else 0
    z2, x2, y2 = (int(v) for v in qcell.unpack(qcell.pack(z, x, y)))
    assert (z2, x2, y2) == (z, x, y)


@given(st.integers(0, (1 << 26) - 1), st.integers(0, (1 << 26) - 1))
def test_morton_roundtrip(x, y):
    m = qcell.morton(x, y)
    # independent oracle: bit-by-bit interleave
    exp = 0
    for i in range(26):
        exp |= ((x >> i) & 1) << (2 * i)
        exp |= ((y >> i) & 1) << (2 * i + 1)
    assert int(m) == exp
    mx, my = qcell.unmorton(m)
    assert (int(mx), int(my)) == (x, y)


@given(st.integers(1, 26), st.integers(0, (1 << 26) - 1))
def test_tms_flip_involution(z, y):
    y = y % (1 << z)
    assert int(qcell.tms_flip(z, qcell.tms_flip(z, y))) == y


def test_parent_children():
    c = qcell.pack(7, 88, 33)
    kids = qcell.children(c).ravel()
    assert len(kids) == 4
    for k in kids:
        assert int(qcell.parent(k)) == int(c)


def test_neighbors_ring_sizes():
    # interior cell: ring r has 8r cells
    c = qcell.pack(6, 30, 30)
    for r in (1, 2, 3):
        assert len(qcell.neighbors(c, r)) == 8 * r
    # corner cell: clamped
    assert len(qcell.neighbors(qcell.pack(6, 0, 0), 1)) == 3


def test_cell_of_and_extents_consistency():
    g = qcell.UNIT
    rng = np.random.default_rng(42)
    pts = rng.random((500, 2))
    for z in (0, 3, 8):
        cells = g.cell_of(z, pts[:, 0], pts[:, 1])
        x0, y0, x1, y1 = g.cell_extents(cells)
        assert ((pts[:, 0] >= x0) & (pts[:, 0] <= x1)).all()
        assert ((pts[:, 1] >= y0) & (pts[:, 1] <= y1)).all()


def test_cover_ranges_matches_pointwise():
    g = qcell.UNIT
    z = 5
    n = 1 << z
    rng = np.random.default_rng(7)
    for _ in range(200):
        x0, y0 = rng.random(2) * 0.9
        x1, y1 = x0 + rng.random() * 0.1 + 1e-9, y0 + rng.random() * 0.1 + 1e-9
        cx0, cy0, cx1, cy1 = (int(v) for v in g.cover_ranges(z, x0, y0, x1, y1))
        # oracle: brute-force cells whose extents overlap the half-open bbox
        for cx in range(n):
            lo, hi = cx / n, (cx + 1) / n
            covered = (lo < x1) and (x0 < hi)
            assert (cx0 <= cx <= cx1) == covered, (x0, x1, cx)


@st.composite
def _cell_zxy(draw):
    z = draw(st.integers(0, 26))
    return z, draw(st.integers(0, (1 << z) - 1)), draw(st.integers(0, (1 << z) - 1))


# edges: the root, level 1 and the deepest level, at the 0 and 2^z - 1 bounds
_EDGE_CELLS = {(z, x, y) for z in (0, 1, 26) for x in (0, (1 << z) - 1) for y in (0, (1 << z) - 1)}
_UNIT_PT = st.floats(-0.25, 1.25, allow_nan=False)


@settings(max_examples=4, deadline=None)
@given(st.lists(st.tuples(_cell_zxy(), _UNIT_PT, _UNIT_PT, _UNIT_PT, _UNIT_PT), min_size=1, max_size=40))
def test_column_codec_matches_numpy(spark, sampled):
    """The Spark Column forms of the cell codec agree with the numpy and
    int forms and with ``pack_sql``, in one job: pack (Column and int
    level, and ``pack_int``), unpack, level, every ancestor up to the
    root, and the unit-world cell of a point and cover ranges of a bbox
    at z=8."""
    from pyspark.sql import functions as F

    rows = [(z, x, y, px, py, min(px, qx), min(py, qy), max(px, qx), max(py, qy))
            for (z, x, y), px, py, qx, qy in sampled]
    rows += [(z, x, y, 0.0, 1.0, 0.0, 0.0, 1.0, 1.0) for z, x, y in sorted(_EDGE_CELLS)]
    df = spark.createDataFrame(
        rows, "z long, x long, y long, px double, py double, "
              "x0 double, y0 double, x1 double, y1 double")
    cell = qcell.pack_col(F.col("z"), F.col("x"), F.col("y"))
    uz, ux, uy = qcell.unpack_col("cell")
    cover = qcell.cover_cols(8)
    got = df.withColumn("cell", cell).select(
        "z", "x", "y", "px", "py", "x0", "y0", "x1", "y1", "cell",
        F.expr(qcell.pack_sql("z", "x", "y")).alias("sql"),
        qcell.pack_col(26, F.col("x"), F.col("y")).alias("at26"),
        F.array(uz, ux, uy).alias("zxy"),
        qcell.level_col("cell").alias("level"),
        F.array(*[F.when(F.col("z") >= k, qcell.ancestor_col("cell", k)) for k in range(27)])
        .alias("anc"),
        qcell.cell_of_col(8, "px", "py").alias("of8"),
        F.array(cover["cx0"], cover["cy0"], cover["cx1"], cover["cy1"]).alias("cover8"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        c = int(qcell.pack(r["z"], r["x"], r["y"]))
        assert r["cell"] == r["sql"] == c == qcell.pack_int(r["z"], r["x"], r["y"])
        assert r["at26"] == int(qcell.pack(26, r["x"], r["y"]))
        assert r["zxy"] == [int(v) for v in qcell.unpack(c)] == list(qcell.unpack_int(c))
        assert r["level"] == r["z"]
        want, a = [], c
        for _ in range(r["z"] + 1):
            want.append(a)
            a = int(qcell.parent(a))
        assert r["anc"] == want + [None] * (27 - len(want))
        assert r["of8"] == int(qcell.UNIT.cell_of(8, r["px"], r["py"]))
        assert r["cover8"] == [int(v) for v in qcell.UNIT.cover_ranges(
            8, r["x0"], r["y0"], r["x1"], r["y1"])]


def test_halo_rekeys_match_qcell_neighbors(spark):
    """``with_halo(ring=1)`` and ``with_halo_bands`` share one re-key:
    both emit, per source tile, itself and its in-domain ring-1
    neighbors as targets with the source's offset (dx, dy), the set
    ``qcell.neighbors`` gives — at z=1 and at a z=3 corner, edge and
    interior tile."""
    from gdal_drivers_spark.operators.halo import with_halo, with_halo_bands

    sources = [(1, 1, 0), (3, 7, 7), (3, 0, 3), (3, 4, 5)]  # every domain edge is hit
    tiles = spark.createDataFrame(
        [(int(qcell.pack(*s)), bytes(4)) for s in sources], "cell long, tile binary")
    want = set()
    for z, sx, sy in sources:
        for t in [int(qcell.pack(z, sx, sy))] + qcell.neighbors(qcell.pack(z, sx, sy), 1).tolist():
            _, tx, ty = qcell.unpack_int(t)
            want.add((t, sx - tx, sy - ty))
    assert len(want) == 4 + 4 + 6 + 9  # self and neighbors: z=1, corner, edge, interior
    for out in (with_halo(tiles, ring=1), with_halo_bands(tiles, 2, 1)):
        got = [(r["target_cell"], r["dx"], r["dy"]) for r in out.collect()]
        assert len(got) == len(set(got))
        assert set(got) == want


# -------------------------------------------------------------- codecs

@pytest.mark.parametrize("wh", [(16, 16), (64, 64), (256, 256), (63, 17), (1, 1)])
@pytest.mark.parametrize("c", [1, 3])
def test_codec_roundtrip_lossless(wh, c):
    w, h = wh
    img = synth.pattern(w, h, c, 123456789)
    for fmt in ("raw", "png"):
        buf = codecs.ENCODERS[fmt](img)
        assert codecs.sniff_fmt(buf) == fmt
        out = codecs.decode(buf)
        assert out.shape == (h, w, c)
        assert (out == img).all()


def test_thumb_psnr_gate():
    for p in (0, 12345, 987654321):
        img = synth.pattern(256, 256, 3, p)
        out = codecs.decode(codecs.encode_thumb(img))
        assert codecs.psnr(img, out) >= 40.0


def test_png_unfilter_all_filters():
    # build a PNG by hand with each filter type and check against a
    # reference scalar unfilter
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (8, 8, 3)).astype(np.uint8)
    import struct
    import zlib

    for ftype in (0, 1, 2, 3, 4):
        h, w, c = img.shape
        stride = w * c
        flat = img.reshape(h, stride).astype(np.int32)
        enc_rows = []
        prev = np.zeros(stride, np.int32)
        for r in range(h):
            cur = flat[r]
            line = np.empty(stride, np.int32)
            for i in range(stride):
                a = cur[i - c] if i >= c else 0
                b = prev[i]
                cc = prev[i - c] if i >= c else 0
                if ftype == 0:
                    pred = 0
                elif ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                line[i] = (cur[i] - pred) & 0xFF
            enc_rows.append(bytes([ftype]) + line.astype(np.uint8).tobytes())
            prev = cur
        idat = zlib.compress(b"".join(enc_rows))

        def chunk(tag, payload):
            return struct.pack(">I", len(payload)) + tag + payload + struct.pack(
                ">I", zlib.crc32(tag + payload) & 0xFFFFFFFF
            )

        buf = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )
        assert (codecs.decode_png(buf) == img).all(), f"filter {ftype}"


def test_jpeg_stub_raises():
    with pytest.raises(NotImplementedError):
        codecs.decode_jpeg(b"\xff\xd8\xff\xe0")


# ------------------------------------------------------------ geometry

@given(st.integers(-(10**12), 10**12))
def test_zigzag_roundtrip(v):
    assert int(mvtcodec.unzigzag(mvtcodec.zigzag(v))) == v


def test_grid_snap_idempotent():
    rng = np.random.default_rng(5)
    e = rng.random(4) * np.array([1, 1, 1, 1]) + np.array([0, 0, 1, 1])
    s1 = geometry.snap_extents(*e, 0.0, 0.0, 1 / 128, 1 / 128)
    s2 = geometry.snap_extents(*s1, 0.0, 0.0, 1 / 128, 1 / 128)
    assert np.allclose(s1, s2)


def test_shoelace_and_winding():
    ccw = np.array([[0, 0], [1, 0], [1, 1], [0, 1]], float)
    assert geometry.shoelace_area2(ccw) == 2.0
    assert not geometry.is_clockwise(ccw)
    assert geometry.is_clockwise(ccw[::-1])


def test_pip_square_and_hole():
    outer = np.array([[0, 0], [4, 0], [4, 4], [0, 4]], float)
    hole = np.array([[1, 1], [3, 1], [3, 3], [1, 3]], float)
    px = np.array([2.0, 0.5, 5.0, 2.0])
    py = np.array([0.5, 0.5, 2.0, 2.0])
    inside = geometry.points_in_rings(px, py, [outer, hole])
    assert inside.tolist() == [True, True, False, False]


def test_pip_matches_scalar_oracle_random():
    rng = np.random.default_rng(11)
    ring = rng.random((7, 2)) * 4
    px, py = rng.random(300) * 5 - 0.5, rng.random(300) * 5 - 0.5

    def oracle(qx, qy):
        c = False
        n = len(ring)
        for i in range(n):
            x0, y0 = ring[i]
            x1, y1 = ring[(i + 1) % n]
            if (y0 > qy) != (y1 > qy) and qx < x0 + (qy - y0) / (y1 - y0) * (x1 - x0):
                c = not c
        return c

    got = geometry.points_in_polygon(px, py, ring)
    exp = [oracle(a, b) for a, b in zip(px, py)]
    assert got.tolist() == exp


def test_feather_weight_closed_form():
    # single-source, fully inside, far from edges → weight 1
    w = geometry.feather_weight(0.5, 0.5, 0.0, 0.0, 1.0, 1.0, 0.1, 0.1)
    assert np.allclose(w, 1.0)
    # exactly on the valid edge → half the kernel inside → 0.5
    w = geometry.feather_weight(0.0, 0.5, 0.0, 0.0, 1.0, 1.0, 0.1, 0.1)
    assert np.allclose(w, 0.5)
    # outside by ≥ kernel halfwidth → 0
    w = geometry.feather_weight(-0.2, 0.5, 0.0, 0.0, 1.0, 1.0, 0.1, 0.1)
    assert np.allclose(w, 0.0)
    # ow=0 degrades to hard indicator
    assert geometry.feather_weight(0.5, 0.5, 0, 0, 1, 1, 0.0, 0.0) == 1.0
    assert geometry.feather_weight(1.5, 0.5, 0, 0, 1, 1, 0.0, 0.0) == 0.0


def test_geotransform_roundtrip():
    gt = geometry.gt_from_extents(10.0, 20.0, 42.0, 36.0, 64, 32)
    assert geometry.gt_orthogonal(gt)
    col, row = np.array([0, 10, 63.5]), np.array([0, 5, 31.5])
    x, y = geometry.gt_apply(gt, col, row)
    inv = geometry.gt_invert(gt)
    c2, r2 = geometry.gt_apply(inv, x, y)
    assert np.allclose(c2, col) and np.allclose(r2, row)
    rx, ry = geometry.gt_resolution(gt)
    assert np.isclose(rx, 0.5) and np.isclose(ry, 0.5)


# ------------------------------------------------------------ mvtcodec

def test_geometry_codec_roundtrip():
    pts = np.array([[5, 7], [100, 3], [100, 3]])
    enc = mvtcodec.encode_geometry(mvtcodec.GEOM_POINT, [pts])
    dec = mvtcodec.decode_geometry(mvtcodec.GEOM_POINT, enc)
    assert np.array_equal(np.vstack(dec), pts)

    lines = [np.array([[0, 0], [9, 8], [1, 1]]), np.array([[5, 5], [6, 6]])]
    enc = mvtcodec.encode_geometry(mvtcodec.GEOM_LINESTRING, lines)
    dec = mvtcodec.decode_geometry(mvtcodec.GEOM_LINESTRING, enc)
    assert len(dec) == 2
    for a, b in zip(dec, lines):
        assert np.array_equal(a, b)

    rings = [np.array([[0, 0], [0, 10], [10, 10], [10, 0]])]
    enc = mvtcodec.encode_geometry(mvtcodec.GEOM_POLYGON, rings)
    dec = mvtcodec.decode_geometry(mvtcodec.GEOM_POLYGON, enc)
    assert len(dec) == 1
    assert np.array_equal(dec[0][:-1], rings[0])  # closed on decode
    assert np.array_equal(dec[0][0], dec[0][-1])


def test_polygon_assembly_winding_rule():
    # y-down tile frame: CW exterior has positive shoelace in y-up → use
    # explicit orientation: ext drawn so is_clockwise()=True
    ext1 = np.array([[0, 0], [0, 10], [10, 10], [10, 0]], float)  # CW (y-up)
    hole1 = ext1[::-1] * 0.5 + 2  # CCW
    ext2 = ext1 + 20
    polys = mvtcodec.assemble_polygons([ext1, hole1, ext2])
    assert len(polys) == 2
    assert len(polys[0]) == 2 and len(polys[1]) == 1
    # total ring count preserved (mvt.cpp:378-415)
    assert sum(len(p) for p in polys) == 3


def test_trafo_tile_to_world():
    parts = [np.array([[0, 0], [4096, 4096]], float)]
    out = mvtcodec.tile_to_world(parts, z=1, tx=1, ty=0, extent=4096)
    # tile (1,0) at z=1 covers x∈[0.5,1], y∈[0.5,1]; tile y grows down
    assert np.allclose(out[0][0], [0.5, 1.0])
    assert np.allclose(out[0][1], [1.0, 0.5])


# --------------------------------------------------------------- synth

def test_images_deterministic_and_decodable(spark):
    """An images_df row is a function of its id alone: the same ids give
    the same rows at 1 and 3 partitions, every 7th id gives the rows a
    dense range has for those ids, and each payload decodes to its
    pattern."""
    from pyspark.sql import functions as F

    def rows(ids):
        return sorted(synth.images_df(ids).collect())

    assert rows(spark.range(0, 24, 1, 1)) == rows(spark.range(0, 24, 1, 3))
    sparse = rows(spark.range(0, 24, 1, 3).select((F.col("id") * 7).alias("id")))
    assert sparse == rows(spark.range(0, 24 * 7, 1, 1).filter(F.col("id") % 7 == 0))
    assert len(sparse) == 24
    for r in sparse:
        i = int(r["image_id"][3:])
        assert i % 7 == 0 and r["phash"] == int(synth.phash_of(i))
        img = codecs.decode(bytes(r["bytes"]))
        assert img.shape == (r["h"], r["w"], 3)
        ref = synth.pattern(r["w"], r["h"], 3, r["phash"])
        if r["fmt"] in codecs.LOSSLESS:
            assert (img == ref).all()
        else:
            assert codecs.psnr(ref, img) >= 40.0
        assert r["caption"].startswith(f"caption {i} ")


def test_footprints_in_world():
    ph = synth.phash_of(np.arange(1000))
    x0, y0, x1, y1 = synth.footprint_of(ph)
    assert (x0 >= 0).all() and (y0 >= 0).all()
    assert (x1 <= 1.0 + 1e-12).all() and (y1 <= 1.0 + 1e-12).all()
    assert (x1 > x0).all() and (y1 > y0).all()


def test_ini_roundtrip_edge_cases():
    """Review r02: single-element lists survive the round trip (trailing
    comma), and comma-containing string values are rejected at render
    time instead of silently coming back as lists."""
    import pytest as _pytest

    from gdal_drivers_spark.engine import from_ini, to_ini

    cfg = {"bands": [5], "sizes": [1, 2], "nodata": 0.5, "name": "plain"}
    parsed = from_ini(to_ini(cfg, section="s"))["s"]
    assert parsed["bands"] == [5]
    assert parsed["sizes"] == [1, 2]
    assert parsed["nodata"] == 0.5 and parsed["name"] == "plain"
    with _pytest.raises(ValueError, match="comma"):
        to_ini({"name": "a,b"})
    with _pytest.raises(ValueError, match="malformed"):
        from_ini("[s]\nnot an assignment")
    # review r03: commas hiding INSIDE list elements are just as
    # non-representable as comma-containing string scalars
    with _pytest.raises(ValueError, match="list element"):
        to_ini({"a": ["x,y", "z"]})
    # strict numeric coercion: Python float() accepts these, the
    # round-trip parser must NOT (they were written as strings)
    parsed = from_ini("[s]\na = nan\nb = inf\nc = Infinity\nd = 1_0\ne = -3\nf = 5e3\n")["s"]
    assert parsed["a"] == "nan" and parsed["b"] == "inf"
    assert parsed["c"] == "Infinity" and parsed["d"] == "1_0"
    assert parsed["e"] == -3 and parsed["f"] == 5e3
