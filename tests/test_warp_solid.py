"""Warp resample, solid constant raster, mask file codec, halo join,
operator compositions — parity vs scalar oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from gdal_drivers_spark.core import codecs, maskfile, qcell
from gdal_drivers_spark.engine import to_ini
from gdal_drivers_spark.operators.halo import with_halo
from gdal_drivers_spark.operators.solid import (
    constant_tile,
    overview_sizes,
    schema_copy,
    solid_tiles,
)
from gdal_drivers_spark.operators.warp import warp_tiles
from gdal_drivers_spark.core.geometry import gt_from_extents
from gdal_drivers_spark.sources import synth

TS = 64


def _src_tiles_df(spark, full: np.ndarray, ts: int):
    h, w = full.shape
    rows = []
    for ty in range(h // ts):
        for tx in range(w // ts):
            img = full[ty * ts : (ty + 1) * ts, tx * ts : (tx + 1) * ts]
            rows.append((tx, ty, codecs.encode_raw(img[:, :, None].astype(np.uint8))))
    return spark.createDataFrame(pd.DataFrame(rows, columns=["scx", "scy", "tile"]))


def test_warp_identity_nearest(spark):
    """Identity transform → output == input."""
    rng = np.random.default_rng(42)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    gt = gt_from_extents(0, 0, 1, 1, 128, 128)
    out = warp_tiles(src, gt, gt, (128, 128), tile_px=TS, method="nearest").collect()
    assert len(out) == 4
    for r in out:
        tile = np.frombuffer(r["tile"], np.uint8).reshape(TS, TS)
        exp = full[r["ocy"] * TS : (r["ocy"] + 1) * TS, r["ocx"] * TS : (r["ocx"] + 1) * TS]
        assert (tile == exp).all()


def test_warp_2x_downsample_matches_oracle(spark):
    """Destination grid at half resolution, nearest: scalar oracle."""
    rng = np.random.default_rng(7)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    src_gt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dst_gt = gt_from_extents(0, 0, 1, 1, 64, 64)
    out = warp_tiles(src, src_gt, dst_gt, (64, 64), tile_px=TS, method="nearest").collect()
    assert len(out) == 1
    tile = np.frombuffer(out[0]["tile"], np.uint8).reshape(TS, TS)
    # oracle: per destination pixel center → world → source pixel floor
    exp = np.zeros((64, 64), np.uint8)
    for r in range(64):
        for c in range(64):
            wx = (c + 0.5) / 64
            wy = 1 - (r + 0.5) / 64  # north-up gt: y decreases with row
            scol = wx * 128
            srow = (1 - wy) * 128
            exp[r, c] = full[min(int(srow), 127), min(int(scol), 127)]
    assert (tile == exp).all()


def test_warp_bilinear_smooths(spark):
    full = np.zeros((128, 128), np.uint8)
    full[:, 64:] = 200
    src = _src_tiles_df(spark, full, TS)
    src_gt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dst_gt = gt_from_extents(0, 0, 1, 1, 128, 128)
    out = {(r["ocx"], r["ocy"]): np.frombuffer(r["tile"], np.uint8).reshape(TS, TS)
           for r in warp_tiles(src, src_gt, dst_gt, (128, 128), tile_px=TS, method="bilinear").collect()}
    row = np.hstack([out[(0, 0)], out[(1, 0)]])[10]
    # a bilinear resample at identity grid keeps the step but the
    # boundary column blends the two tiles' pixels (cross-tile halo!)
    assert row[0] == 0 and row[-1] == 200
    assert (np.diff(row.astype(int)) >= 0).all()


def test_warp_rejects_rotation(spark):
    gt = np.array([0, 1, 0.1, 0, 0, -1])
    with pytest.raises(ValueError, match="orthogonal"):
        warp_tiles(None, gt, gt, (64, 64))


# ---------------------------------------------------------------- solid

def test_solid_tiles_bitexact(spark):
    df = solid_tiles(spark, 512, 300, [(7, "u8"), (1000.5, "f32")], tile_px=128)
    rows = df.collect()
    # 4×3 tiles × 2 bands
    assert len(rows) == 4 * 3 * 2
    for r in rows:
        if r["dtype"] == "u8":
            assert bytes(r["tile"]) == constant_tile(7, "u8", 128)
        else:
            assert bytes(r["tile"]) == constant_tile(1000.5, "f32", 128)


def test_solid_dtype_domain():
    with pytest.raises(ValueError, match="solid.cpp"):
        constant_tile(1, "u128")


def test_overview_chain():
    sizes = overview_sizes(2048, 1024, 256)
    assert sizes[0] == (1024, 512)
    assert sizes[-1][0] <= 256 and sizes[-1][1] <= 256


def test_schema_copy(spark):
    df = solid_tiles(spark, 256, 256, [(5, "u8", "gray"), (6, "i32")])
    cfg = schema_copy(df, value=9)
    # colorinterp copied per band (solid.cpp:318-321); default undefined
    assert cfg["bands"] == [(9, "u8", "gray"), (9, "i32", "undefined")]
    assert cfg["tile_px"] == 256
    # COLOR creation options (solid.cpp:286-300): per-band values in
    # band order, missing entries fall back, extras ignored
    cfg2 = schema_copy(df, value=9, colors=[3.5])
    assert cfg2["bands"] == [(3.5, "u8", "gray"), (9, "i32", "undefined")]
    # colorinterp-free source frames still copy (legacy schema)
    cfg3 = schema_copy(df.drop("colorinterp"), value=1)
    assert cfg3["bands"] == [(1, "u8", "undefined"), (1, "i32", "undefined")]
    with pytest.raises(ValueError, match="colorinterp"):
        solid_tiles(spark, 64, 64, [(1, "u8", "notacolor")])


# ------------------------------------------------------------- maskfile

def test_maskfile_roundtrip():
    quads = synth.quads_pdf(6)
    rows = quads[["level", "qx", "qy", "value"]].itertuples(index=False)
    buf = maskfile.write_mask(rows, 6, (0.0, 0.0, 1.0, 1.0))
    assert maskfile.probe(buf)
    assert not maskfile.probe(b"GARBAGE!")
    q2, depth, extents, srs = maskfile.read_mask(buf)
    assert depth == 6
    assert extents == (0.0, 0.0, 1.0, 1.0)
    a = quads.sort_values(["level", "qx", "qy"]).reset_index(drop=True)
    b = pd.DataFrame(q2).sort_values(["level", "qx", "qy"]).reset_index(drop=True)
    assert (a["value"].values == b["value"].values).all()
    assert (a["qx"].values == b["qx"].values).all()
    assert (a["size"].values == b["size"].values).all()


def test_maskfile_square_up():
    x0, y0, x1, y1 = maskfile.square_up(0, 0, 2.0, 1.0, 4)
    assert (x1 - x0) == (y1 - y0) == 2.0


# ----------------------------------------------------------------- halo

def test_halo_join_fanout(spark):
    cells = [qcell.pack(3, x, y) for x in range(3) for y in range(3)]
    df = spark.createDataFrame(pd.DataFrame({"cell": [int(c) for c in cells]}))
    h = with_halo(df, ring=1)
    rows = h.collect()
    # corner target (0,0) receives 4 contributors; center (1,1) gets 9
    by_target = {}
    for r in rows:
        by_target.setdefault(r["target_cell"], []).append((r["dx"], r["dy"]))
    assert len(by_target[int(qcell.pack(3, 0, 0))]) == 4
    assert len(by_target[int(qcell.pack(3, 1, 1))]) == 9
    # offsets are contributor-relative-to-target
    assert (0, 0) in by_target[int(qcell.pack(3, 1, 1))]


# ------------------------------------------------------- compositions

def test_engine_fluent_pipeline(spark):
    from gdal_drivers_spark.operators.assign import assign_tiles
    from gdal_drivers_spark.plans.skew import cell_census

    assigned = assign_tiles(synth.images_df(spark.range(0, 64, 1, 8)), z=5)
    census = cell_census(assigned).collect()
    assert sum(r["count"] for r in census) == assigned.count()
    ini = to_ini({"z": 5, "bands": [1, 2]})
    assert "[job]" in ini and "z = 5" in ini


def test_engine_image_pipeline_ops(spark):
    """features / resize / phash near-dups compose over one image set."""
    from gdal_drivers_spark.operators.dedup import phash_near_dup
    from gdal_drivers_spark.operators.multimodal import image_features, resize_images

    imgs = synth.images_df(spark.range(0, 32, 1, 8))
    feats = image_features(imgs, bins=16).collect()
    assert len(feats) == 32
    # histogram mass = pixels × channels (feat is channel-concatenated)
    assert all(
        sum(r["feat"]) == r["n_pixels"] * (len(r["feat"]) // 16) for r in feats
    )
    small = resize_images(imgs, 8, 8)
    got = small.select("w", "h").distinct().collect()
    assert [(r["w"], r["h"]) for r in got] == [(8, 8)]
    pairs = phash_near_dup(imgs)  # splitmix phashes: no near pairs expected
    assert pairs.count() == 0  # exactness proven in test_pipeline_ops/oracle


def test_engine_embeddings_facade(spark):
    """Exact / cosine / IVF top-k all rank the query's own vector first
    when it queries its own corpus."""
    from gdal_drivers_spark.operators.similarity import (
        brute_topk, cosine_topk, ivf_topk, ivf_train,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    corpus = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qvec")
    )
    cents = ivf_train(corpus, n_lists=8, iters=0)
    for out in (brute_topk(qs, corpus, k=3), cosine_topk(qs, corpus, k=3),
                ivf_topk(qs, corpus, cents, k=3)):
        rank1 = {r["qid"]: r["cid"] for r in out.collect() if r["rank"] == 1}
        assert len(rank1) == 5 and all(rank1[q] == q for q in rank1)


def test_engine_solid_and_blend(spark):
    tiles = solid_tiles(spark, 128, 128, [(42, "u8")], tile_px=64)
    assert tiles.count() == 4


def test_warp_cover_is_distributed_no_localtablescan(spark):
    """VERDICT r01 #4 done-criterion: the output-tile⇄source-tile cover
    table is generated with Column arithmetic (spark.range + explode),
    not a driver-materialized LocalTableScan — so a 10⁶-output-tile
    warp stays O(1) on the driver. Asserted on a 64×64-output-tile
    (4096 tiles) plan without executing the full job."""
    src = spark.createDataFrame(
        pd.DataFrame({"scx": [0], "scy": [0],
                      "tile": [codecs.encode_raw(np.zeros((8, 8, 1), np.uint8))]})
    )
    gt = gt_from_extents(0, 0, 1, 1, 64 * 8, 64 * 8)
    out = warp_tiles(src, gt, gt, (64 * 8, 64 * 8), tile_px=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the only LocalTableScan is the src fixture itself; the cover
    # side is a Range → codegen explode, nothing driver-materialized
    assert plan.count("LocalTableScan") == 1, plan
    assert "Range (0, 4096" in plan
    # and the degenerate single-source case still computes correctly:
    # tile (0,0) plus its ±1-pixel-slop neighbors (the bilinear halo
    # slop the driver-loop version also emitted), nothing else
    got = out.collect()
    assert {(r["ocx"], r["ocy"]) for r in got} == {(0, 0), (1, 0), (0, 1), (1, 1)}


def test_warp_empty_cover_returns_no_rows(spark):
    """Destination entirely outside source coverage → empty result,
    not an error (mbtiles.cpp:188-192 missing-tile semantics)."""
    src = spark.createDataFrame(
        pd.DataFrame({"scx": [0], "scy": [0],
                      "tile": [codecs.encode_raw(np.zeros((8, 8, 1), np.uint8))]})
    )
    sgt = gt_from_extents(0, 0, 1, 1, 8, 8)
    dgt = gt_from_extents(100, 100, 101, 101, 8, 8)
    assert warp_tiles(src, sgt, dgt, (8, 8), tile_px=8).count() == 0


def test_warp_user_registered_transform(spark):
    """core/srs.register_transform: a user-supplied axis-separable pair
    (here a pure 10× scale 'SRS') drives the full cross-SRS warp —
    cover generation through the Column form, the gather through the
    numpy form."""
    from pyspark.sql import functions as F

    from gdal_drivers_spark.core.srs import AxisTransform, register_transform

    register_transform(AxisTransform(
        "TEST:10x", "TEST:1x",
        np_x=lambda x: x / 10.0, np_y=lambda y: y / 10.0,
        col_x=lambda c: c / F.lit(10.0), col_y=lambda c: c / F.lit(10.0),
    ))
    rng = np.random.default_rng(11)
    full = rng.integers(0, 256, (64, 64)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    sgt = gt_from_extents(0, 0, 1, 1, 64, 64)          # TEST:1x world
    dgt = gt_from_extents(0, 0, 10, 10, 64, 64)        # TEST:10x world
    out = warp_tiles(src, sgt, dgt, (64, 64), tile_px=TS, method="nearest",
                     src_srs="TEST:1x", dst_srs="TEST:10x").collect()
    tile = {(r["ocx"], r["ocy"]): np.frombuffer(r["tile"], np.uint8).reshape(TS, TS)
            for r in out}
    got = np.block([[tile[(0, 0)]], ])
    # 10× world ÷10 transform = identity on pixels
    assert (got == full[:TS, :TS]).all()


# ------------------------------------------------------- UTM / UPS (r03)

def test_utm_roundtrip_and_anchors():
    """Ellipsoidal transverse Mercator (Snyder series): round-trip to
    <1e-8 deg across a zone; E=500000 exactly on the central meridian;
    the published WGS84 meridian-arc value to 45° (4 984 944.378 m)
    reproduced sub-mm through N/k0."""
    from gdal_drivers_spark.core import srs

    lon = np.linspace(12.01, 17.99, 23)
    lat = np.linspace(-79.0, 79.0, 31)
    LO, LA = np.meshgrid(lon, lat)
    E, N = srs.tm_forward(LO, LA, 15.0, 0.0)
    lo2, la2 = srs.tm_inverse(E, N, 15.0, 0.0)
    assert abs(lo2 - LO).max() < 1e-8 and abs(la2 - LA).max() < 1e-8
    E0, N0 = srs.tm_forward(np.array([15.0]), np.array([45.0]), 15.0, 0.0)
    assert E0[0] == 500000.0
    assert abs(N0[0] / srs.K0_UTM - 4984944.378) < 1e-3
    # south zone: false northing 10^7
    _, Ns = srs.tm_forward(np.array([15.0]), np.array([-0.001]), 15.0, 1e7)
    assert 0 < 1e7 - Ns[0] < 200


def test_ups_north_epsg_worked_example():
    """EPSG Guidance Note 7-2 UPS North worked example: 73N 44E →
    E 3320416.75, N 632668.43 (published to cm)."""
    from gdal_drivers_spark.core import srs

    X, Y = srs.ups_north_forward(np.array([44.0]), np.array([73.0]))
    assert abs(X[0] - 3320416.75) < 0.01 and abs(Y[0] - 632668.43) < 0.01
    lo, la = srs.ups_north_inverse(X, Y)
    assert abs(lo[0] - 44.0) < 1e-9 and abs(la[0] - 73.0) < 1e-9


def test_get_transform_utm_codes_and_composition():
    """EPSG:326zz/327zz resolve dynamically both directions; unknown
    codes still raise; UTM→WebMercator composes through EPSG:4326."""
    from gdal_drivers_spark.core import srs

    tf = srs.get_transform("EPSG:4326", "EPSG:32633")
    x, y = tf.np_xy(np.array([15.0]), np.array([45.0]))
    assert x[0] == 500000.0
    inv = srs.get_transform("EPSG:32633", "EPSG:4326")
    lo, la = inv.np_xy(x, y)
    # series-truncation round-trip: ~1e-9 deg (sub-mm on the ground)
    assert abs(lo[0] - 15.0) < 1e-8 and abs(la[0] - 45.0) < 1e-8
    comp = srs.get_transform("EPSG:32633", "EPSG:3857")
    mx, my = comp.np_xy(np.array([500000.0]), np.array([y[0]]))
    # reference: 4326→3857 of (15, 45)
    ref = srs.get_transform("EPSG:4326", "EPSG:3857")
    # mm-level: the UTM inverse's series truncation (~1e-9 deg)
    # propagates through the Mercator forward
    assert abs(mx[0] - ref.np_x(np.array([15.0]))[0]) < 1e-3
    assert abs(my[0] - ref.np_y(np.array([45.0]))[0]) < 1e-3
    with pytest.raises(ValueError, match="no transform"):
        srs.get_transform("EPSG:32661", "EPSG:99999")
    with pytest.raises(ValueError, match="no transform"):
        srs.get_transform("EPSG:4326", "EPSG:32600")  # zone 0 invalid


def _warp_oracle_nearest(full, tf_np, sgt, dgt, dst_shape, nodata=0.0):
    """Scalar reference for the plane-transform warp: every dst pixel
    center → world → src world → src pixel, nearest, nodata outside."""
    from gdal_drivers_spark.core.geometry import gt_invert

    igt = gt_invert(np.asarray(sgt, np.float64))
    H, W = dst_shape
    out = np.zeros((H, W), np.uint8)
    cols = np.arange(W) + 0.5
    rows = np.arange(H) + 0.5
    WX, WY = np.meshgrid(dgt[0] + cols * dgt[1], dgt[3] + rows * dgt[5])
    sx, sy = tf_np(WX, WY)
    SC = igt[0] + sx * igt[1]
    SR = igt[3] + sy * igt[5]
    h, w = full.shape
    xi = np.floor(SC).astype(np.int64)
    yi = np.floor(SR).astype(np.int64)
    inside = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
    out[inside] = full[yi[inside].clip(0, h - 1), xi[inside].clip(0, w - 1)]
    out[~inside] = nodata
    return out


def test_warp_utm_to_geographic_matches_oracle(spark):
    """The PlaneTransform warp path: a raster on a UTM 33N grid warped
    to EPSG:4326, every output pixel equal to the scalar oracle —
    including tile seams, which proves the 3×3 boundary-sampled source
    bbox captured every contributing source tile."""
    from gdal_drivers_spark.core import srs
    from gdal_drivers_spark.core.geometry import gt_from_extents

    rng = np.random.default_rng(33)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    # src: UTM 33N window 300-700 km E, 4.4-5.4 Mm N
    sgt = gt_from_extents(300000, 4400000, 700000, 5400000, 128, 128)
    # dst: lon 12-18, lat 40-48
    dgt = gt_from_extents(12.0, 40.0, 18.0, 48.0, 128, 128)
    tf = srs.get_transform("EPSG:4326", "EPSG:32633")  # dst world → src world
    exp = _warp_oracle_nearest(full, tf.np_xy, sgt, dgt, (128, 128))
    got = np.zeros_like(exp)
    for r in warp_tiles(src, sgt, dgt, (128, 128), tile_px=TS, method="nearest",
                        src_srs="EPSG:32633", dst_srs="EPSG:4326").collect():
        t = np.frombuffer(r["tile"], np.uint8).reshape(TS, TS)
        got[r["ocy"] * TS:(r["ocy"] + 1) * TS, r["ocx"] * TS:(r["ocx"] + 1) * TS] = t
    assert (got == exp).all(), int((got != exp).sum())


def test_warp_utm_to_webmercator_composed(spark):
    """UTM→3857 — the most common real reference-warp() pair — runs
    through the automatic composition via EPSG:4326 and matches the
    scalar oracle using the same composed transform."""
    from gdal_drivers_spark.core import srs
    from gdal_drivers_spark.core.geometry import gt_from_extents

    rng = np.random.default_rng(34)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    sgt = gt_from_extents(300000, 4400000, 700000, 5400000, 128, 128)
    # dst: the same area in WebMercator meters (lon 12-18, lat 40-48)
    g2m = srs.get_transform("EPSG:4326", "EPSG:3857")
    x0, x1 = float(g2m.np_x(np.array([12.0]))[0]), float(g2m.np_x(np.array([18.0]))[0])
    y0, y1 = float(g2m.np_y(np.array([40.0]))[0]), float(g2m.np_y(np.array([48.0]))[0])
    dgt = gt_from_extents(x0, y0, x1, y1, 128, 128)
    tf = srs.get_transform("EPSG:3857", "EPSG:32633")
    exp = _warp_oracle_nearest(full, tf.np_xy, sgt, dgt, (128, 128))
    got = np.zeros_like(exp)
    for r in warp_tiles(src, sgt, dgt, (128, 128), tile_px=TS, method="nearest",
                        src_srs="EPSG:32633", dst_srs="EPSG:3857").collect():
        t = np.frombuffer(r["tile"], np.uint8).reshape(TS, TS)
        got[r["ocy"] * TS:(r["ocy"] + 1) * TS, r["ocx"] * TS:(r["ocx"] + 1) * TS] = t
    assert (got == exp).all(), int((got != exp).sum())


def test_engine_tileset_dem_zonal_verbs(spark):
    """r03: hillshade / horn_gradients / halo_convolve /
    with_halo_bands / zonal_stats over one small tile set."""
    from gdal_drivers_spark.core import qcell
    from gdal_drivers_spark.operators.dem import hillshade, hillshade_np, horn_gradients
    from gdal_drivers_spark.operators.halo import halo_convolve, with_halo_bands
    from gdal_drivers_spark.operators.zonal import zonal_stats

    t = 8
    rng = np.random.default_rng(21)
    img = rng.integers(0, 256, (t, t), dtype=np.uint8)
    tiles = spark.createDataFrame(
        pd.DataFrame([(int(qcell.pack(2, 0, 0)), img.tobytes())],
                     columns=["cell", "tile"])
    )
    hs = hillshade(tiles, t).collect()
    assert (np.frombuffer(bytes(hs[0]["tile"]), np.uint8).reshape(t, t)
            == hillshade_np(img)).all()
    assert horn_gradients(tiles, t).collect()[0]["n_px"] == t * t
    assert len(halo_convolve(tiles, t).collect()) == 1
    assert with_halo_bands(tiles, t, 1).count() == 4  # self + 3 in-bounds neighbors
    # zonal goes through the codec registry (magic sniff) — encoded
    # payloads, unlike the DEM ops' raw elevation bytes
    enc = spark.createDataFrame(
        pd.DataFrame([(int(qcell.pack(2, 0, 0)),
                       codecs.encode_raw(img[:, :, None]))],
                     columns=["cell", "tile"])
    )
    zones = spark.createDataFrame(
        pd.DataFrame([(int(qcell.pack(2, 0, 0)), "za")], columns=["cell", "zone"])
    )
    z = zonal_stats(enc, zones).collect()
    assert z[0]["zone"] == "za" and z[0]["n_px"] == t * t


def test_lcc2sp_anchors_and_lambert93(spark):
    """Lambert conformal conic 2SP (r03): the EPSG GN7-2 worked example
    (Clarke 1866, US survey feet, Texas South Central) reproduces to
    <0.01 ft; Lambert-93 (EPSG:2154, pre-registered) has its exact
    false origin, unit scale ON both standard parallels, k<1 between /
    k>1 outside, sub-1e-9-deg round-trip, and composes to WebMercator."""
    from gdal_drivers_spark.core import srs

    # EPSG worked example: phi 28.5N, lam 96W -> E 2963503.91, N 254759.80
    Ctx = srs.lcc2sp_constants(28 + 23 / 60, 30 + 17 / 60, 27 + 50 / 60,
                               -99.0, 2000000.0, 0.0,
                               a=20925832.16, f=1 / 294.97870)
    xe, ye = srs.lcc2sp_forward(np.array([-96.0]), np.array([28.5]), Ctx)
    assert abs(xe[0] - 2963503.91) < 0.01 and abs(ye[0] - 254759.80) < 0.01

    C = srs.LCC_EPSG_2154
    x0, y0 = srs.lcc2sp_forward(np.array([3.0]), np.array([46.5]), C)
    assert x0[0] == 700000.0 and abs(y0[0] - 6600000.0) < 1e-6
    lon = np.linspace(-4.5, 8.0, 15)
    lat = np.linspace(41.5, 51.0, 16)
    LO, LA = np.meshgrid(lon, lat)
    X, Y = srs.lcc2sp_forward(LO, LA, C)
    lo2, la2 = srs.lcc2sp_inverse(X, Y, C)
    assert abs(lo2 - LO).max() < 1e-9 and abs(la2 - LA).max() < 1e-8

    import math as _math

    def k(lat_d):
        a, _ = srs.lcc2sp_forward(np.array([3.0]), np.array([lat_d]), C)
        b, _ = srs.lcc2sp_forward(np.array([3.0001]), np.array([lat_d]), C)
        mm = _math.cos(_math.radians(lat_d)) / _math.sqrt(
            1 - C["e"] ** 2 * _math.sin(_math.radians(lat_d)) ** 2)
        return (b[0] - a[0]) / (0.0001 * srs._D2R * C["a"] * mm)

    assert abs(k(44.0) - 1) < 1e-9 and abs(k(49.0) - 1) < 1e-9
    assert k(46.5) < 1 < k(41.0)

    # registered both ways + composition through 4326
    tf = srs.get_transform("EPSG:4326", "EPSG:2154")
    xx, yy = tf.np_xy(np.array([3.0]), np.array([46.5]))
    assert xx[0] == 700000.0
    comp = srs.get_transform("EPSG:2154", "EPSG:3857")
    mx, _ = comp.np_xy(np.array([700000.0]), np.array([6600000.0]))
    ref = srs.get_transform("EPSG:4326", "EPSG:3857")
    assert abs(mx[0] - ref.np_x(np.array([3.0]))[0]) < 1e-3


def test_warp_lambert93_to_geographic_matches_oracle(spark):
    """Raster warp through a REGISTERED LCC zone (EPSG:2154 → 4326):
    the registered PlaneTransform drives the full cover + gather path,
    every output pixel equal to the scalar oracle."""
    from gdal_drivers_spark.core import srs
    from gdal_drivers_spark.core.geometry import gt_from_extents

    rng = np.random.default_rng(37)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    # src: Lambert-93 meters over France; dst: lon/lat
    sgt = gt_from_extents(150000, 6100000, 1100000, 7100000, 128, 128)
    dgt = gt_from_extents(-4.0, 42.0, 8.0, 51.0, 128, 128)
    tf = srs.get_transform("EPSG:4326", "EPSG:2154")
    exp = _warp_oracle_nearest(full, tf.np_xy, sgt, dgt, (128, 128))
    got = np.zeros_like(exp)
    for r in warp_tiles(src, sgt, dgt, (128, 128), tile_px=TS, method="nearest",
                        src_srs="EPSG:2154", dst_srs="EPSG:4326").collect():
        t = np.frombuffer(r["tile"], np.uint8).reshape(TS, TS)
        got[r["ocy"] * TS:(r["ocy"] + 1) * TS, r["ocx"] * TS:(r["ocx"] + 1) * TS] = t
    assert (got == exp).all(), int((got != exp).sum())


def test_ups_south_mirror_and_roundtrip():
    """UPS South (EPSG:5042): exact mirror of the north aspect
    (x_s(λ,φ) = x_n(λ,−φ), y_s = 2·FN − y_n(λ,−φ)), pole at the false
    origin, sub-1e-9 round-trip, resolvable through get_transform."""
    from gdal_drivers_spark.core import srs

    lon = np.linspace(-179.0, 179.0, 25)
    lat = np.linspace(-89.9, -60.0, 21)
    LO, LA = np.meshgrid(lon, lat)
    Xs, Ys = srs.ups_south_forward(LO, LA)
    Xn, Yn = srs.ups_north_forward(LO, -LA)
    assert abs(Xs - Xn).max() < 1e-6
    assert abs(Ys - (2 * srs.UPS_FN - Yn)).max() < 1e-6
    lo2, la2 = srs.ups_south_inverse(Xs, Ys)
    dlon = (lo2 - LO + 180) % 360 - 180
    assert abs(dlon).max() < 1e-9 and abs(la2 - LA).max() < 1e-9
    Xp, Yp = srs.ups_south_forward(np.array([0.0]), np.array([-90.0]))
    assert Xp[0] == srs.UPS_FE and Yp[0] == srs.UPS_FN
    tf = srs.get_transform("EPSG:4326", "EPSG:5042")
    x, _ = tf.np_xy(np.array([10.0]), np.array([-75.0]))
    assert np.isfinite(x[0])

def test_warp_plane_sag_guard(spark):
    """ADVICE r04: the 'curvature far below a pixel' assumption behind
    the 3x3 boundary-sampled plane bbox is now CHECKED at plan time. A
    metre-resolution source behind a 6-degree-wide destination tile
    bows the preimage edge thousands of source pixels past the 2-px
    pad — construction must refuse loudly instead of silently cropping
    gather windows into nodata seams."""
    src = _src_tiles_df(spark, np.zeros((128, 128), np.uint8), TS)
    sgt = gt_from_extents(300000, 4400000, 300128, 4400128, 128, 128)  # 1 m/px
    dgt = gt_from_extents(12.0, 40.0, 18.0, 48.0, 128, 128)
    with pytest.raises(ValueError, match="sag"):
        warp_tiles(src, sgt, dgt, (128, 128), tile_px=128, method="nearest",
                   src_srs="EPSG:32633", dst_srs="EPSG:4326")

# ---------------------------------------------------- cubic / average (r04)

def _warp_oracle_cubic(full, tf_np_xy, sgt, dgt, dst_shape, nodata=0.0):
    """Scalar reference for the cubic warp — the Keys a=-0.5 weight
    expression is IMPORTED from the operator (module-level _cubic_w)
    so oracle and kernel can never diverge; all elementwise, no
    reduction-order ambiguity; taps edge-clamped to the FULL image,
    nodata outside coverage."""
    from gdal_drivers_spark.core.geometry import gt_invert
    from gdal_drivers_spark.operators.warp import _cubic_w as cubic_w

    igt = gt_invert(np.asarray(sgt, np.float64))
    H, W = dst_shape
    cols = np.arange(W) + 0.5
    rows = np.arange(H) + 0.5
    WX, WY = np.meshgrid(dgt[0] + cols * dgt[1], dgt[3] + rows * dgt[5])
    sx, sy = tf_np_xy(WX, WY)
    SC = igt[0] + sx * igt[1]
    SR = igt[3] + sy * igt[5]
    h, w = full.shape
    f = full.astype(np.float64)
    tx, ty = SC - 0.5, SR - 0.5
    x0 = np.floor(tx).astype(np.int64)
    y0 = np.floor(ty).astype(np.int64)

    wx = cubic_w(tx - x0)
    wy = cubic_w(ty - y0)
    xs = [np.clip(x0 + d, 0, w - 1) for d in (-1, 0, 1, 2)]
    ys = [np.clip(y0 + d, 0, h - 1) for d in (-1, 0, 1, 2)]
    rws = [wx[0] * f[yy, xs[0]] + wx[1] * f[yy, xs[1]]
           + wx[2] * f[yy, xs[2]] + wx[3] * f[yy, xs[3]] for yy in ys]
    out = wy[0] * rws[0] + wy[1] * rws[1] + wy[2] * rws[2] + wy[3] * rws[3]
    in_cov = (SC >= 0) & (SC < w) & (SR >= 0) & (SR < h)
    out = np.where(in_cov, out, nodata)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def _collect_warp(spark_rows, dst_shape, ts):
    got = np.zeros(dst_shape, np.uint8)
    for r in spark_rows:
        t = np.frombuffer(r["tile"], np.uint8).reshape(ts, ts)
        got[r["ocy"] * ts:(r["ocy"] + 1) * ts, r["ocx"] * ts:(r["ocx"] + 1) * ts] = t
    return got


def test_warp_cubic_matches_scalar_oracle_with_seams(spark):
    """Cubic (Keys a=-0.5) 2x upsample of a random source: every output
    pixel — including across dst AND src tile seams, where the 4x4 taps
    read neighbor tiles through the cover join's widened pad — equals
    the whole-image scalar oracle exactly."""
    from gdal_drivers_spark.core.srs import get_transform

    rng = np.random.default_rng(9)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 256, 256)
    tf = get_transform("", "")
    exp = _warp_oracle_cubic(full, lambda x, y: (x, y), sgt, dgt, (256, 256))
    got = _collect_warp(
        warp_tiles(src, sgt, dgt, (256, 256), tile_px=TS, method="cubic").collect(),
        (256, 256), TS)
    assert (got == exp).all(), int((got != exp).sum())


def test_warp_cubic_through_plane_transform(spark):
    """Cubic through the UTM PlaneTransform path (non-dyadic fractions,
    widened plane pad): exact equality with the scalar oracle built
    from the identical weight expression."""
    from gdal_drivers_spark.core import srs

    rng = np.random.default_rng(41)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    sgt = gt_from_extents(300000, 4400000, 700000, 5400000, 128, 128)
    dgt = gt_from_extents(12.5, 40.5, 17.5, 47.5, 128, 128)
    tf = srs.get_transform("EPSG:4326", "EPSG:32633")
    exp = _warp_oracle_cubic(full, tf.np_xy, sgt, dgt, (128, 128))
    got = _collect_warp(
        warp_tiles(src, sgt, dgt, (128, 128), tile_px=TS, method="cubic",
                   src_srs="EPSG:32633", dst_srs="EPSG:4326").collect(),
        (128, 128), TS)
    assert (got == exp).all(), int((got != exp).sum())


def _warp_oracle_bspline(full, tf_np_xy, sgt, dgt, dst_shape, nodata=0.0):
    """Scalar reference for the cubicspline warp — the ×6-scaled
    B-spline weight expression is IMPORTED from the operator
    (module-level _bspline_w6) so oracle and kernel can never diverge;
    factored rows-then-columns exactly like the kernel, with the single
    ÷36 at the end."""
    from gdal_drivers_spark.core.geometry import gt_invert
    from gdal_drivers_spark.operators.warp import _bspline_w6 as bspline_w6

    igt = gt_invert(np.asarray(sgt, np.float64))
    H, W = dst_shape
    cols = np.arange(W) + 0.5
    rows = np.arange(H) + 0.5
    WX, WY = np.meshgrid(dgt[0] + cols * dgt[1], dgt[3] + rows * dgt[5])
    sx, sy = tf_np_xy(WX, WY)
    SC = igt[0] + sx * igt[1]
    SR = igt[3] + sy * igt[5]
    h, w = full.shape
    f = full.astype(np.float64)
    tx, ty = SC - 0.5, SR - 0.5
    x0 = np.floor(tx).astype(np.int64)
    y0 = np.floor(ty).astype(np.int64)

    wx = bspline_w6(tx - x0)
    wy = bspline_w6(ty - y0)
    xs = [np.clip(x0 + d, 0, w - 1) for d in (-1, 0, 1, 2)]
    ys = [np.clip(y0 + d, 0, h - 1) for d in (-1, 0, 1, 2)]
    rws = [wx[0] * f[yy, xs[0]] + wx[1] * f[yy, xs[1]]
           + wx[2] * f[yy, xs[2]] + wx[3] * f[yy, xs[3]] for yy in ys]
    out = (wy[0] * rws[0] + wy[1] * rws[1]
           + wy[2] * rws[2] + wy[3] * rws[3]) / 36.0
    in_cov = (SC >= 0) & (SC < w) & (SR >= 0) & (SR < h)
    out = np.where(in_cov, out, nodata)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def test_warp_cubicspline_matches_scalar_oracle_with_seams(spark):
    """Cubic B-spline 2x upsample of a random source: every output
    pixel — including across dst AND src tile seams, where the 4x4 taps
    read neighbor tiles through the cover join's widened pad — equals
    the whole-image scalar oracle exactly. Also pins the smoothing
    property the enum entry exists for: unlike cubic, the B-spline does
    NOT interpolate the source samples (it is a low-pass), but a
    CONSTANT raster must survive exactly (the four ×6 weights sum to 6,
    so constant/36·36 is a representable identity)."""
    rng = np.random.default_rng(23)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 256, 256)
    exp = _warp_oracle_bspline(full, lambda x, y: (x, y), sgt, dgt, (256, 256))
    got = _collect_warp(
        warp_tiles(src, sgt, dgt, (256, 256), tile_px=TS,
                   method="cubicspline").collect(),
        (256, 256), TS)
    assert (got == exp).all(), int((got != exp).sum())

    const = np.full((128, 128), 173, np.uint8)
    got_c = _collect_warp(
        warp_tiles(_src_tiles_df(spark, const, TS), sgt, dgt, (256, 256),
                   tile_px=TS, method="cubicspline").collect(),
        (256, 256), TS)
    # interior only: taps whose 4x4 support leaves coverage are invalid
    assert (got_c[4:-4, 4:-4] == 173).all()


def test_warp_cubicspline_through_plane_transform(spark):
    """Cubic B-spline through the UTM PlaneTransform path (non-dyadic
    fractions, widened plane pad): exact equality with the scalar
    oracle built from the identical ×6-weight expression."""
    from gdal_drivers_spark.core import srs

    rng = np.random.default_rng(47)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    sgt = gt_from_extents(300000, 4400000, 700000, 5400000, 128, 128)
    dgt = gt_from_extents(12.5, 40.5, 17.5, 47.5, 128, 128)
    tf = srs.get_transform("EPSG:4326", "EPSG:32633")
    exp = _warp_oracle_bspline(full, tf.np_xy, sgt, dgt, (128, 128))
    got = _collect_warp(
        warp_tiles(src, sgt, dgt, (128, 128), tile_px=TS, method="cubicspline",
                   src_srs="EPSG:32633", dst_srs="EPSG:4326").collect(),
        (128, 128), TS)
    assert (got == exp).all(), int((got != exp).sum())


def test_warp_average_exact_2x_and_sparse_nodata(spark):
    """Area-weighted average, 2x downsample: every footprint is exactly
    2x2 source pixels, so out == round_even(sum/4) — checked exactly;
    with one source tile ABSENT the footprints inside it are nodata and
    everything else is untouched (NaN exclusion semantics)."""
    rng = np.random.default_rng(10)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    exp = np.rint(
        full.astype(np.float64).reshape(64, 2, 64, 2).mean(axis=(1, 3))
    ).astype(np.uint8)

    src = _src_tiles_df(spark, full, 32)
    got = _collect_warp(
        warp_tiles(src, sgt, dgt, (64, 64), tile_px=32, method="average").collect(),
        (64, 64), 32)
    assert (got == exp).all()

    # drop source tile (scx=1, scy=2) -> dst block [32:48, 16:32] nodata=7
    sparse = src.filter(~((F.col("scx") == 1) & (F.col("scy") == 2)))
    got2 = _collect_warp(
        warp_tiles(sparse, sgt, dgt, (64, 64), tile_px=32, method="average",
                   nodata=7.0).collect(),
        (64, 64), 32)
    exp2 = exp.copy()
    exp2[32:48, 16:32] = 7
    assert (got2 == exp2).all()


def test_warp_average_fractional_footprints(spark):
    """Non-integer scale (108 -> 72 px, footprint 1.5 src px per axis):
    the per-axis overlap weights must integrate partial pixels (src and
    dst share tile_px=36 — the operator's one-tile-size contract).
    Scalar per-pixel oracle with independent Python-loop summation; u8 results
    may differ only on knife-edge rounding (tolerance 1, and at most a
    handful of pixels)."""
    rng = np.random.default_rng(12)
    full = rng.integers(0, 256, (108, 108)).astype(np.uint8)
    sgt = gt_from_extents(0, 0, 1, 1, 108, 108)
    dgt = gt_from_extents(0, 0, 1, 1, 72, 72)
    s = 108 / 72
    exp = np.zeros((72, 72))
    for r in range(72):
        for c in range(72):
            x0, x1 = c * s, (c + 1) * s
            y0, y1 = r * s, (r + 1) * s
            num = den = 0.0
            for p in range(int(np.floor(y0)), int(np.ceil(y1))):
                wy = min(y1, p + 1) - max(y0, p)
                for q in range(int(np.floor(x0)), int(np.ceil(x1))):
                    wx = min(x1, q + 1) - max(x0, q)
                    num += wx * wy * full[p, q]
                    den += wx * wy
            exp[r, c] = num / den
    exp_u8 = np.clip(np.rint(exp), 0, 255).astype(np.uint8)
    src = _src_tiles_df(spark, full, 36)
    got = _collect_warp(
        warp_tiles(src, sgt, dgt, (72, 72), tile_px=36, method="average").collect(),
        (72, 72), 36)
    diff = np.abs(got.astype(int) - exp_u8.astype(int))
    assert diff.max() <= 1 and (diff > 0).sum() <= 5, (diff.max(), (diff > 0).sum())


def test_warp_average_rejects_plane_transform(spark):
    src = _src_tiles_df(spark, np.zeros((128, 128), np.uint8), TS)
    sgt = gt_from_extents(300000, 4400000, 700000, 5400000, 128, 128)
    dgt = gt_from_extents(12.0, 40.0, 18.0, 48.0, 128, 128)
    with pytest.raises(ValueError, match="separable"):
        warp_tiles(src, sgt, dgt, (128, 128), tile_px=TS, method="average",
                   src_srs="EPSG:32633", dst_srs="EPSG:4326")

# ------------------------------------------------------- mask warp (r04)

def _masked_pattern_src(spark, ts=32, n=4):
    """Pattern source tiles with a per-pixel mask: pixel (gx,gy) is
    INVALID where (gx*7 + gy*11) % 13 < 3."""
    rows = []
    for ty in range(n):
        for tx in range(n):
            gx = np.arange(ts) + tx * ts
            gy = np.arange(ts) + ty * ts
            img = ((gx[None, :] * 3 + gy[:, None] * 5 + 11) % 256).astype(np.uint8)
            m = (((gx[None, :] * 7 + gy[:, None] * 11) % 13) >= 3).astype(np.uint8) * 255
            mfull = np.broadcast_to(m, (ts, ts)) if m.shape != (ts, ts) else m
            rows.append((tx, ty, codecs.encode_raw(img[:, :, None]),
                         np.ascontiguousarray(mfull).tobytes()))
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["scx", "scy", "tile", "mask"]))


def test_warp_with_mask_nearest_gathers_validity(spark):
    """with_mask=True, nearest: the mask band rides the same gather as
    the data; invalid pixels carry nodata in DATA and 0 in MASK —
    "warped nodata" is distinguishable from a genuine zero."""
    src = _masked_pattern_src(spark)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    out = warp_tiles(src, sgt, dgt, (64, 64), tile_px=32, method="nearest",
                     with_mask=True).collect()
    assert len(out) == 4
    for r in out:
        t = np.frombuffer(r["tile"], np.uint8).reshape(32, 32)
        m = np.frombuffer(r["mask"], np.uint8).reshape(32, 32)
        for dy in range(32):
            for dx in range(32):
                gx, gy = 2 * (r["ocx"] * 32 + dx) + 1, 2 * (r["ocy"] * 32 + dy) + 1
                valid = (gx * 7 + gy * 11) % 13 >= 3
                assert m[dy, dx] == (255 if valid else 0)
                exp = (gx * 3 + gy * 5 + 11) % 256 if valid else 0
                assert t[dy, dx] == exp, (gx, gy)


def test_warp_with_mask_bilinear_renormalizes_cubic_strict(spark):
    """Policy pins on a 2x upsample (fractional tap positions 0.25 /
    0.75): bilinear keeps a pixel valid while >=1 tap is valid and
    RENORMALIZES over the valid taps (boundary pixels read exactly 100,
    never the 75/25 dilution toward nodata); cubic requires the full
    4x4 support, so its valid region shrinks by the tap radius."""
    ts = 32
    rows = []
    for ty in range(2):
        for tx in range(2):
            img = np.full((ts, ts), 100, np.uint8)
            gxs = np.arange(ts) + tx * ts
            m = np.repeat(((gxs < 32).astype(np.uint8) * 255)[None, :], ts, axis=0)
            rows.append((tx, ty, codecs.encode_raw(img[:, :, None]),
                         np.ascontiguousarray(m).tobytes()))
    src = spark.createDataFrame(
        pd.DataFrame(rows, columns=["scx", "scy", "tile", "mask"]))
    sgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    dgt = gt_from_extents(0, 0, 1, 1, 128, 128)

    def mosaic(method):
        t = np.zeros((128, 128), np.uint8)
        m = np.zeros((128, 128), np.uint8)
        for r in warp_tiles(src, sgt, dgt, (128, 128), tile_px=ts, method=method,
                            with_mask=True, nodata=7.0).collect():
            sl = np.s_[r["ocy"] * ts:(r["ocy"] + 1) * ts,
                       r["ocx"] * ts:(r["ocx"] + 1) * ts]
            t[sl] = np.frombuffer(r["tile"], np.uint8).reshape(ts, ts)
            m[sl] = np.frombuffer(r["mask"], np.uint8).reshape(ts, ts)
        return t, m

    tb, mb = mosaic("bilinear")
    # taps: tx = ox/2 - 0.25 -> boundary dst cols 63/64 have ONE valid
    # tap; renormalization keeps them exactly 100 (unmasked bilinear
    # would read 75 / 25)
    assert (mb[:, :65] == 255).all() and (tb[:, :65] == 100).all()
    assert (mb[:, 65:] == 0).all() and (tb[:, 65:] == 7).all()

    tc, mc = mosaic("cubic")
    # cubic full-support: last dst col whose 4 taps all fall < 32 is 60
    assert (mc[:, :61] == 255).all() and (tc[:, :61] == 100).all()
    assert (mc[:, 61:] == 0).all() and (tc[:, 61:] == 7).all()


def test_warp_mask_average_excludes_invalid(spark):
    """average + mask: invalid pixels drop out of numerator AND
    denominator; an all-invalid footprint is nodata with mask 0."""
    src = _masked_pattern_src(spark)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    out = {(r["ocx"], r["ocy"]): r for r in warp_tiles(
        src, sgt, dgt, (64, 64), tile_px=32, method="average",
        with_mask=True, nodata=3.0).collect()}
    r = out[(0, 0)]
    t = np.frombuffer(r["tile"], np.uint8).reshape(32, 32)
    m = np.frombuffer(r["mask"], np.uint8).reshape(32, 32)
    for dy in range(8):
        for dx in range(8):
            num = den = 0
            for sy in (2 * dy, 2 * dy + 1):
                for sx in (2 * dx, 2 * dx + 1):
                    if (sx * 7 + sy * 11) % 13 >= 3:
                        num += (sx * 3 + sy * 5 + 11) % 256
                        den += 1
            if den:
                import math
                exp = num / den
                # np.rint banker's
                fl = math.floor(exp)
                fr = exp - fl
                e = fl + 1 if (fr > 0.5 or (fr == 0.5 and fl % 2)) else fl
                assert t[dy, dx] == e and m[dy, dx] == 255, (dx, dy)
            else:
                assert t[dy, dx] == 3 and m[dy, dx] == 0


def test_warp_mask_feeds_blend_no_dilution(spark):
    """VERDICT r03 #4 composition: a warped contribution whose mask
    marks warp-introduced nodata must NOT dilute the feathered blend —
    the masked pixels contribute neither value nor weight. The same
    pipeline WITHOUT the mask column demonstrates the dilution the
    mask prevents."""
    from gdal_drivers_spark.core import qcell
    from gdal_drivers_spark.operators.blend import blend_tiles

    ts, T = 32, 64
    # source A: constant 100, right quarter (gx >= 40) masked invalid
    rows = []
    for ty in range(2):
        for tx in range(2):
            img = np.full((ts, ts), 100, np.uint8)
            gxs = np.arange(ts) + tx * ts
            m = np.repeat(((gxs < 40).astype(np.uint8) * 255)[None, :], ts, axis=0)
            rows.append((tx, ty, codecs.encode_raw(img[:, :, None]),
                         np.ascontiguousarray(m).tobytes()))
    srcA = spark.createDataFrame(
        pd.DataFrame(rows, columns=["scx", "scy", "tile", "mask"]))
    gt = gt_from_extents(0, 0, 1, 1, T, T)
    warped = warp_tiles(srcA, gt, gt, (T, T), tile_px=ts, method="nearest",
                        with_mask=True, nodata=0.0).collect()
    # mosaic the warped tiles back into one full-cell contribution
    imgA = np.zeros((T, T), np.uint8)
    mA = np.zeros((T, T), np.uint8)
    for r in warped:
        sl = np.s_[r["ocy"] * ts:(r["ocy"] + 1) * ts, r["ocx"] * ts:(r["ocx"] + 1) * ts]
        imgA[sl] = np.frombuffer(r["tile"], np.uint8).reshape(ts, ts)
        mA[sl] = np.frombuffer(r["mask"], np.uint8).reshape(ts, ts)
    cell = int(qcell.pack(0, 0, 0))
    contribs = [
        (cell, 0, "A", codecs.encode_raw(imgA[:, :, None]), mA.tobytes(),
         0.0, 0.0, 1.0, 1.0),
        (cell, 0, "B", codecs.encode_raw(np.full((T, T, 1), 200, np.uint8)), None,
         0.0, 0.0, 1.0, 1.0),
    ]
    cols = ["cell", "band", "source_id", "tile", "mask", "vx0", "vy0", "vx1", "vy1"]
    df = spark.createDataFrame(pd.DataFrame(contribs, columns=cols))
    out = blend_tiles(df, tile_px=T, nodata=0.0).collect()[0]
    tile = np.frombuffer(out["tile"], np.uint8).reshape(T, T)
    assert (tile[:, :40] == 150).all()       # both sources, equal weight
    assert (tile[:, 40:] == 200).all()       # masked A contributes NOTHING
    # the maskless pipeline dilutes: A's nodata zeros average in
    df2 = spark.createDataFrame(pd.DataFrame(
        [c[:4] + c[5:] for c in contribs],
        columns=[c for c in cols if c != "mask"]))
    out2 = blend_tiles(df2, tile_px=T, nodata=0.0).collect()[0]
    tile2 = np.frombuffer(out2["tile"], np.uint8).reshape(T, T)
    assert (tile2[:, 40:] == 100).all()      # (0 + 200) / 2 — the dilution

def test_warp_footprint_reductions_min_max_sum_rms(spark):
    """r04 continuation — the rest of the overview-kernel family:
    min/max (unweighted extrema over every contributing pixel) and
    sum/rms (area-weighted) at an integer 2x AND a fractional 1.5x
    scale, vs per-pixel scalar oracles. At 1.5x the partial overlaps
    are multiples of 0.5 (dyadic), so even sum/rms compare exactly."""
    rng = np.random.default_rng(21)
    full = rng.integers(0, 256, (96, 96)).astype(np.uint8)
    sgt = gt_from_extents(0, 0, 1, 1, 96, 96)

    # one tile_px tiles BOTH grids (the operator contract): 2x uses
    # 48-px tiles (96 = 2x48), 1.5x uses 32-px tiles (96 = 3x32)
    for dst_px, s, ts in ((48, 2.0, 48), (64, 1.5, 32)):
        src = _src_tiles_df(spark, full, ts)
        dgt = gt_from_extents(0, 0, 1, 1, dst_px, dst_px)
        exp = {m: np.zeros((dst_px, dst_px)) for m in ("min", "max", "sum", "rms")}
        for r in range(dst_px):
            for c in range(dst_px):
                x0, x1 = c * s, (c + 1) * s
                y0, y1 = r * s, (r + 1) * s
                vmin, vmax, wsum, wsq, den = 1e9, -1e9, 0.0, 0.0, 0.0
                for p in range(int(np.floor(y0)), int(np.ceil(y1))):
                    wy = min(y1, p + 1) - max(y0, p)
                    if wy <= 0:
                        continue
                    for q in range(int(np.floor(x0)), int(np.ceil(x1))):
                        wx = min(x1, q + 1) - max(x0, q)
                        if wx <= 0:
                            continue
                        v = float(full[p, q])
                        vmin, vmax = min(vmin, v), max(vmax, v)
                        wsum += wx * wy * v
                        wsq += wx * wy * v * v
                        den += wx * wy
                exp["min"][r, c] = vmin
                exp["max"][r, c] = vmax
                exp["sum"][r, c] = wsum
                exp["rms"][r, c] = np.sqrt(wsq / den)
        for m in ("min", "max", "sum", "rms"):
            got = _collect_warp(
                warp_tiles(src, sgt, dgt, (dst_px, dst_px),
                           tile_px=ts, method=m).collect(),
                (dst_px, dst_px), ts)
            e = np.clip(np.rint(exp[m]), 0, 255).astype(np.uint8)
            assert (got == e).all(), (m, s, int((got != e).sum()))


def test_warp_footprint_reductions_respect_masks(spark):
    """min/max/sum/rms exclude masked pixels; an all-masked footprint
    is nodata with mask 0 (same contract as average)."""
    src = _masked_pattern_src(spark)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    for m in ("min", "max", "sum", "rms"):
        out = {(r["ocx"], r["ocy"]): r for r in warp_tiles(
            src, sgt, dgt, (64, 64), tile_px=32, method=m,
            with_mask=True, nodata=3.0).collect()}
        r0 = out[(0, 0)]
        t = np.frombuffer(r0["tile"], np.uint8).reshape(32, 32)
        mk = np.frombuffer(r0["mask"], np.uint8).reshape(32, 32)
        for dy in range(8):
            for dx in range(8):
                vals = [((sx * 3 + sy * 5 + 11) % 256)
                        for sy in (2 * dy, 2 * dy + 1)
                        for sx in (2 * dx, 2 * dx + 1)
                        if (sx * 7 + sy * 11) % 13 >= 3]
                if not vals:
                    assert t[dy, dx] == 3 and mk[dy, dx] == 0, (m, dx, dy)
                    continue
                assert mk[dy, dx] == 255
                if m == "min":
                    e = min(vals)
                elif m == "max":
                    e = max(vals)
                elif m == "sum":
                    e = min(255, sum(vals))
                else:
                    e = np.clip(np.rint(np.sqrt(
                        sum(v * v for v in vals) / len(vals))), 0, 255)
                assert t[dy, dx] == e, (m, dx, dy, vals, t[dy, dx])


# ---------------------------------------------------- lanczos / mode (r05)

def _warp_oracle_lanczos(full, tf_np_xy, sgt, dgt, dst_shape, nodata=0.0):
    """Scalar reference for the Lanczos-3 warp — the windowed-sinc
    weight expression is IMPORTED from the operator (module-level
    _lanczos_w) so oracle and kernel can never diverge; same per-axis
    normalization, edge-clamped taps, nodata outside coverage."""
    from gdal_drivers_spark.core.geometry import gt_invert
    from gdal_drivers_spark.operators.warp import _lanczos_w as lanczos_w

    A = 3
    igt = gt_invert(np.asarray(sgt, np.float64))
    H, W = dst_shape
    cols = np.arange(W) + 0.5
    rows = np.arange(H) + 0.5
    WX, WY = np.meshgrid(dgt[0] + cols * dgt[1], dgt[3] + rows * dgt[5])
    sx, sy = tf_np_xy(WX, WY)
    SC = igt[0] + sx * igt[1]
    SR = igt[3] + sy * igt[5]
    h, w = full.shape
    f = full.astype(np.float64)
    tx, ty = SC - 0.5, SR - 0.5
    x0 = np.floor(tx).astype(np.int64)
    y0 = np.floor(ty).astype(np.int64)
    wx = lanczos_w(tx - x0, A)
    wy = lanczos_w(ty - y0, A)
    wxs, wys = sum(wx), sum(wy)
    wx = [v / wxs for v in wx]
    wy = [v / wys for v in wy]
    offs = range(-A + 1, A + 1)
    xs = [np.clip(x0 + d, 0, w - 1) for d in offs]
    ys = [np.clip(y0 + d, 0, h - 1) for d in offs]
    rws = [sum(wx[i] * f[yy, xs[i]] for i in range(2 * A)) for yy in ys]
    out = sum(wy[i] * rws[i] for i in range(2 * A))
    in_cov = (SC >= 0) & (SC < w) & (SR >= 0) & (SR < h)
    out = np.where(in_cov, out, nodata)
    return np.clip(np.rint(out), 0, 255).astype(np.uint8)


def test_warp_lanczos_matches_scalar_oracle_with_seams(spark):
    """Lanczos-3 (6x6 windowed sinc) 2x upsample of a random source:
    every output pixel — including across dst AND src tile seams,
    where the taps reach 3.5 source px through the widened pad 4 —
    equals the whole-image scalar oracle exactly."""
    rng = np.random.default_rng(17)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 256, 256)
    exp = _warp_oracle_lanczos(full, lambda x, y: (x, y), sgt, dgt, (256, 256))
    got = _collect_warp(
        warp_tiles(src, sgt, dgt, (256, 256), tile_px=TS, method="lanczos").collect(),
        (256, 256), TS)
    assert (got == exp).all(), int((got != exp).sum())


def test_warp_lanczos_through_plane_transform(spark):
    """Lanczos through the UTM PlaneTransform path (non-dyadic
    fractions, plane pad widened by 3): exact equality with the scalar
    oracle built from the identical weight expression."""
    from gdal_drivers_spark.core import srs

    rng = np.random.default_rng(43)
    full = rng.integers(0, 256, (128, 128)).astype(np.uint8)
    src = _src_tiles_df(spark, full, TS)
    sgt = gt_from_extents(300000, 4400000, 700000, 5400000, 128, 128)
    dgt = gt_from_extents(12.5, 40.5, 17.5, 47.5, 128, 128)
    tf = srs.get_transform("EPSG:4326", "EPSG:32633")
    exp = _warp_oracle_lanczos(full, tf.np_xy, sgt, dgt, (128, 128))
    got = _collect_warp(
        warp_tiles(src, sgt, dgt, (128, 128), tile_px=TS, method="lanczos",
                   src_srs="EPSG:32633", dst_srs="EPSG:4326").collect(),
        (128, 128), TS)
    assert (got == exp).all(), int((got != exp).sum())


def test_warp_lanczos_interpolates_and_mask_full_support(spark):
    """(a) At integer sample positions the normalized Lanczos kernel
    interpolates (a constant field stays constant; exact source-pixel
    hits reproduce the source). (b) with_mask: like cubic, lanczos
    requires its FULL 6x6 support valid — the valid region shrinks by
    the 2.5+1 tap radius vs bilinear's."""
    ts = 32
    rows = []
    for ty in range(2):
        for tx in range(2):
            img = np.full((ts, ts), 100, np.uint8)
            gxs = np.arange(ts) + tx * ts
            m = np.repeat(((gxs < 32).astype(np.uint8) * 255)[None, :], ts, axis=0)
            rows.append((tx, ty, codecs.encode_raw(img[:, :, None]),
                         np.ascontiguousarray(m).tobytes()))
    src = spark.createDataFrame(
        pd.DataFrame(rows, columns=["scx", "scy", "tile", "mask"]))
    sgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    dgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    t = np.zeros((128, 128), np.uint8)
    mk = np.zeros((128, 128), np.uint8)
    for r in warp_tiles(src, sgt, dgt, (128, 128), tile_px=ts, method="lanczos",
                        with_mask=True, nodata=7.0).collect():
        sl = np.s_[r["ocy"] * ts:(r["ocy"] + 1) * ts,
                   r["ocx"] * ts:(r["ocx"] + 1) * ts]
        t[sl] = np.frombuffer(r["tile"], np.uint8).reshape(ts, ts)
        mk[sl] = np.frombuffer(r["mask"], np.uint8).reshape(ts, ts)
    # constant field: every valid pixel reads exactly 100 (weights
    # normalized to sum 1 — unnormalized sinc taps would drift O(1%))
    assert (t[mk == 255] == 100).all()
    # full-support: 2x upsample taps sit at tx = ox/2 - 0.25; the last
    # dst col whose SIX taps (x0-2 .. x0+3) all fall < 32 is 58
    assert (mk[:, :59] == 255).all()
    assert (mk[:, 61:] == 0).all() and (t[:, 61:] == 7).all()


def test_warp_mode_majority_tiebreak(spark):
    """Mode (majority) downsample of a categorical raster at integer
    2x AND fractional 1.5x scales vs a per-pixel scalar oracle:
    contributing pixels are those with overlap > EPS (the min/max
    membership rule); among equal counts the LOWEST value wins
    (GDAL's tie rule)."""
    rng = np.random.default_rng(23)
    full = rng.integers(0, 5, (96, 96)).astype(np.uint8) * 17  # few classes → ties
    sgt = gt_from_extents(0, 0, 1, 1, 96, 96)
    EPS = 1e-9
    for dst_px, s, ts in ((48, 2.0, 48), (64, 1.5, 32)):
        src = _src_tiles_df(spark, full, ts)
        dgt = gt_from_extents(0, 0, 1, 1, dst_px, dst_px)
        exp = np.zeros((dst_px, dst_px), np.uint8)
        for r in range(dst_px):
            for c in range(dst_px):
                x0, x1 = c * s, (c + 1) * s
                y0, y1 = r * s, (r + 1) * s
                cnt = {}
                for p in range(int(np.floor(y0)), int(np.ceil(y1))):
                    wy = min(y1, p + 1) - max(y0, p)
                    if wy <= EPS:
                        continue
                    for q in range(int(np.floor(x0)), int(np.ceil(x1))):
                        wx = min(x1, q + 1) - max(x0, q)
                        if wx <= EPS:
                            continue
                        v = int(full[p, q])
                        cnt[v] = cnt.get(v, 0) + 1
                # majority; ties → lowest value
                exp[r, c] = min(
                    (v for v in cnt if cnt[v] == max(cnt.values()))
                )
        got = _collect_warp(
            warp_tiles(src, sgt, dgt, (dst_px, dst_px),
                       tile_px=ts, method="mode").collect(),
            (dst_px, dst_px), ts)
        assert (got == exp).all(), (s, int((got != exp).sum()))


def test_warp_mode_respects_masks(spark):
    """Mode excludes masked pixels from the vote; an all-masked
    footprint is nodata with mask 0 (same contract as average)."""
    src = _masked_pattern_src(spark)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    out = {(r["ocx"], r["ocy"]): r for r in warp_tiles(
        src, sgt, dgt, (64, 64), tile_px=32, method="mode",
        with_mask=True, nodata=3.0).collect()}
    r0 = out[(0, 0)]
    t = np.frombuffer(r0["tile"], np.uint8).reshape(32, 32)
    mk = np.frombuffer(r0["mask"], np.uint8).reshape(32, 32)
    for dy in range(8):
        for dx in range(8):
            vals = [((sx * 3 + sy * 5 + 11) % 256)
                    for sy in (2 * dy, 2 * dy + 1)
                    for sx in (2 * dx, 2 * dx + 1)
                    if (sx * 7 + sy * 11) % 13 >= 3]
            if not vals:
                assert t[dy, dx] == 3 and mk[dy, dx] == 0, (dx, dy)
                continue
            cnt = {v: vals.count(v) for v in vals}
            e = min(v for v in cnt if cnt[v] == max(cnt.values()))
            assert mk[dy, dx] == 255 and t[dy, dx] == e, (dx, dy, vals)


# ------------------------------------------------- med / q1 / q3 (r05)

def test_warp_quantile_kernels_match_scalar_oracle(spark):
    """med/q1/q3 downsample at integer 2x AND fractional 1.5x scales
    vs a per-pixel scalar oracle: contributing pixels are those with
    overlap > EPS (the min/max membership rule); the quantile is the
    type-7 (linear interpolation at p*(n-1)) order statistic — the
    rule Spark percentile / DuckDB quantile_cont share."""
    rng = np.random.default_rng(29)
    full = rng.integers(0, 256, (96, 96)).astype(np.uint8)
    sgt = gt_from_extents(0, 0, 1, 1, 96, 96)
    EPS = 1e-9
    for dst_px, s, ts in ((48, 2.0, 48), (64, 1.5, 32)):
        src = _src_tiles_df(spark, full, ts)
        dgt = gt_from_extents(0, 0, 1, 1, dst_px, dst_px)
        for method, q in (("med", 0.5), ("q1", 0.25), ("q3", 0.75)):
            exp = np.zeros((dst_px, dst_px), np.uint8)
            for r in range(dst_px):
                for c in range(dst_px):
                    x0, x1 = c * s, (c + 1) * s
                    y0, y1 = r * s, (r + 1) * s
                    vv = sorted(
                        int(full[p, qq])
                        for p in range(int(np.floor(y0)), int(np.ceil(y1)))
                        for qq in range(int(np.floor(x0)), int(np.ceil(x1)))
                        if min(y1, p + 1) - max(y0, p) > EPS
                        and min(x1, qq + 1) - max(x0, qq) > EPS
                    )
                    pos = q * (len(vv) - 1)
                    lo = int(np.floor(pos))
                    hi = min(lo + 1, len(vv) - 1)
                    val = vv[lo] + (pos - lo) * (vv[hi] - vv[lo])
                    exp[r, c] = int(np.clip(np.rint(val), 0, 255))
            got = _collect_warp(
                warp_tiles(src, sgt, dgt, (dst_px, dst_px),
                           tile_px=ts, method=method).collect(),
                (dst_px, dst_px), ts)
            assert (got == exp).all(), (method, s, int((got != exp).sum()))


def test_warp_median_respects_masks(spark):
    """med excludes masked pixels from the order statistic; an
    all-masked footprint is nodata with mask 0 (the average/mode
    contract)."""
    src = _masked_pattern_src(spark)
    sgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    dgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    out = {(r["ocx"], r["ocy"]): r for r in warp_tiles(
        src, sgt, dgt, (64, 64), tile_px=32, method="med",
        with_mask=True, nodata=3.0).collect()}
    r0 = out[(0, 0)]
    t = np.frombuffer(r0["tile"], np.uint8).reshape(32, 32)
    mk = np.frombuffer(r0["mask"], np.uint8).reshape(32, 32)
    for dy in range(8):
        for dx in range(8):
            vals = sorted(((sx * 3 + sy * 5 + 11) % 256)
                          for sy in (2 * dy, 2 * dy + 1)
                          for sx in (2 * dx, 2 * dx + 1)
                          if (sx * 7 + sy * 11) % 13 >= 3)
            if not vals:
                assert t[dy, dx] == 3 and mk[dy, dx] == 0, (dx, dy)
                continue
            pos = 0.5 * (len(vals) - 1)
            lo = int(pos)
            hi = min(lo + 1, len(vals) - 1)
            e = int(np.clip(np.rint(vals[lo] + (pos - lo)
                                    * (vals[hi] - vals[lo])), 0, 255))
            assert mk[dy, dx] == 255 and t[dy, dx] == e, (dx, dy, vals)


def test_warp_rank_kernels_chunked_rows_bit_identical(spark, monkeypatch):
    """r05 review: the rank kernels (mode/med/q1/q3) bound per-task
    memory by chunking output rows so the footprint value cube stays
    under _RANK_CUBE_BYTES (a 32x mode at tile_px=256 would otherwise
    allocate ~570 MB per in-flight task). Shrinking the cap so every
    tile is processed in many chunks must not change a single byte vs
    the one-chunk result — the chunk boundary is invisible."""
    from gdal_drivers_spark.operators import warp as warp_mod

    rng = np.random.default_rng(31)
    full = (rng.integers(0, 4, (96, 96)) * 64).astype(np.uint8)
    sgt = gt_from_extents(0, 0, 1, 1, 96, 96)
    dgt = gt_from_extents(0, 0, 1, 1, 32, 32)
    for method in ("mode", "med"):
        src = _src_tiles_df(spark, full, 32)
        ref = _collect_warp(
            warp_tiles(src, sgt, dgt, (32, 32), tile_px=32,
                       method=method).collect(), (32, 32), 32)
        # 3x3 footprint (S=4 span) at tile_px=32: cap of 4 KiB forces
        # chunk of 1-2 rows -> ~16+ chunks per tile
        monkeypatch.setattr(warp_mod, "_RANK_CUBE_BYTES", 4 << 10)
        got = _collect_warp(
            warp_tiles(_src_tiles_df(spark, full, 32), sgt, dgt, (32, 32),
                       tile_px=32, method=method).collect(), (32, 32), 32)
        monkeypatch.setattr(warp_mod, "_RANK_CUBE_BYTES", 64 << 20)
        assert (got == ref).all(), (method, int((got != ref).sum()))


def test_warp_band_selection_multiband_source(spark):
    """r05: warp band=k of a multi-band source equals warping a
    single-band raster holding that channel (the reference's warpInto
    runs per-band); an out-of-range band poisons with a clear error."""
    rng = np.random.default_rng(37)
    chans = [rng.integers(0, 256, (64, 64)).astype(np.uint8) for _ in range(3)]
    ts = 32
    rows = []
    for ty in range(64 // ts):
        for tx in range(64 // ts):
            img = np.stack(
                [c[ty * ts:(ty + 1) * ts, tx * ts:(tx + 1) * ts] for c in chans],
                axis=2)
            rows.append((tx, ty, codecs.encode_raw(img)))
    src = spark.createDataFrame(pd.DataFrame(rows, columns=["scx", "scy", "tile"]))
    sgt = gt_from_extents(0, 0, 1, 1, 64, 64)
    dgt = gt_from_extents(0, 0, 1, 1, 128, 128)
    for b in range(3):
        got = _collect_warp(
            warp_tiles(src, sgt, dgt, (128, 128), tile_px=ts, method="bilinear",
                       band=b).collect(), (128, 128), ts)
        ref = _collect_warp(
            warp_tiles(_src_tiles_df(spark, chans[b], ts), sgt, dgt, (128, 128),
                       tile_px=ts, method="bilinear").collect(), (128, 128), ts)
        assert (got == ref).all(), (b, int((got != ref).sum()))
    import pytest as _pytest
    with _pytest.raises(Exception, match="3 band"):
        warp_tiles(src, sgt, dgt, (128, 128), tile_px=ts, band=3).collect()
