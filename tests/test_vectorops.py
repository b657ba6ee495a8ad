"""MVT decode + keyed lookup parity tests (fixture golden per
FIXTURES.md §6/§7; semantics citations in the operator docstrings)."""

import numpy as np
import pandas as pd
import pytest

from gdal_drivers_spark.core import mvtcodec, mvtproto
from gdal_drivers_spark.operators.lookup import fetch_tiles, parse_requests
from gdal_drivers_spark.operators.mvt import decode_features, encode_tiles
from gdal_drivers_spark.sources import synth


@pytest.fixture(scope="module")
def fixture_layer():
    return synth.mvt_fixture(n_features=64)


def _tile_df(spark, fx, z=2, tx=1, ty=2):
    """One protobuf tile holding the fixture layer (string values)."""
    blob = mvtproto.encode_tile(
        [{"name": fx["layer"], "extent": fx["extent"], "version": 2, "keys": fx["keys"],
          "values": [("string", v) for v in fx["values"]], "features": fx["features"]}]
    )
    return spark.createDataFrame([(z, tx, ty, blob)], "z int, tx long, ty long, data binary")


def test_decode_skips_unknown_and_counts(spark, fixture_layer):
    fx = fixture_layer
    out = decode_features(_tile_df(spark, fx)).collect()
    n_known = sum(1 for f in fx["features"] if f["geom_type"] != mvtcodec.GEOM_UNKNOWN)
    assert len(out) == n_known
    assert all(r["geom_type"] in ("point", "linestring", "polygon") for r in out)


def test_decode_props_dictionary_rules(spark, fixture_layer):
    fx = fixture_layer
    rows = {r["fid"]: r for r in decode_features(_tile_df(spark, fx)).collect()
            if r["geom_type"] != "unknown"}
    # out-of-bounds tag indices never produce a prop key
    for r in rows.values():
        for k in r["props"]:
            assert k in fx["keys"]
            assert r["props"][k] in fx["values"]


def test_decode_polygon_winding_golden(spark):
    """Hand-built two-polygon feature: CW exterior + CCW hole + CW
    exterior → 2 polygons, 3 rings (mvt.cpp:378-415)."""
    # tile frame is y-down; decode flips to y-up world. A ring that is
    # CW in the y-up world must be CCW in tile ints. is_clockwise runs
    # on world coords after the trafo.
    ext1_t = np.array([[0, 0], [0, 100], [100, 100], [100, 0]])  # CW after y-flip
    hole_t = np.array([[25, 25], [75, 25], [75, 75], [25, 75]])  # CCW after flip
    ext2_t = ext1_t + 500
    stream = mvtcodec.encode_geometry(mvtcodec.GEOM_POLYGON, [ext1_t, hole_t, ext2_t])
    fx = {
        "layer": "g", "extent": 4096, "keys": ["name"], "values": ["a"],
        "features": [
            {"id": 7, "tags": [0, 0], "geom_type": mvtcodec.GEOM_POLYGON,
             "geometry": stream}
        ],
    }
    out = decode_features(_tile_df(spark, fx, z=0, tx=0, ty=0)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["fid"] == 7
    assert r["n_parts"] == 2
    assert r["n_rings"] == 3
    assert r["props"] == {"name": "a"}


def test_decode_cursor_continuity(spark):
    """Deltas accumulate across parts — a second part's MoveTo is
    relative to the previous part's last vertex (mvt.cpp:164-169)."""
    lines = [np.array([[10, 10], [20, 10]]), np.array([[25, 15], [30, 20]])]
    stream = mvtcodec.encode_geometry(mvtcodec.GEOM_LINESTRING, lines)
    parts = mvtcodec.decode_geometry(mvtcodec.GEOM_LINESTRING, stream)
    assert np.allclose(parts[0], lines[0])
    assert np.allclose(parts[1], lines[1])


# ---------------------------------------------------------------- lookup

def test_keyed_lookup_roundtrip(spark):
    z = 4
    store_pdf = synth.tiles_kv_pdf(z)
    store = spark.createDataFrame(store_pdf).withColumnRenamed("zoom", "zoom")
    n = 1 << z
    reqs = spark.createDataFrame(
        pd.DataFrame({"path": [f"{z}-{x}-{y}" for x in range(n) for y in range(n)]})
    )
    parsed = parse_requests(reqs)
    got = fetch_tiles(parsed, store).collect()
    # oracle: a row exists iff the store has the TMS-flipped key; payload
    # gunzips to the expected plaintext prefix
    present = {(int(r.zoom), int(r.x), int(r.y)) for r in store_pdf.itertuples(index=False)}
    hits = 0
    for r in got:
        tms = (1 << z) - 1 - r["y"]
        assert (z, r["x"], tms) in present
        assert bytes(r["tile_data"]).startswith(f"tile-{z}-{r['x']}-{r['y']}".encode())
        hits += 1
    assert hits == len(present)  # every stored tile found exactly once


def test_request_parse_rejects_bad_paths(spark):
    reqs = spark.createDataFrame(
        pd.DataFrame({"path": ["3-1-2", "3-99-2", "x-1-2", "3-1", "3--1-2", "03-001-2"]})
    )
    got = parse_requests(reqs).select("path").collect()
    paths = {r["path"] for r in got}
    assert "3-1-2" in paths
    assert "3-99-2" not in paths  # out of bounds (2^3-1=7)
    assert "x-1-2" not in paths and "3-1" not in paths and "3--1-2" not in paths
    assert "03-001-2" in paths  # leading zeros parse as ints (width rule relaxed)


def test_encode_layers_roundtrip(spark, fixture_layer):
    """Vector write path: decode → encode_tiles → decode must be a
    fixpoint — same fid/type/shape counts, same coordinate multiset,
    same props (dictionaries rebuilt, tag indices re-derived). The sink
    is one grouped kernel keyed by tile: its executed plan has exactly
    one shuffle exchange."""
    import re

    extent = fixture_layer["extent"]
    first = decode_features(_tile_df(spark, fixture_layer))
    re_encoded = encode_tiles(first, extent=extent)
    second = decode_features(re_encoded)

    def snapshot(df):
        rows = df.select(
            "fid", "geom_type", "n_parts", "n_rings", "n_vertices",
            "geom_json", "props",
        ).collect()
        return sorted(
            (
                r["fid"], r["geom_type"], r["n_parts"], r["n_rings"],
                r["n_vertices"], r["geom_json"],
                tuple(sorted((r["props"] or {}).items())),
            )
            for r in rows
        )

    a, b = snapshot(first), snapshot(second)
    assert len(a) == len(b) > 0
    assert a == b
    re_encoded.collect()
    plan = re_encoded._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("== Initial Plan ==")[0]
    assert len(re.findall(r"\bExchange\b", final)) == 1, final


def test_raster_vector_tile_loop(spark):
    """The full raster↔vector↔tiles loop: quadtree mask → rasterize to
    pixel tiles → vectorize back to maximal quads → each white quad
    becomes a polygon feature → encode as MVT tiles on the z=1 tile
    grid → decode — coordinates survive exactly (quad corners are
    dyadic, on the extent grid) and total white area is preserved."""
    import json

    from gdal_drivers_spark.operators.rasterize import rasterize_quads, vectorize_tiles

    depth, tile_px, z = 6, 32, 1
    quads = spark.createDataFrame(synth.quads_pdf(depth))
    tiles = rasterize_quads(quads, depth, tile_px)
    vq = vectorize_tiles(tiles, depth, tile_px).filter("value = 'white'").collect()
    assert len(vq) > 4

    n = 1 << z
    feats, area_in = [], 0.0
    for i, r in enumerate(vq):
        s = 1.0 / (1 << r["level"])
        x0, x1 = r["qx"] * s, r["qx"] * s + s
        y1, y0 = 1.0 - r["qy"] * s, 1.0 - r["qy"] * s - s
        area_in += s * s
        ring = [[x0, y0], [x0, y1], [x1, y1], [x1, y0], [x0, y0]]
        tx = min(int(x0 * n), n - 1)
        ty = min(int((1.0 - y1) * n), n - 1)
        feats.append(
            (z, tx, ty, "mask", i + 1, "polygon", json.dumps([[ring]]), {"v": "white"})
        )
    fdf = spark.createDataFrame(
        pd.DataFrame(
            feats,
            columns=["z", "tx", "ty", "layer", "fid", "geom_type", "geom_json", "props"],
        )
    )
    decoded = decode_features(encode_tiles(fdf, extent=256))
    got = decoded.collect()
    assert len(got) == len(vq)
    area_out = 0.0
    for r in got:
        polys = json.loads(r["geom_json"])
        for rings in polys:
            for ring in rings:
                xs = [p[0] for p in ring]
                ys = [p[1] for p in ring]
                area_out += abs(
                    sum(xs[i] * ys[i + 1] - xs[i + 1] * ys[i] for i in range(len(ring) - 1))
                ) / 2.0
    assert abs(area_out - area_in) < 1e-12
