"""Real-format ingestion tests: MBTiles SQLite archives and protobuf
MVT tiles, separately and composed into the reference's actual read
pipeline (mbtiles.cpp:128-225 fetch → mvt.cpp:732-770 parse →
feature decode)."""

import gzip
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from gdal_drivers_spark.core import mvtcodec, mvtproto
from gdal_drivers_spark.operators.lookup import fetch_tiles, parse_requests
from gdal_drivers_spark.operators.mvt import decode_features, encode_tiles
from gdal_drivers_spark.sources.mbtiles import (
    fetch_one,
    read_mbtiles,
    read_mbtiles_features,
    read_metadata,
    write_mbtiles,
)


@pytest.fixture()
def archive(tmp_path):
    path = str(tmp_path / "a.mbtiles")
    rows = []
    for z in (2, 3):
        n = 1 << z
        for x in range(n):
            for tms in range(n):
                rows.append((z, x, tms, f"{z}/{x}/{tms}".encode()))
    write_mbtiles(path, rows, metadata={"format": "pbf", "name": "a"})
    return path


def test_read_mbtiles_scan_and_flip(spark, archive):
    df = read_mbtiles(spark, [archive])
    got = df.collect()
    assert len(got) == 4 * 4 + 8 * 8
    for r in got:
        n = 1 << r.zoom
        assert r.y == n - 1 - r.tms_y  # TMS flip (mbtiles.cpp:154-155)
        assert bytes(r.tile_data) == f"{r.zoom}/{r.x}/{r.tms_y}".encode()


def test_read_metadata(spark, archive):
    meta = {r.key: r.value for r in read_metadata(spark, [archive]).collect()}
    assert meta == {"format": "pbf", "name": "a"}


def test_fetch_one_parity(archive):
    # stored TMS row for xyz y: tms = max - y
    assert fetch_one(f"{archive}/2-1-3") == b"2/1/0"
    assert fetch_one(f"{archive}/3-0-0") == b"3/0/7"
    assert fetch_one(f"{archive}/2-0-0") == b"2/0/3"
    with pytest.raises(ValueError):
        fetch_one("no-slash")
    with pytest.raises(ValueError):
        fetch_one(f"{archive}/2-9-0")  # out of bounds (mbtiles.cpp:146-152)
    with pytest.raises(ValueError):
        fetch_one(f"{archive}/2-x-0")  # strict parse (mbtiles.cpp:63-110)


def test_missing_tile_is_none(tmp_path):
    path = str(tmp_path / "sparse.mbtiles")
    write_mbtiles(path, [(1, 0, 0, b"only")])
    assert fetch_one(f"{path}/1-1-1") is None  # no row, no error


def test_full_reference_pipeline(spark, tmp_path):
    """mbtiles archive of gzipped PROTOBUF vector tiles → distributed
    scan → request join → gunzip → proto feature decode with typed
    attributes: the complete read path a reference user runs."""
    path = str(tmp_path / "mvt.mbtiles")
    z = 2
    n = 1 << z
    rows = []
    for x in range(n):
        for y in range(n):
            feat = {
                "id": 1 + x * n + y,
                "tags": np.array([0, 0, 1, 1], np.uint64),
                "geom_type": mvtcodec.GEOM_POINT,
                "geometry": np.array(
                    [(1 << 3) | 1, (10 * x) << 1, (10 * y) << 1], np.uint64
                ),
            }
            blob = mvtproto.encode_tile(
                [{"name": "pts", "extent": 256, "version": 2,
                  "keys": ["ix", "score"],
                  "values": [("int", x * 100 + y), ("double", x + y / 2.0)],
                  "features": [feat]}]
            )
            rows.append((z, x, n - 1 - y, gzip.compress(blob, mtime=0)))
    write_mbtiles(path, rows)

    store = read_mbtiles(spark, [path]).select(
        "zoom", "x", F.col("tms_y").alias("y"), "tile_data"
    )
    reqs = spark.createDataFrame(
        [(i, f"{z}-{i % n}-{i // n}") for i in range(n * n)], "req_id long, path string"
    )
    tiles = fetch_tiles(parse_requests(reqs), store).select(
        F.col("zoom").alias("z"), F.col("x").alias("tx"),
        F.col("y").alias("ty"), F.col("tile_data").alias("data"),
    ).withColumn("z", F.col("z").cast("int"))
    feats = decode_features(tiles)
    got = {r.fid: r for r in feats.collect()}
    assert len(got) == n * n
    for x in range(n):
        for y in range(n):
            r = got[1 + x * n + y]
            assert r.props_typed["ix"]["i"] == x * 100 + y
            assert r.props_typed["score"]["d"] == x + y / 2.0
            assert r.props["ix"] == str(x * 100 + y)
            assert r.geom_type == "point" and r.n_vertices == 1


def test_proto_poison_tile_survives(spark):
    """Corrupt protobuf bytes poison only their own rows; the stage
    completes (per-tile decode guard in decode_features)."""
    good = mvtproto.encode_tile(
        [{"name": "l", "extent": 256, "version": 2, "keys": [], "values": [],
          "features": [{"id": 5, "tags": np.zeros(0, np.uint64),
                        "geom_type": 1,
                        "geometry": np.array([9, 2, 2], np.uint64)}]}]
    )
    tiles = spark.createDataFrame(
        [(0, 0, 0, good), (0, 1, 0, b"\xff\xfe garbage"), (0, 2, 0, b"")],
        "z int, tx long, ty long, data binary",
    )
    got = decode_features(tiles).collect()
    assert [r.fid for r in got] == [5]


def test_poison_archives_survive_scan(spark, tmp_path, archive):
    """A corrupt file, a missing file, and a SQLite db without a tiles
    table each yield zero rows; the good archive in the same scan still
    reads fully (poison-archive guard)."""
    import sqlite3 as _sq

    corrupt = str(tmp_path / "bad.mbtiles")
    with open(corrupt, "wb") as f:
        f.write(b"definitely not sqlite")
    no_tiles = str(tmp_path / "empty.mbtiles")
    con = _sq.connect(no_tiles)
    con.execute("CREATE TABLE other (x INTEGER)")
    con.commit()
    con.close()
    missing = str(tmp_path / "nope.mbtiles")

    df = read_mbtiles(spark, [archive, corrupt, no_tiles, missing])
    got = df.collect()
    assert len(got) == 4 * 4 + 8 * 8  # exactly the good archive's tiles
    assert {r.archive for r in got} == {archive}


def test_proto_sink_roundtrip(spark):
    """Full write/read symmetry: feature rows → encode_tiles (real
    protobuf blobs, one per tile) → decode_features returns the same
    features, coordinates and props."""
    import json

    rows = [
        (1, 0, 0, "pts", 7, "point", 1, 0, 1, json.dumps([[[0.25, 0.25]]]), {"name": "a"}),
        (1, 0, 0, "pts", 8, "point", 1, 0, 1, json.dumps([[[0.125, 0.375]]]), {"name": "b"}),
        (1, 1, 0, "pts", 9, "point", 1, 0, 1, json.dumps([[[0.75, 0.25]]]), {"name": "c"}),
    ]
    feats = spark.createDataFrame(
        rows,
        "z int, tx long, ty long, layer string, fid long, geom_type string, "
        "n_parts int, n_rings int, n_vertices int, geom_json string, "
        "props map<string,string>",
    )
    blobs = encode_tiles(feats, extent=256)
    assert blobs.count() == 2
    got = sorted(
        (r.fid, r.geom_type, r.n_vertices, r.props["name"], r.geom_json)
        for r in decode_features(blobs).collect()
    )
    assert got == sorted((r[4], r[5], r[8], r[10]["name"], r[9]) for r in rows)


def test_engine_open_mbtiles_features(spark, tmp_path):
    """read_mbtiles_features: the reference read path in one call —
    archive → gunzip → protobuf decode → typed features."""
    path = str(tmp_path / "e.mbtiles")
    blob = mvtproto.encode_tile(
        [{"name": "l", "extent": 256, "version": 2,
          "keys": ["n"], "values": [("int", 42)],
          "features": [{"id": 3, "tags": np.array([0, 0], np.uint64),
                        "geom_type": 1,
                        "geometry": np.array([9, 10 << 1, 20 << 1], np.uint64)}]}]
    )
    write_mbtiles(path, [(1, 0, 0, gzip.compress(blob, mtime=0))],
                  metadata={"format": "pbf"})
    meta = read_metadata(spark, [path]).collect()
    assert {r.key: r.value for r in meta} == {"format": "pbf"}
    feats = read_mbtiles_features(spark, [path]).collect()
    assert len(feats) == 1
    r = feats[0]
    assert r.fid == 3 and r.props_typed["n"]["i"] == 42 and r.geom_type == "point"


def test_engine_documents_deduped(spark):
    """drop_near_dups: keeps cluster representatives and singletons,
    drops the other near-dup members."""
    from gdal_drivers_spark.operators.dedup import drop_near_dups

    base = "one two three four five six seven eight nine ten " * 4
    rows = [(1, base), (2, base), (3, "unrelated content entirely " * 8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = drop_near_dups(df, "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 3]


def test_proto_geometry_poison_feature_skipped(spark):
    """Review r02: valid protobuf framing carrying a BAD COMMAND STREAM
    (unknown opcode / truncated deltas / no vertices / extent 0)
    poisons only that feature, never the stage."""
    good = {"id": 1, "tags": np.zeros(0, np.uint64), "geom_type": 1,
            "geometry": np.array([9, 2, 2], np.uint64)}
    bad_opcode = {"id": 2, "tags": np.zeros(0, np.uint64), "geom_type": 1,
                  "geometry": np.array([(1 << 3) | 3], np.uint64)}  # opcode 3
    truncated = {"id": 3, "tags": np.zeros(0, np.uint64), "geom_type": 1,
                 "geometry": np.array([(5 << 3) | 1, 2, 2], np.uint64)}  # count 5, 1 pt
    no_parts = {"id": 4, "tags": np.zeros(0, np.uint64), "geom_type": 3,
                "geometry": np.array([7], np.uint64)}  # a lone ClosePath: no vertices
    blob = mvtproto.encode_tile(
        [{"name": "l", "extent": 256, "version": 2, "keys": [], "values": [],
          "features": [good, bad_opcode, truncated, no_parts]},
         {"name": "zero_extent", "extent": 0, "version": 2, "keys": [],
          "values": [], "features": [dict(good, id=9)]}]
    )
    tiles = spark.createDataFrame(
        [(0, 0, 0, blob)], "z int, tx long, ty long, data binary"
    )
    got = decode_features(tiles).collect()
    assert [r.fid for r in got] == [1]


def test_metadata_poison_archives_survive(spark, tmp_path, archive):
    corrupt = str(tmp_path / "bad.mbtiles")
    open(corrupt, "wb").write(b"not sqlite at all")
    missing = str(tmp_path / "gone.mbtiles")
    meta = read_metadata(spark, [archive, corrupt, missing]).collect()
    assert {r.key for r in meta} == {"format", "name"}  # only the good one


def test_null_tile_data_row_skipped(spark, tmp_path):
    import sqlite3 as _sq

    path = str(tmp_path / "nulls.mbtiles")
    write_mbtiles(path, [(1, 0, 0, b"ok")])
    con = _sq.connect(path)
    con.execute("INSERT INTO tiles VALUES (1, 1, 1, NULL)")
    con.commit(); con.close()
    got = read_mbtiles(spark, [path]).collect()
    assert len(got) == 1 and bytes(got[0].tile_data) == b"ok"


def test_fetch_tiles_corrupt_gzip_yields_empty(spark):
    """Review r02: the keyed-lookup gunzip path shares the poison
    policy — corrupt gzip → empty payload, stage survives."""
    store = spark.createDataFrame(
        [(1, 0, 1, b"\x1f\x8b corrupt"), (1, 1, 1, b"plain")],
        "zoom int, x long, y long, tile_data binary",
    )
    reqs = spark.createDataFrame([(0, "1-0-0"), (1, "1-1-0")], "req_id long, path string")
    rows = {r.x: bytes(r.tile_data) for r in fetch_tiles(parse_requests(reqs), store).collect()}
    assert rows[0] == b"" and rows[1] == b"plain"


def test_varint_overlong_truncates_to_64_bits():
    """Review r02: a hostile 10-byte varint decodes to its low 64 bits
    (protobuf wire rule), and a uint64 Feature.id lands as the int64
    two's-complement FID — never an Arrow overflow."""
    overlong = bytes([0xFF] * 9 + [0x7F])  # 2^70 - 1 unmasked
    v, pos = mvtproto.decode_varint(overlong, 0)
    assert v == (1 << 64) - 1 and pos == 10
    feat = mvtproto.encode_feature(
        {"id": (1 << 64) - 1, "tags": np.zeros(0, np.uint64),
         "geom_type": 1, "geometry": np.array([9, 2, 2], np.uint64)}
    )
    out = mvtproto.decode_feature(feat)
    assert out["id"] == -1  # two's-complement wrap, fits int64


def test_truncated_fixed_value_poisons_only_tile(spark):
    """Review r02b: a Value with a truncated fixed32 payload (valid
    outer framing, struct.error inside) poisons only its tile."""
    good = mvtproto.encode_tile(
        [{"name": "l", "extent": 256, "version": 2, "keys": [], "values": [],
          "features": [{"id": 5, "tags": np.zeros(0, np.uint64),
                        "geom_type": 1,
                        "geometry": np.array([9, 2, 2], np.uint64)}]}]
    )
    # layer with one Value: field (2, fixed32) but only 2 payload bytes
    bad_value = mvtproto._len_field(4, bytes([0x15, 0x00, 0x00]))
    bad_layer = mvtproto._len_field(3, mvtproto._len_field(1, b"l") + bad_value)
    tiles = spark.createDataFrame(
        [(0, 0, 0, good), (0, 1, 0, bad_layer)],
        "z int, tx long, ty long, data binary",
    )
    got = decode_features(tiles).collect()
    assert [r.fid for r in got] == [5]


def test_gunzip_sniff_two_byte_magic_and_zlib_error():
    from gdal_drivers_spark.core.codecs import gunzip_sniff

    # 0x1f followed by non-8b: raw payload, must pass through verbatim
    raw = b"\x1f\x00payload"
    assert gunzip_sniff(raw) == raw
    # valid gzip header over corrupt deflate body (zlib.error) → None
    import gzip as _gz

    corrupt = _gz.compress(b"hello world" * 10, mtime=0)
    corrupt = corrupt[:12] + bytes([corrupt[12] ^ 0xFF]) + corrupt[13:]
    assert gunzip_sniff(corrupt) is None
    # healthy gzip round-trips
    assert gunzip_sniff(_gz.compress(b"x", mtime=0)) == b"x"
