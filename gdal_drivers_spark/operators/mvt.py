"""Vector-tile feature decode and encode — the MVT driver's read path
(the reference's ``gdal-drivers/mvt.cpp``) as a columnar batch decode
over real protobuf ``Tile`` blobs (``proto/vector_tile.proto``, parsed
by ``core.mvtproto``), plus the inverse tile sink.

The reference iterates features one at a time (``GetNextFeature``,
``mvt.cpp:524-618``); here every tile of an Arrow batch decodes in one
``_groups.run_batches`` call and explodes to feature rows:

- UNKNOWN-type features skipped (``mvt.cpp:526-533``, P5);
- dictionary tag join: tags = (key-idx, value-idx) pairs; odd trailing
  tag ignored (``mvt.cpp:545-546``); out-of-bounds indices dropped
  (``mvt.cpp:553-560``, P6/J4);
- typed Value dispatch (``mvt.cpp:457-520``) into ``props_typed``, with
  the canonical string rendering in ``props``;
- protobuf ``id`` field wins over an ``id`` attribute; the attribute
  is the FID fallback (``mvt.cpp:569-581``);
- geometry: zigzag → cursor cumsum → typed assembly with the
  clockwise-exterior winding rule (``mvt.cpp:241-436``);
- the Trafo maps tile-local ints to world coords (``mvt.cpp:64-93``).

Input rows: (z:int, tx:long, ty:long, data:binary), one encoded tile
each — the shape the MBTiles fetch hands to the parser
(``mvt.cpp:732-770``).

Output: one row per decoded feature — the union static schema
(SURVEY §1.3: per-feature dynamic schema collapses to union + map).
"""

from __future__ import annotations

import json
import struct

import numpy as np
from pyspark.sql import DataFrame

from ..core import mvtcodec, mvtproto
from ._groups import run_batches, run_grouped

FEATURES_SCHEMA = (
    "z int, tx long, ty long, layer string, fid long, geom_type string, "
    "n_parts int, n_rings int, n_vertices int, geom_json string, "
    "props map<string,string>, "
    "props_typed map<string,struct<t:string,s:string,d:double,i:long,b:boolean>>"
)

_TYPE_NAMES = {
    mvtcodec.GEOM_POINT: "point",
    mvtcodec.GEOM_LINESTRING: "linestring",
    mvtcodec.GEOM_POLYGON: "polygon",
}
_TYPE_IDS = {v: k for k, v in _TYPE_NAMES.items()}


def decode_features(tiles: DataFrame, world=(0.0, 0.0, 1.0, 1.0)) -> DataFrame:
    """``.mvt``/``.pbf`` protobuf tiles → feature rows, with
    ``props_typed``, the typed attribute side-channel (F9), next to the
    string map. One tile may fan out to many feature rows.

    Poison policy: garbage bytes, a truncated Value or a layer with a
    non-positive extent emit zero rows for that tile or layer; a
    feature whose command stream does not decode (bad opcode, truncated
    deltas, empty stream) drops only itself. The stage never fails."""

    def _decode(g):
        for z, tx, ty, data in zip(g["z"], g["tx"], g["ty"], g["data"]):
            try:
                layers = mvtproto.decode_tile(bytes(data))
            except (ValueError, IndexError, UnicodeDecodeError, struct.error):
                # poison tile → zero rows, stage survives
                # (struct.error: truncated fixed32/fixed64 Value)
                continue
            for lr in layers:
                keys = lr["keys"]
                vals = lr["values"]
                extent = int(lr["extent"])
                if extent <= 0:
                    continue  # degenerate layer: poison, zero rows
                for fi, f in enumerate(lr["features"]):
                    gt = int(f["geom_type"])
                    if gt not in _TYPE_NAMES:
                        continue  # UNKNOWN skipped (mvt.cpp:526-533)
                    props: dict = {}
                    tprops: dict = {}
                    tags = f["tags"]
                    for i in range(0, len(tags) - 1, 2):  # odd trailing ignored
                        ki, vi = int(tags[i]), int(tags[i + 1])
                        if 0 <= ki < len(keys) and 0 <= vi < len(vals):
                            kind, v = vals[vi]
                            props[keys[ki]] = _stringize(kind, v)
                            tprops[keys[ki]] = _typed(kind, v)
                    # valid framing can still carry a bad command stream:
                    # such a feature poisons only itself, never the stage
                    try:
                        geom = _geometry(gt, f["geometry"], z, tx, ty, extent, world)
                    except (ValueError, IndexError, ZeroDivisionError, OverflowError):
                        continue
                    yield (z, tx, ty, lr["name"], _fid(int(f["id"]), props, fi),
                           _TYPE_NAMES[gt], *geom, props, tprops)

    return run_batches(tiles, ["z", "tx", "ty", "data"], _decode, FEATURES_SCHEMA)


def _fid(fid: int, props: dict, fi: int) -> int:
    """Feature id: the proto id wins, else the 'id' attribute, else the
    feature's sequence number in its layer."""
    if fid == 0 and "id" in props:
        try:
            return int(props["id"])
        except ValueError:
            return fi
    return fid


def _geometry(gt: int, stream, z: int, tx: int, ty: int, extent: int, world) -> tuple:
    """(n_parts, n_rings, n_vertices, geom_json) of one feature's
    command stream, in world coordinates."""
    parts = mvtcodec.decode_geometry(gt, np.asarray(stream, np.int64))
    world_parts = mvtcodec.tile_to_world(parts, z, tx, ty, extent, world)
    if gt == mvtcodec.GEOM_POLYGON:
        polys = mvtcodec.assemble_polygons(world_parts)
        n_parts, n_rings = len(polys), sum(len(p) for p in polys)
        geom = [[r.tolist() for r in p] for p in polys]
    else:
        n_parts, n_rings = len(world_parts), 0
        geom = [p.tolist() for p in world_parts]
    return n_parts, n_rings, int(sum(len(p) for p in world_parts)), json.dumps(geom)


def _stringize(kind: str, v) -> str:
    """Typed Value → canonical string for the ``props`` map.
    Deterministic and SQL-replicable (doubles via %.6f = printf)."""
    if kind == "string":
        return str(v)
    if kind in ("int", "uint", "sint"):
        return str(int(v))
    if kind == "bool":
        return "true" if v else "false"
    return f"{float(v):.6f}"  # float/double


def _typed(kind: str, v) -> dict:
    """Typed Value → struct row for the typed side-channel (F9: the
    7-way dispatch of mvt.cpp:457-520; bool subtype mvt.cpp:469-474).
    uints beyond int64 range keep only the string rendering."""
    s = v if kind == "string" else None
    d = float(v) if kind in ("float", "double") else None
    i = None
    if kind in ("int", "uint", "sint"):
        iv = int(v)
        i = iv if -(1 << 63) <= iv < (1 << 63) else None
        if i is None:
            s = str(iv)
    b = bool(v) if kind == "bool" else None
    return {"t": kind, "s": s, "d": d, "i": i, "b": b}


def encode_tiles(
    features: DataFrame, extent: int = 256, world=(0.0, 0.0, 1.0, 1.0)
) -> DataFrame:
    """The vector WRITE path — inverse of ``decode_features``: feature
    rows (decode's output shape) → one protobuf ``.mvt`` blob per tile,
    (z, tx, ty, data:binary), ready for an MBTiles archive
    (``sources.mbtiles.write_mbtiles``) or object storage. The
    reference is read-only (update refused, mvt.cpp:771-774); a lake
    engine needs the sink too, e.g. to materialize vectorize() output
    as tiles.

    One grouped Arrow kernel keyed by (z, tx, ty), so the sink plans a
    single exchange. Per layer of the tile: rebuild the key/value
    dictionaries (sorted → deterministic tag indices), inverse-Trafo
    world→tile ints and re-encode the command streams (zigzag + cursor
    deltas); the layers are framed sorted by name. Values are written
    as strings, the engine's canonical rendering in ``props``."""

    def _encode(key, g):
        z, tx, ty = key
        by_layer: dict = {}
        for layer, *row in zip(g["layer"], g["fid"], g["geom_type"], g["geom_json"], g["props"]):
            by_layer.setdefault(str(layer), []).append(row)
        layers = [_encode_layer(name, by_layer[name], z, tx, ty, extent, world)
                  for name in sorted(by_layer)]
        return [(z, tx, ty, mvtproto.encode_tile(layers))]

    return run_grouped(
        features, ["z", "tx", "ty"], ["layer", "fid", "geom_type", "geom_json", "props"],
        _encode, "z int, tx long, ty long, data binary",
    )


def _encode_layer(name: str, rows: list, z: int, tx: int, ty: int, extent: int, world) -> dict:
    """One layer's (fid, geom_type, geom_json, props) rows → the layer
    dict ``mvtproto.encode_tile`` frames."""
    rows = [(fid, gt, gj, dict(p or ())) for fid, gt, gj, p in rows]
    keys = sorted({k for *_, props in rows for k in props})
    vals = sorted({v for *_, props in rows for v in props.values()})
    kidx = {k: i for i, k in enumerate(keys)}
    vidx = {v: i for i, v in enumerate(vals)}
    feats = []
    # features in data order (fid first), never shuffle-arrival order
    for fid, geom_type, geom_json, props in sorted(
        rows, key=lambda r: (r[0], r[1], r[2], sorted(r[3].items()))
    ):
        gt = _TYPE_IDS[geom_type]
        geom = json.loads(geom_json)
        if gt == mvtcodec.GEOM_POLYGON:
            # polygons→rings; decode closed the rings — encode wants open
            parts = [np.asarray(ring)[:-1] for poly in geom for ring in poly]
        else:
            parts = [np.asarray(p) for p in geom]
        tparts = mvtcodec.world_to_tile(parts, z, tx, ty, extent, world)
        tags = []
        for k, v in sorted(props.items()):
            tags.extend((kidx[k], vidx[v]))
        feats.append({"id": int(fid), "tags": tags, "geom_type": gt,
                      "geometry": mvtcodec.encode_geometry(gt, tparts)})
    return {"name": name, "extent": extent, "version": 2, "keys": keys,
            "values": [("string", str(v)) for v in vals], "features": feats}
