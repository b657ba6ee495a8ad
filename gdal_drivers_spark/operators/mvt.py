"""Vector-tile feature decode — the MVT driver's read path
(``/root/reference/gdal-drivers/mvt.cpp``) as a columnar batch decode.

The reference iterates features one at a time (``GetNextFeature``,
``mvt.cpp:524-618``); here a whole encoded layer decodes in one
``mapInPandas`` batch and ``explode``s to feature rows:

- UNKNOWN-type features skipped (``mvt.cpp:526-533``, P5);
- dictionary tag join: tags = (key-idx, value-idx) pairs; odd trailing
  tag ignored (``mvt.cpp:545-546``); out-of-bounds indices dropped
  (``mvt.cpp:553-560``, P6/J4);
- protobuf ``id`` field wins over an ``id`` attribute; the attribute
  is the FID fallback (``mvt.cpp:569-581``);
- geometry: zigzag → cursor cumsum → typed assembly with the
  clockwise-exterior winding rule (``mvt.cpp:241-436``);
- the Trafo maps tile-local ints to world coords (``mvt.cpp:64-93``).

Input rows: one per encoded layer-in-tile:
(z:int, tx:long, ty:long, layer:string, extent:int,
 keys:array<string>, values:array<string>,
 features:array<struct<id:long, tags:array<int>, geom_type:int,
 geometry:array<long>>>)

Output: one row per decoded feature — the union static schema
(SURVEY §1.3: per-feature dynamic schema collapses to union + map).
"""

from __future__ import annotations

import json
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..core import mvtcodec
from ._groups import run_grouped

FEATURES_SCHEMA = (
    "z int, tx long, ty long, layer string, fid long, geom_type string, "
    "n_parts int, n_rings int, n_vertices int, geom_json string, "
    "props map<string,string>"
)

_TYPE_NAMES = {
    mvtcodec.GEOM_POINT: "point",
    mvtcodec.GEOM_LINESTRING: "linestring",
    mvtcodec.GEOM_POLYGON: "polygon",
}


def decode_features(
    layers: DataFrame, world=(0.0, 0.0, 1.0, 1.0), fields: bool = True
) -> DataFrame:
    """Encoded layers → feature rows (columnar batch decode + explode).

    ``fields=False`` is the reference's ``MVT_NOFIELDS`` open option
    (mvt.cpp:806-807 via :543/:599-601): skip attribute decode
    entirely — ``props`` comes back empty and the tag→dictionary work
    is never done (a decode-cost lever; Spark column pruning removes
    the column downstream, this removes the Python work too). The
    'id'-attribute FID fallback necessarily disappears with the
    fields, exactly as in the reference."""

    def _decode(batches):
        for pdf in batches:
            out = []
            for lr in pdf.itertuples():
                keys = list(lr.keys)
                values = list(lr.values)
                for fi, f in enumerate(lr.features):
                    gt = int(f["geom_type"])
                    if gt not in _TYPE_NAMES:
                        continue  # UNKNOWN skipped (mvt.cpp:526-533)
                    # --- attributes (dictionary join, J4)
                    props = {}
                    if fields:
                        tags = list(f["tags"])
                        for i in range(0, len(tags) - 1, 2):  # odd trailing ignored
                            ki, vi = tags[i], tags[i + 1]
                            if 0 <= ki < len(keys) and 0 <= vi < len(values):
                                props[keys[ki]] = values[vi]
                    # --- FID: proto id wins, else 'id' attribute, else seq
                    fid = int(f["id"])
                    if fid == 0 and "id" in props:
                        try:
                            fid = int(props["id"])
                        except ValueError:
                            fid = fi
                    # --- geometry
                    stream = np.asarray(list(f["geometry"]), np.int64)
                    parts = mvtcodec.decode_geometry(gt, stream)
                    world_parts = mvtcodec.tile_to_world(
                        parts, int(lr.z), int(lr.tx), int(lr.ty), int(lr.extent), world
                    )
                    if gt == mvtcodec.GEOM_POLYGON:
                        polys = mvtcodec.assemble_polygons(world_parts)
                        n_rings = sum(len(p) for p in polys)
                        geom = [[r.tolist() for r in p] for p in polys]
                        n_parts = len(polys)
                    else:
                        n_rings = 0
                        geom = [p.tolist() for p in world_parts]
                        n_parts = len(world_parts)
                    n_vertices = int(sum(len(p) for p in world_parts))
                    out.append(
                        (
                            int(lr.z), int(lr.tx), int(lr.ty), lr.layer, fid,
                            _TYPE_NAMES[gt], n_parts, n_rings, n_vertices,
                            json.dumps(geom), props,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "z", "tx", "ty", "layer", "fid", "geom_type",
                    "n_parts", "n_rings", "n_vertices", "geom_json", "props",
                ],
            )

    return layers.mapInPandas(_decode, FEATURES_SCHEMA)


_TYPE_IDS = {v: k for k, v in _TYPE_NAMES.items()}

# ---------------------------------------------------------- protobuf path

PROTO_FEATURES_SCHEMA = FEATURES_SCHEMA + (
    ", props_typed map<string,struct<t:string,s:string,d:double,i:long,b:boolean>>"
)


def _stringize(kind: str, v) -> str:
    """Typed Value → canonical string for the legacy string map.
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


def encode_tiles_proto(layers: DataFrame) -> DataFrame:
    """The protobuf SINK: encoded array-layer rows (LAYERS_SCHEMA, the
    output of ``encode_layers``) → real ``.mvt`` protobuf blobs, one
    row per tile — (z, tx, ty, data:binary). Grouped by tile so a tile
    with several layers frames them into one blob, ready for an
    MBTiles archive (``sources.mbtiles.write_mbtiles``) or object
    storage. Inverse of ``decode_features_proto``'s framing; values
    are carried as strings (the array encoding's dictionary), matching
    the engine's canonical string rendering."""
    from ..core import mvtproto

    def _encode(key, g):
        order = sorted(range(len(g["layer"])), key=lambda i: g["layer"][i])
        lrs = [
            {
                "name": str(g["layer"][i]),
                "extent": int(g["extent"][i]),
                "version": 2,
                "keys": list(g["keys"][i]),
                "values": [("string", str(v)) for v in g["values"][i]],
                "features": [
                    {
                        "id": int(f["id"]),
                        "tags": np.asarray(list(f["tags"]), np.uint64),
                        "geom_type": int(f["geom_type"]),
                        "geometry": np.asarray(list(f["geometry"]), np.uint64),
                    }
                    for f in g["features"][i]
                ],
            }
            for i in order
        ]
        return [(*key, mvtproto.encode_tile(lrs))]

    return run_grouped(
        layers, ["z", "tx", "ty"], ["layer", "extent", "keys", "values", "features"],
        _encode, "z int, tx long, ty long, data binary",
    )


def decode_features_proto(
    tiles: DataFrame, world=(0.0, 0.0, 1.0, 1.0), fields: bool = True
) -> DataFrame:
    """Real ``.mvt``/``.pbf`` protobuf tiles → feature rows.

    Input rows: (z:int, tx:long, ty:long, data:binary) — the shape the
    MBTiles fetch hands to the parser (mvt.cpp:732-770). Output: the
    same union schema as ``decode_features`` plus ``props_typed``, the
    typed attribute side-channel (F9). One layer-in-tile may fan out to
    many feature rows; corrupt tiles poison only their own rows (the
    decode guards per-tile, emitting zero features for garbage bytes
    rather than failing the stage).

    ``fields=False`` = the reference's ``MVT_NOFIELDS`` open option
    (mvt.cpp:806-807): both attribute maps come back empty and the
    tag→dictionary/Value work is skipped entirely."""
    from ..core import mvtproto

    def _decode(batches):
        for pdf in batches:
            out = []
            for tr in pdf.itertuples():
                try:
                    layers = mvtproto.decode_tile(bytes(tr.data))
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
                        if fields:
                            tags = f["tags"]
                            for i in range(0, len(tags) - 1, 2):
                                ki, vi = int(tags[i]), int(tags[i + 1])
                                if 0 <= ki < len(keys) and 0 <= vi < len(vals):
                                    kind, v = vals[vi]
                                    props[keys[ki]] = _stringize(kind, v)
                                    tprops[keys[ki]] = _typed(kind, v)
                        fid = int(f["id"])
                        if fid == 0 and "id" in props:
                            try:
                                fid = int(props["id"])
                            except ValueError:
                                fid = fi
                        # the geometry guard must cover the COMMAND
                        # STREAM decode too: valid protobuf framing can
                        # still carry a bad opcode / truncated deltas /
                        # degenerate stream — such a feature poisons
                        # only itself, never the stage (review r02)
                        try:
                            stream = np.asarray(f["geometry"], np.int64)
                            parts = mvtcodec.decode_geometry(gt, stream)
                            world_parts = mvtcodec.tile_to_world(
                                parts, int(tr.z), int(tr.tx), int(tr.ty), extent, world
                            )
                            if gt == mvtcodec.GEOM_POLYGON:
                                polys = mvtcodec.assemble_polygons(world_parts)
                                n_rings = sum(len(p) for p in polys)
                                geom = [[r.tolist() for r in p] for p in polys]
                                n_parts = len(polys)
                            else:
                                n_rings = 0
                                geom = [p.tolist() for p in world_parts]
                                n_parts = len(world_parts)
                            n_vertices = int(sum(len(p) for p in world_parts))
                        except (ValueError, IndexError, ZeroDivisionError, OverflowError):
                            continue
                        out.append(
                            (
                                int(tr.z), int(tr.tx), int(tr.ty), lr["name"], fid,
                                _TYPE_NAMES[gt], n_parts, n_rings, n_vertices,
                                json.dumps(geom), props, tprops,
                            )
                        )
            yield pd.DataFrame(
                out,
                columns=[
                    "z", "tx", "ty", "layer", "fid", "geom_type",
                    "n_parts", "n_rings", "n_vertices", "geom_json",
                    "props", "props_typed",
                ],
            )

    return tiles.mapInPandas(_decode, PROTO_FEATURES_SCHEMA)

LAYERS_SCHEMA = (
    "z int, tx long, ty long, layer string, extent int, keys array<string>, "
    "values array<string>, features array<struct<id:long,tags:array<int>,"
    "geom_type:int,geometry:array<long>>>"
)


def encode_layers(
    features: DataFrame, extent: int = 256, world=(0.0, 0.0, 1.0, 1.0)
) -> DataFrame:
    """The vector WRITE path — inverse of ``decode_features``: feature
    rows (decode's output shape) → encoded per-tile layers. The
    reference is read-only (update refused, mvt.cpp:771-774); a lake
    engine needs the sink too, e.g. to materialize vectorize() output
    as tiles. Per tile-layer: rebuild the key/value dictionaries
    (sorted → deterministic tag indices), inverse-Trafo world→tile
    ints, re-encode command streams (zigzag + cursor deltas). Grouped
    Arrow UDF keyed by (z,tx,ty,layer) — the same partitioning a
    tile sink writes with, so encode feeds the writer shuffle-free."""
    import json

    def _encode(key, g):
        z, tx, ty, layer = *key[:3], str(key[3])
        props_l = [dict(p or ()) for p in g["props"]]
        keys = sorted({k for props in props_l for k in props})
        vals = sorted({v for props in props_l for v in props.values()})
        kidx = {k: i for i, k in enumerate(keys)}
        vidx = {v: i for i, v in enumerate(vals)}
        feats = []
        # features in data order (fid first), never shuffle-arrival order
        rows = sorted(zip(g["fid"], g["geom_type"], g["geom_json"], props_l),
                      key=lambda r: (r[0], r[1], r[2], sorted(r[3].items())))
        for fid, geom_type, geom_json, props in rows:
            gt = _TYPE_IDS[geom_type]
            geom = json.loads(geom_json)
            if gt == mvtcodec.GEOM_POLYGON:
                # polygons→rings; decode closed the rings — encode wants open
                rings = [np.asarray(ring)[:-1] for poly in geom for ring in poly]
                parts = rings
            else:
                parts = [np.asarray(p) for p in geom]
            tparts = mvtcodec.world_to_tile(parts, z, tx, ty, extent, world)
            stream = mvtcodec.encode_geometry(gt, tparts)
            tags = []
            for k, v in sorted(props.items()):
                tags.extend((kidx[k], vidx[v]))
            feats.append(
                {"id": int(fid), "tags": tags, "geom_type": gt,
                 "geometry": stream.tolist()}
            )
        return [(z, tx, ty, layer, extent, keys, vals, feats)]

    return run_grouped(
        features, ["z", "tx", "ty", "layer"],
        ["fid", "geom_type", "geom_json", "props"], _encode, LAYERS_SCHEMA,
    )
