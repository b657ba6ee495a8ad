"""Deterministic synthetic datasets (seed-fixed, no external data).

The primary table is ``images`` with the exact BASELINE.json input_hint
shape: (image_id:string, bytes:binary, w:int, h:int, fmt:string,
caption:string, phash:long). Generation is a pure function of the row
index, so it is reproducible at any scale and *distributed*: rows are
produced from an id frame (``spark.range(n)``, or a table's keys) by one
narrow Arrow kernel — each partition synthesizes its own slice, nothing
funnels through the driver (the way a 10^12-row table would actually be
materialized on a cluster).

Sidecar fixtures (tile boundaries, quadtree masks, blend sources,
MVT-style encoded tiles, keyed tile store) mirror the reference data
shapes per FIXTURES.md, with file:line citations at each generator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core import codecs, mvtcodec, qcell
from ..operators._groups import run_batches

WORLD = qcell.UNIT  # unit-square world; squared-up like mask.cpp:285-297

_ADJ = ["amber", "bright", "calm", "dusty", "early", "faded", "green", "hazy"]
_NOUN = ["valley", "harbor", "ridge", "meadow", "canyon", "delta", "plateau", "grove"]
_FMTS = ["raw", "png", "thumb"]
_SIZES = [16, 64, 256]  # 256 = reference block size (mask.cpp:131)


def splitmix64(i):
    """Deterministic 64-bit mix (public splitmix64 constants)."""
    with np.errstate(over="ignore"):  # uint64 wraparound is the point
        z = np.asarray(i, np.uint64) + np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def phash_of(i):
    """phash column: 64-bit splitmix of the row index (non-negative int64)."""
    return (splitmix64(i) >> np.uint64(1)).astype(np.int64)


def pattern(w: int, h: int, c: int, phash: int) -> np.ndarray:
    """pix[y,x,ch] = (x*3 + y*5 + ch*7 + phash) % 256 (FIXTURES.md §1)."""
    return (
        (
            np.arange(w, dtype=np.int64)[None, :, None] * 3
            + np.arange(h, dtype=np.int64)[:, None, None] * 5
            + np.arange(c, dtype=np.int64)[None, None, :] * 7
            + int(phash)
        )
        % 256
    ).astype(np.uint8)


def footprint_of(phash, max_span: float = 1 / 64):
    """Deterministic axis-aligned footprint in the unit world, derived
    from phash (extents model per mask.cpp:152-155 / blender config
    extents blender.cpp:741-743). Vectorized: phash int64 array →
    (x0, y0, x1, y1) float64 arrays."""
    h = np.asarray(phash, np.uint64)
    g = np.uint64(1 << 20)
    fx = ((h % g).astype(np.float64)) / float(1 << 20)
    fy = (((h >> np.uint64(20)) % g).astype(np.float64)) / float(1 << 20)
    fw = (((h >> np.uint64(40)) % np.uint64(1024)).astype(np.float64) + 1.0) / 1024.0
    fh = (((h >> np.uint64(50)) % np.uint64(1024)).astype(np.float64) + 1.0) / 1024.0
    x0 = fx * (1.0 - max_span)
    y0 = fy * (1.0 - max_span)
    return x0, y0, x0 + fw * max_span, y0 + fh * max_span


def _caption(i: int) -> str:
    return f"caption {i} {_ADJ[i % len(_ADJ)]} {_NOUN[i % len(_NOUN)]}"


def _image_rows(ids: list) -> list:
    """Rows of the images table (``IMAGES_SCHEMA``) for the given row
    indices."""
    rows = []
    for i, p in zip(ids, phash_of(np.array(ids, np.int64)).tolist()):
        w = _SIZES[(p >> 8) % len(_SIZES)]
        h = _SIZES[(p >> 16) % len(_SIZES)]
        fmt = _FMTS[i % len(_FMTS)]
        img = pattern(w, h, 3, p)
        rows.append((f"img{i:012d}", codecs.ENCODERS[fmt](img), w, h, fmt, _caption(i), p))
    return rows


IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
)


def images_df(ids: DataFrame) -> DataFrame:
    """The images table for the row indices in the long ``id`` column
    of ``ids``: ``spark.range(0, n, 1, partitions)`` for n rows, or any
    id frame with its own filters and partitioning. Each partition
    synthesizes its own rows in one narrow Arrow kernel."""
    return run_batches(ids, ["id"], lambda g: _image_rows(g["id"]), IMAGES_SCHEMA)


def region_boundaries(spark: SparkSession, z: int, region_mod: int) -> DataFrame:
    """Boundary table (FIXTURES.md §2): one (cell, region) row per cell
    of the level-``z`` grid, region = ``r{(x + y) % region_mod}``, built
    as Column arithmetic over ``spark.range(4^z)``. Small (4^z rows) —
    the broadcast side of the region cell join."""
    n = 1 << z
    return spark.range(n * n).select(
        (F.col("id").cast("long") / n).cast("long").alias("bx"),
        (F.col("id") % n).alias("by"),
    ).select(
        qcell.pack_col(z, F.col("bx"), F.col("by")).alias("cell"),
        F.concat(F.lit("r"), ((F.col("bx") + F.col("by")) % region_mod)).alias("region"),
    )


def quads_pdf(depth: int, seed: int = 42) -> pd.DataFrame:
    """Quadtree mask fixture (FIXTURES.md §3): recursively subdivide the
    square 2^depth domain; each node deterministically becomes white /
    black / gray(subdivide) — tristate semantics per mask.cpp:240-256."""
    rows = []

    def visit(level, qx, qy):
        h = int(splitmix64(np.uint64((level << 40) ^ (qx << 20) ^ qy ^ seed)))
        r = h % 100
        if level == depth:
            # gray leaves model an overview-rendered tree (partial nodes
            # served at a shallower depth, mask.cpp:213-217)
            rows.append((level, qx, qy, 1, "white" if r < 45 else ("black" if r < 85 else "gray")))
        elif level < 2:  # always subdivide near the root — a one-node
            # tree would make every downstream parity test trivially green
            for dx in (0, 1):
                for dy in (0, 1):
                    visit(level + 1, (qx << 1) | dx, (qy << 1) | dy)
        elif r < 30:
            rows.append((level, qx, qy, 1 << (depth - level), "white"))
        elif r < 55:
            rows.append((level, qx, qy, 1 << (depth - level), "black"))
        else:
            for dx in (0, 1):
                for dy in (0, 1):
                    visit(level + 1, (qx << 1) | dx, (qy << 1) | dy)

    visit(0, 0, 0)
    return pd.DataFrame(rows, columns=["level", "qx", "qy", "size", "value"])


def mvt_fixture(n_features: int = 64, extent: int = 4096, seed: int = 42):
    """Encoded vector-tile fixture (FIXTURES.md §6): features with id,
    dictionary-coded tags, geometry command streams; includes UNKNOWN
    features (skipped on decode, mvt.cpp:526-533), odd tag counts and
    out-of-bounds tag indices (mvt.cpp:545-560)."""
    keys = ["name", "kind", "rank", "flag"]
    values = [f"v{j}" for j in range(16)]
    feats = []
    for i in range(n_features):
        h = int(splitmix64(np.uint64(i ^ seed)))
        kind = h % 10
        cx, cy = (h >> 8) % extent, (h >> 24) % extent
        if kind < 3:  # points
            pts = np.array([[(cx + 37 * k) % extent, (cy + 53 * k) % extent] for k in range(1 + h % 3)])
            geom = mvtcodec.encode_geometry(mvtcodec.GEOM_POINT, [pts])
            gt = mvtcodec.GEOM_POINT
        elif kind < 6:  # linestrings
            parts = []
            for p in range(1 + h % 2):
                base = np.array([[cx, cy]]) + p * 101
                pts = base + np.array([[k * 13, (k * k * 7) % 97] for k in range(3 + h % 4)])
                parts.append(np.clip(pts, 0, extent - 1))
            geom = mvtcodec.encode_geometry(mvtcodec.GEOM_LINESTRING, parts)
            gt = mvtcodec.GEOM_LINESTRING
        elif kind < 9:  # polygon: one CW exterior + optional CCW hole
            s = 64 + (h % 256)
            x0, y0 = min(cx, extent - 1 - s), min(cy, extent - 1 - s)
            ext = np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s], [x0, y0 + s]])  # CW in y-down
            rings = [ext]
            if h % 2:
                q = s // 4
                hx, hy = x0 + q, y0 + q
                rings.append(np.array([[hx, hy], [hx, hy + q], [hx + q, hy + q], [hx + q, hy]]))  # CCW
            geom = mvtcodec.encode_geometry(mvtcodec.GEOM_POLYGON, rings)
            gt = mvtcodec.GEOM_POLYGON
        else:  # UNKNOWN — must be skipped by decode
            geom = np.array([], np.int64)
            gt = mvtcodec.GEOM_UNKNOWN
        tags = [i % len(keys), h % len(values)]
        if h % 5 == 0:
            tags += [99, 99]  # out-of-bounds indices — dropped (mvt.cpp:553-560)
        if h % 7 == 0:
            tags = tags + [0]  # odd tag count — trailing ignored (mvt.cpp:545-546)
        feats.append(
            {
                "id": i if h % 3 else 0,
                "tags": tags,
                "geom_type": gt,
                "geometry": geom,
            }
        )
    return {"layer": "fixture", "extent": extent, "keys": keys, "values": values, "features": feats}


def tiles_kv_pdf(z: int = 4, seed: int = 42) -> pd.DataFrame:
    """MBTiles-style keyed tile store (FIXTURES.md §7): (zoom, x, y,
    tile_data) with rows stored TMS-flipped (mbtiles.cpp:154-155), some
    payloads gzip-compressed (first byte 0x1f sniff, mbtiles.cpp:214-224),
    and some (z,x,y) keys absent (missing tile → empty result)."""
    import gzip as _gz

    n = 1 << z
    rows = []
    for x in range(n):
        for y in range(n):
            h = int(splitmix64(np.uint64((x << 32) ^ (y << 8) ^ z ^ seed)))
            if h % 5 == 0:
                continue  # hole
            payload = f"tile-{z}-{x}-{y}".encode() + bytes([h % 256]) * (h % 64)
            if h % 2:
                payload = _gz.compress(payload, 6, mtime=0)  # first byte 0x1f
            tms_row = (1 << z) - 1 - y
            rows.append((z, x, tms_row, payload))
    return pd.DataFrame(rows, columns=["zoom", "x", "y", "tile_data"])
