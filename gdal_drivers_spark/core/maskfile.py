"""Quadtree mask file codec — the engine's own serialization of a
tristate quadtree mask.

Mirrors the reference mask driver's storage shape
(``/root/reference/gdal-drivers/mask.cpp``): a magic-probed header
(``GDALQM`` 6-byte magic, ``mask.cpp:56``; probe ``mask.cpp:95-108``),
reserved bytes + length-prefixed SRS WKT + 4×f64 extents then the tree
(header layout read at ``mask.cpp:130-163``), with extents squared up
to 2^depth cells (``mask.cpp:285-297``). Two wire dialects:

- ``GQM1`` (engine-native): 4-byte magic + 2 reserved, then the common
  body below;
- ``GDALQM`` (reference header layout, ``mask.cpp:274-303``): the
  exact 6-byte magic + 2×u8 reserved + u32-length WKT + 4×f64 extents
  header the reference probes and parses (``mask.cpp:95-108``,
  ``130-163``). The node stream that follows the reference header is
  ``imgproc::mappedqtree::RasterMask`` — an external library whose
  serialization is not part of the reference tree — so after the
  GDALQM header the engine stores its own flat node list (below).
  Probe + header parse are wire-compatible; the tree payload is
  engine-defined and documented as such.

Node record: (level:u8, qx:u32, qy:u32, value:u8 ∈ {0=black, 1=white,
2=gray}); the tree is the maximal-quad decomposition (same invariant
as operators/rasterize.vectorize_tiles output).
"""

from __future__ import annotations

import struct

import numpy as np

MAGIC = b"GQM1"
MAGIC_REF = b"GDALQM"  # mask.cpp:56
_VAL_CODE = {"black": 0, "white": 1, "gray": 2}
_CODE_VAL = np.array(list(_VAL_CODE))  # code → name


def square_up(x0: float, y0: float, x1: float, y1: float, depth: int):
    """Square extents up to a 2^depth cell grid (mask.cpp:285-297):
    the stored domain is the smallest axis-aligned square with
    power-of-two cell count containing the input extents."""
    side = max(x1 - x0, y1 - y0)
    return x0, y0, x0 + side, y0 + side


def write_mask(
    quads,
    depth: int,
    extents: tuple[float, float, float, float],
    srs: str = "LOCAL_CS[\"unit\"]",
    wire: str = "gqm1",
) -> bytes:
    """Serialize an iterable of ``(level, qx, qy, value)`` quad rows
    (``value`` one of ``black``/``white``/``gray``) to the mask format.
    ``wire="gdalqm"`` emits the reference's header layout (6-byte
    ``GDALQM`` magic + 2×u8 reserved, mask.cpp:274-277)."""
    recs = [
        struct.pack("<BIIB", int(level), int(qx), int(qy), _VAL_CODE[value])
        for level, qx, qy, value in quads
    ]
    x0, y0, x1, y1 = square_up(*extents, depth)
    wkt = srs.encode()
    out = [
        MAGIC_REF if wire == "gdalqm" else MAGIC,
        b"\x00\x00",  # 2×u8 reserved (mask.cpp:276-277)
        struct.pack("<I", len(wkt)),
        wkt,
        struct.pack("<4d", x0, y0, x1, y1),
        struct.pack("<BI", depth, len(recs)),
    ]
    return b"".join(out + recs)


def probe(buf: bytes) -> bool:
    """Magic-byte probe (mask.cpp:95-108): accepts both the engine
    magic and the reference's ``GDALQM``."""
    return buf[:4] == MAGIC or buf[:6] == MAGIC_REF


def read_mask(buf: bytes):
    """Parse → (quads, depth, extents, srs). ``quads`` maps each column
    (``level``, ``qx``, ``qy``, ``size``: int64; ``value``: str) to a
    numpy array, one element per stored quad."""
    if buf[:6] == MAGIC_REF:
        pos = 8  # 6-byte magic + 2 reserved (mask.cpp:130-143)
    elif buf[:4] == MAGIC:
        pos = 6  # 4-byte magic + 2 reserved
    else:
        raise ValueError("not a GQM1/GDALQM quadtree mask")
    (wkt_len,) = struct.unpack_from("<I", buf, pos)
    pos += 4
    srs = buf[pos : pos + wkt_len].decode()
    pos += wkt_len
    extents = struct.unpack_from("<4d", buf, pos)
    pos += 32
    depth, n = struct.unpack_from("<BI", buf, pos)
    pos += 5
    rec = np.frombuffer(buf, np.uint8, n * 10, pos).reshape(n, 10)
    level = rec[:, 0].astype(np.int64)
    qx = rec[:, 1:5].copy().view(np.uint32).ravel().astype(np.int64)
    qy = rec[:, 5:9].copy().view(np.uint32).ravel().astype(np.int64)
    val = rec[:, 9]
    quads = {
        "level": level,
        "qx": qx,
        "qy": qy,
        "size": np.int64(1) << (np.int64(depth) - level),
        "value": _CODE_VAL[val],
    }
    return quads, int(depth), tuple(extents), srs
