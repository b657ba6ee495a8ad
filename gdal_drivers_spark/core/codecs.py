"""Image codecs — pure numpy + stdlib zlib, no external image libraries.

The format registry plays the role of the reference's driver registry +
magic-byte probing (``/root/reference/gdal-drivers/register.cpp:37-47``;
magic probe ``mask.cpp:95-108``): each format is identified by a magic
prefix and decoded by a vectorized numpy routine. Formats:

``raw``    GRW1 header + uncompressed uint8 pixels (lossless).
``png``    real PNG (spec-minimal: 8-bit gray / RGB, zlib, filters 0-4
           on decode, filter 0 on encode) — lossless.
``thumb``  lossy: 6-bit quantization (2 LSBs dropped) + zlib, decoded
           with mid-rise bin-center reconstruction — ≈46 dB worst
           case. Exercises the PSNR≥40dB gate.
``jpeg``   STUB — no JPEG library in this environment; decode raises
           NotImplementedError with a clear message (plumbing — schema,
           batching, dispatch — is real and tested via the other fmts).

Images are (h, w, c) uint8 arrays, c ∈ {1, 3}.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_RAW_MAGIC = b"GRW1"
_THUMB_MAGIC = b"GTH1"
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


# ----------------------------------------------------------------- raw

def encode_raw(img: np.ndarray) -> bytes:
    h, w, c = img.shape
    return _RAW_MAGIC + struct.pack("<IIB", w, h, c) + img.astype(np.uint8).tobytes()


def decode_raw(buf: bytes) -> np.ndarray:
    if buf[:4] != _RAW_MAGIC:
        raise ValueError("not a GRW1 raw image")
    w, h, c = struct.unpack_from("<IIB", buf, 4)
    return np.frombuffer(buf, np.uint8, w * h * c, 13).reshape(h, w, c)


# ----------------------------------------------------------------- png

def encode_png(img: np.ndarray) -> bytes:
    """Minimal spec-compliant PNG: 8-bit, color type 0 (gray) or 2 (RGB),
    filter 0 on every scanline, one IDAT chunk."""
    h, w, c = img.shape
    if c not in (1, 3):
        raise ValueError(f"png supports 1 or 3 channels, got {c}")
    color_type = 0 if c == 1 else 2

    def chunk(tag: bytes, payload: bytes) -> bytes:
        return (
            struct.pack(">I", len(payload))
            + tag
            + payload
            + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    # filter byte 0 prepended to each row
    rows = np.concatenate([np.zeros((h, 1), np.uint8), img.reshape(h, w * c)], axis=1)
    idat = zlib.compress(rows.tobytes(), 6)
    return _PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def _unfilter(raw: np.ndarray, h: int, w: int, c: int) -> np.ndarray:
    """PNG scanline unfilter, filters 0-4. Row-sequential by spec (each row
    depends on the previous reconstructed row); vectorized within a row
    where the filter allows."""
    stride = w * c
    rows = raw.reshape(h, stride + 1)
    ftypes = rows[:, 0]
    # fast path: all rows filter 0 (what encode_png emits) — no
    # neighbor dependencies, one vectorized copy
    if not ftypes.any():
        return rows[:, 1:].reshape(h, w, c).copy()
    data = rows[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), np.int32)
    prev = np.zeros(stride, np.int32)
    for r in range(h):
        f, cur = int(ftypes[r]), data[r]
        if f == 0:
            rec = cur
        elif f == 2:  # Up
            rec = (cur + prev) & 0xFF
        elif f in (1, 3, 4):  # Sub / Average / Paeth need left neighbor
            rec = np.empty(stride, np.int32)
            for i in range(stride):
                a = rec[i - c] if i >= c else 0
                b = prev[i]
                if f == 1:
                    rec[i] = (cur[i] + a) & 0xFF
                elif f == 3:
                    rec[i] = (cur[i] + ((a + b) >> 1)) & 0xFF
                else:
                    cc = prev[i - c] if i >= c else 0
                    p = a + b - cc
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                    rec[i] = (cur[i] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {f}")
        out[r] = rec
        prev = rec
    return out.astype(np.uint8).reshape(h, w, c)


def decode_png(buf: bytes) -> np.ndarray:
    if buf[:8] != _PNG_SIG:
        raise ValueError("not a PNG")
    pos, w = 8, None
    idat = b""
    while pos < len(buf):
        (ln,) = struct.unpack_from(">I", buf, pos)
        tag = buf[pos + 4 : pos + 8]
        payload = buf[pos + 8 : pos + 8 + ln]
        if tag == b"IHDR":
            w, h, depth, color_type = struct.unpack_from(">IIBB", payload, 0)
            if depth != 8 or color_type not in (0, 2):
                raise ValueError("only 8-bit gray/RGB PNG supported")
            c = 1 if color_type == 0 else 3
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
        pos += 12 + ln
    if w is None:
        raise ValueError("PNG missing IHDR")
    raw = np.frombuffer(zlib.decompress(idat), np.uint8)
    return _unfilter(raw, h, w, c)


# --------------------------------------------------------------- thumb

def encode_thumb(img: np.ndarray) -> bytes:
    """Lossy: 6-bit quantization (drop 2 LSBs) + zlib. Max per-pixel
    error 2 after the decode bias → PSNR ≈ 46 dB worst case, comfortably
    above the 40 dB gate while still being genuinely lossy."""
    h, w, c = img.shape
    payload = zlib.compress((img >> 2).astype(np.uint8).tobytes(), 6)
    return _THUMB_MAGIC + struct.pack("<IIB", w, h, c) + payload


def decode_thumb(buf: bytes) -> np.ndarray:
    if buf[:4] != _THUMB_MAGIC:
        raise ValueError("not a GTH1 thumb")
    w, h, c = struct.unpack_from("<IIB", buf, 4)
    q = np.frombuffer(zlib.decompress(buf[13:]), np.uint8).reshape(h, w, c)
    # mid-rise reconstruction: center of the quantization bin
    return ((q.astype(np.uint16) << 2) | 2).clip(0, 255).astype(np.uint8)


_DCT_MAGIC = b"GDC1"


def dct_basis(n: int = 8) -> np.ndarray:
    """Orthonormal n×n DCT-II basis: B[k,j] = a_k·cos(π(2j+1)k/2n).
    One definition for both the 8×8 transform codec and the 32×32
    perceptual hash (operators/multimodal.phash64_np)."""
    j = np.arange(n)
    k = j.reshape(-1, 1)
    b = np.cos(np.pi * (2 * j + 1) * k / (2.0 * n))
    b[0] *= np.sqrt(1.0 / n)
    b[1:] *= np.sqrt(2.0 / n)
    return b


_DCT_B = dct_basis(8)


def encode_dct(img: np.ndarray, q: int = 3) -> bytes:
    """Transform-coded lossy format (the JPEG-shaped codec, from
    scratch): 8×8 block DCT-II per channel, uniform coefficient
    quantization by ``q``, int16 coeffs zlib-compressed. Whole-image
    vectorized — blocks via reshape/transpose, the transform is two
    matmuls (B·X·Bᵀ) over all blocks at once. q=3 keeps max
    reconstruction error ≤ ~6 per pixel → PSNR well above the 40 dB
    gate on natural-ish content while being genuinely transform-lossy
    (unlike thumb's plain requantization)."""
    h, w, c = img.shape
    ph, pw = (-h) % 8, (-w) % 8
    x = np.pad(img, ((0, ph), (0, pw), (0, 0)), mode="edge").astype(np.float64) - 128.0
    hh, ww = h + ph, w + pw
    # (c, nby, nbx, 8, 8) blocks
    blocks = x.transpose(2, 0, 1).reshape(c, hh // 8, 8, ww // 8, 8).transpose(0, 1, 3, 2, 4)
    coeffs = _DCT_B @ blocks @ _DCT_B.T
    iq = np.rint(coeffs / q).astype(np.int16)
    payload = zlib.compress(iq.tobytes(), 6)
    return _DCT_MAGIC + struct.pack("<IIBB", w, h, c, q) + payload


def decode_dct(buf: bytes) -> np.ndarray:
    if buf[:4] != _DCT_MAGIC:
        raise ValueError("not a GDC1 dct tile")
    w, h, c, q = struct.unpack_from("<IIBB", buf, 4)
    hh, ww = h + (-h) % 8, w + (-w) % 8
    iq = np.frombuffer(zlib.decompress(buf[14:]), np.int16).reshape(
        c, hh // 8, ww // 8, 8, 8
    )
    coeffs = iq.astype(np.float64) * q
    blocks = _DCT_B.T @ coeffs @ _DCT_B
    x = blocks.transpose(0, 1, 3, 2, 4).reshape(c, hh, ww).transpose(1, 2, 0)
    return np.rint(x + 128.0).clip(0, 255).astype(np.uint8)[:h, :w, :]


# -------------------------------------------------------------- registry

def decode_jpeg(buf: bytes) -> np.ndarray:
    raise NotImplementedError(
        "jpeg decode requires an image library not present in this "
        "environment; the fmt-dispatch plumbing is exercised via raw/png/thumb"
    )


ENCODERS = {"raw": encode_raw, "png": encode_png, "thumb": encode_thumb, "dct": encode_dct}
DECODERS = {
    "raw": decode_raw, "png": decode_png, "thumb": decode_thumb,
    "dct": decode_dct, "jpeg": decode_jpeg,
}
LOSSLESS = {"raw", "png"}

_MAGIC_TABLE = [
    (_PNG_SIG, "png"), (_RAW_MAGIC, "raw"), (_THUMB_MAGIC, "thumb"),
    (_DCT_MAGIC, "dct"), (b"\xff\xd8\xff", "jpeg"),
]


def sniff_fmt(buf: bytes) -> str:
    """Magic-byte probe (mask.cpp:95-108 / register dispatch analogue)."""
    for magic, fmt in _MAGIC_TABLE:
        if buf[: len(magic)] == magic:
            return fmt
    raise ValueError("unknown image format (no magic matched)")


def decode(buf: bytes, fmt: str | None = None) -> np.ndarray:
    return DECODERS[fmt or sniff_fmt(bytes(buf[:8]))](buf)


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


def gunzip_sniff(blob: bytes) -> bytes | None:
    """The mbtiles.cpp:214-224 gzip sniff+gunzip, with ONE poison
    policy for every caller: non-gzip bytes pass through verbatim,
    corrupt gzip returns None (callers map None to their sentinel —
    empty payload, status code, dropped row). Shared by
    sources/mbtiles.gunzip_col (lookup.fetch_tiles,
    read_mbtiles_features) and sources/remote so the behavior can't
    drift.

    Sniffs the full TWO-byte gzip magic (1f 8b) — a raw payload that
    merely starts with 0x1f must pass through, not be destroyed.
    Catches zlib.error too: a valid gzip header over a corrupt deflate
    body raises that, not OSError (review r02b)."""
    import gzip
    import zlib

    bb = bytes(blob)
    if bb[:2] != b"\x1f\x8b":
        return bb
    try:
        return gzip.decompress(bb)
    except (OSError, EOFError, zlib.error):
        return None
