"""Multimodal column operators — image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched UDFs.

The Spark-side plumbing (schemas, batching, partitioning, dispatch) is
real and tested with this repo's own codecs (raw/png/thumb). Steps that
would need external media libraries (JPEG/H.264/MP3 decode) are stubbed
behind ``NotImplementedError`` with the dispatch path exercised.

- ``resize_images``: decode → nearest-neighbor resize → re-encode raw.
- ``frame_sample``: synthetic multi-frame container (GVD1 header +
  concatenated raw frames) → every-k-th frame rows (UDTF shape: one
  row in, many out — the ``explode``-after-batch pattern).
- ``audio_features``: REAL for PCM WAV (from-scratch RIFF/PCM-16
  reader, ``decode_wav``); compressed codecs (which would need
  external libraries this environment lacks) poison-flag their rows.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..core import codecs
from ._groups import row_udf, run_batches

_VID_MAGIC = b"GVD1"


def encode_video(frames: list[np.ndarray]) -> bytes:
    """Synthetic video container: GVD1 + u16 n + per-frame raw images."""
    payload = b"".join(codecs.encode_raw(f) for f in frames)
    h, w, c = frames[0].shape
    return _VID_MAGIC + struct.pack("<HIIB", len(frames), w, h, c) + payload


def decode_video(buf: bytes) -> list[np.ndarray]:
    if buf[:4] != _VID_MAGIC:
        raise ValueError("not a GVD1 container")
    n, w, h, c = struct.unpack_from("<HIIB", buf, 4)
    frame_len = 13 + w * h * c  # GRW1 header + pixels
    off = 4 + 11
    return [codecs.decode_raw(buf[off + i * frame_len : off + (i + 1) * frame_len]) for i in range(n)]


def nn_resize(img: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Nearest-neighbor resize (vectorized gather)."""
    h, w, _ = img.shape
    ys = (np.arange(out_h) * h // out_h).clip(0, h - 1)
    xs = (np.arange(out_w) * w // out_w).clip(0, w - 1)
    return img[ys][:, xs]


IMAGE_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string, ok boolean"


def _map_images(images: DataFrame, fn) -> DataFrame:
    """(image_id, ``fn(pixels)`` raw-encoded, its w, h, "raw", ok) per
    (image_id, bytes, fmt) row, in one Arrow hop.

    Poison policy (house rule, as decode_stats/phash_images): a
    NULL/corrupt payload, or one ``fn`` rejects by raising, keeps its
    row with bytes=NULL and ok=false — never a stage kill, never a
    silent drop."""

    def _kernel(g):
        for rid, buf, fmt in zip(g["image_id"], g["bytes"], g["fmt"]):
            try:
                res = fn(codecs.decode(bytes(buf), fmt))
            except Exception:
                yield rid, None, None, None, None, False
                continue
            yield rid, codecs.encode_raw(res), int(res.shape[1]), int(res.shape[0]), "raw", True

    return run_batches(images, ["image_id", "bytes", "fmt"], _kernel, IMAGE_SCHEMA)


def resize_images(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Batch decode → resize → raw re-encode. One Arrow hop, numpy math;
    poison rows as ``_map_images``."""
    return _map_images(images, lambda img: nn_resize(img, out_w, out_h))


FEATURES_SCHEMA = "image_id string, feat array<double>, n_pixels long, ok boolean"


def image_features(images: DataFrame, bins: int = 16) -> DataFrame:
    """Feature-extract: decode → per-channel intensity histogram
    (``bins`` buckets of the 0-255 range, channel-concatenated) — a
    real, library-free image embedding that feeds the similarity ops
    (``similarity.brute_topk``/``ivf_topk``/``near_dup_pairs`` over
    the ``feat`` column). Counts, not frequencies, so the output is
    exact-integer valued (engine-portable oracles); normalize
    downstream if cosine semantics are wanted. One Arrow hop,
    ``np.bincount`` per channel.

    Poison policy: a NULL/corrupt payload keeps its row with
    feat=NULL/ok=false (NULL features self-exclude from the similarity
    joins; the flag makes the corruption countable)."""
    width = 256 // bins

    def _kernel(g):
        for rid, buf, fmt in zip(g["image_id"], g["bytes"], g["fmt"]):
            try:
                img = codecs.decode(bytes(buf), fmt)
            except Exception:
                yield rid, None, None, False
                continue
            chans = [
                # clip the bucket index: when 256 % bins != 0 the
                # top partial bucket folds into the last bin, so
                # the histogram always sums to n_pixels (ADVICE r01)
                np.bincount(
                    np.minimum(img[:, :, c].ravel() // width, bins - 1),
                    minlength=bins,
                )[:bins]
                for c in range(img.shape[2])
            ]
            yield (rid, np.concatenate(chans).astype(np.float64).tolist(),
                   img.shape[0] * img.shape[1], True)

    return run_batches(images, ["image_id", "bytes", "fmt"], _kernel, FEATURES_SCHEMA)


FRAMES_SCHEMA = "video_id string, frame_idx int, bytes binary, w int, h int, ok boolean"


def frame_sample(videos: DataFrame, every_k: int = 2) -> DataFrame:
    """One row per sampled frame (indices 0, k, 2k, …) — the UDTF shape.

    Poison policy: a NULL/corrupt container emits ONE flagged row
    (frame_idx=-1, ok=false) — distinct from a valid empty container
    (zero rows) and never a stage kill."""

    def _kernel(g):
        for vid, buf in zip(g["video_id"], g["bytes"]):
            try:
                frames = decode_video(bytes(buf))
            except Exception:
                yield vid, -1, None, None, None, False
                continue
            for i in range(0, len(frames), every_k):
                f = frames[i]
                yield vid, i, codecs.encode_raw(f), f.shape[1], f.shape[0], True

    return run_batches(videos, ["video_id", "bytes"], _kernel, FRAMES_SCHEMA)


# ----------------------------------------------------------------- audio
# RIFF/PCM WAV codec from scratch (the container format is public:
# RIFF header + fmt/data chunks, 16-bit little-endian PCM). Keeps the
# audio modality REAL for uncompressed audio; compressed codecs
# (MP3/AAC/opus) would need external libraries this environment lacks
# and poison-flag their rows instead of raising.

_PCM_FORMAT = 1


def encode_wav(samples: "np.ndarray", rate: int = 16000, channels: int = 1) -> bytes:
    """int16 PCM samples → minimal canonical WAV bytes."""
    pcm = np.ascontiguousarray(samples.astype("<i2")).tobytes()
    block = 2 * channels
    fmt = struct.pack(
        "<HHIIHH", _PCM_FORMAT, channels, rate, rate * block, block, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(buf: bytes) -> tuple["np.ndarray", int, int]:
    """WAV bytes → (samples int16 [n, channels], rate, channels).
    Strict chunk walk: RIFF/WAVE framing, PCM-16 only (compressed
    formats raise — callers poison-flag)."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, rate, channels, bits, data = 12, None, None, None, None
    while pos + 8 <= len(buf):
        cid = buf[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", buf, pos + 4)
        body = buf[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            afmt, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if afmt != _PCM_FORMAT or bits != 16:
                raise ValueError(f"unsupported WAV encoding (fmt={afmt}, bits={bits})")
            # a fmt chunk declaring 0 channels / 0 rate (or an absurd
            # channel count) is corrupt, not decodable-as-mono —
            # callers poison-flag it (review r03)
            if not (1 <= channels <= 64) or rate <= 0:
                raise ValueError(
                    f"corrupt WAV fmt (channels={channels}, rate={rate})"
                )
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("WAV missing fmt or data chunk")
    arr = np.frombuffer(data, "<i2")
    if channels > 1:
        arr = arr[: len(arr) - len(arr) % channels].reshape(-1, channels)
    else:
        arr = arr.reshape(-1, 1)
    return arr, int(rate), int(channels)


AUDIO_SCHEMA = (
    "audio_id string, n_samples long, sample_rate int, sq_sum long, "
    "rms double, peak int, ok boolean"
)


def audio_features(audio: DataFrame) -> DataFrame:
    """Audio feature-extract over (audio_id, bytes) PCM WAV payloads
    (decode_wav — from-scratch RIFF reader, no external codec): per clip n_samples
    (frames), sample_rate, exact integer sum-of-squares, rms (ONE IEEE
    expression ``sqrt(sq_sum/n)`` over exact ints — oracle-exact) and
    peak |amplitude|. Channels fold into the frame stats (standard
    energy semantics). One Arrow hop, no shuffle.

    Poison policy: NULL/corrupt/compressed payloads flag their row
    (ok=false, NULL stats) — never a stage kill."""

    def _kernel(g):
        for rid, buf in zip(g["audio_id"], g["bytes"]):
            try:
                arr, rate, _ = decode_wav(bytes(buf))
            except Exception:
                yield rid, None, None, None, None, None, False
                continue
            flat = arr.astype(np.int64).ravel()
            sq = int((flat * flat).sum())
            rms = float(np.sqrt(sq / flat.size)) if flat.size else 0.0
            peak = int(np.abs(flat).max()) if flat.size else 0
            yield rid, arr.shape[0], rate, sq, rms, peak, True

    return run_batches(audio, ["audio_id", "bytes"], _kernel, AUDIO_SCHEMA)


PATCHES_SCHEMA = (
    "image_id string, py int, px int, bytes binary, w int, h int, fmt string, ok boolean"
)


def patch_grid(images: DataFrame, patch: int) -> DataFrame:
    """Vision-training prep: cut each image into a grid of
    non-overlapping ``patch``×``patch`` crops. One input row fans out to its full patch set in
    one Arrow batch — a narrow map, no shuffle; the patch fan-out is
    the vision analogue of the tile explode in assign. Partial edge
    windows are dropped (only full patches are emitted, the standard
    ViT convention).

    Poison policy: a NULL/corrupt payload emits ONE flagged row
    (py=px=-1, ok=false) — distinct from a valid too-small image (zero
    patches, silent) and never a stage kill."""

    def _kernel(g):
        for rid, buf, fmt in zip(g["image_id"], g["bytes"], g["fmt"]):
            try:
                img = codecs.decode(bytes(buf), fmt)
            except Exception:
                yield rid, -1, -1, None, None, None, None, False
                continue
            for py in range(img.shape[0] // patch):
                for px in range(img.shape[1] // patch):
                    crop = img[py * patch : py * patch + patch, px * patch : px * patch + patch]
                    yield (rid, py, px, codecs.encode_raw(np.ascontiguousarray(crop)),
                           patch, patch, "raw", True)

    return run_batches(images, ["image_id", "bytes", "fmt"], _kernel, PATCHES_SCHEMA)


_PHASH_D32 = codecs.dct_basis(32)


def phash64_np(img: np.ndarray) -> int:
    """Classic 64-bit DCT perceptual hash of one image: gray 32×32
    (nearest-neighbor, channel mean), 2-D DCT-II, top-left 8×8
    low-frequency block minus DC, bit b set iff coef > median. Pure
    numpy, deterministic — the single-image reference the distributed
    column version must agree with."""
    g = img.astype(np.float64).mean(axis=2, keepdims=True)
    small = nn_resize(g.astype(np.uint8)[:, :, :1], 32, 32)[:, :, 0].astype(np.float64)
    coef = _PHASH_D32 @ small @ _PHASH_D32.T
    block = coef[:8, :8].ravel()[1:]  # drop DC
    med = np.median(block)
    bits = 0
    for i, v in enumerate(block):
        if v > med:
            bits |= 1 << i
    # 63 significant bits → always fits a signed int64
    return int(bits)


def phash_images(images: DataFrame) -> DataFrame:
    """pixels → 64-bit perceptual hash, one Arrow hop (the real-image
    replacement for the synthesized ``phash`` column of the input-hint
    schema). Output: (image_id, phash, ph_ok). Poison policy as
    everywhere: a corrupt/NULL payload flags its row, never the stage.
    Compose with ``dedup.phash_near_dup`` for banded Hamming near-dup
    pairs — decode → hash → band join, pixels never shuffle. Poison
    rows carry phash=NULL (not a sentinel value): a NULL key
    self-excludes from every band equi-join, so forgetting to filter
    ``ph_ok`` can never fabricate duplicate pairs out of corrupt
    payloads."""

    def _phash(b):
        try:
            return phash64_np(codecs.decode(bytes(b))), True
        except Exception:
            return None, False

    _ph = row_udf(_phash, "struct<phash: long, ph_ok: boolean>")
    return images.withColumn("_p", _ph(F.col("bytes"))).select(
        F.col("image_id"), F.col("_p.phash").alias("phash"), F.col("_p.ph_ok").alias("ph_ok")
    )


# ---------------------------------------------------------------------------
# Palette quantization — rgb2pct.py / pct2rgb.py parity
# ---------------------------------------------------------------------------

def websafe_palette() -> np.ndarray:
    """The 216-entry 6×6×6 web-safe cube (levels 0,51,…,255), index =
    36·ri + 6·gi + bi — the classic fixed palette; because it is a
    full per-channel product, the nearest entry factorizes per channel
    (useful for exact SQL oracles, irrelevant to the operator which
    does the general argmin)."""
    lv = np.arange(6) * 51
    r, g, b = np.meshgrid(lv, lv, lv, indexing="ij")
    return np.stack([r, g, b], axis=-1).reshape(216, 3).astype(np.int64)


def rgb2pct(images: DataFrame, palette: np.ndarray) -> DataFrame:
    """rgb2pct.py's quantization pass: every RGB pixel takes the index
    of the nearest palette entry (squared RGB distance; ties → LOWEST
    index — GDAL's nearest-color search scans the palette in order, and
    a distributed engine must pin the rule anyway). Output is a raw
    single-band index raster per image. One Arrow hop, vectorized
    (h·w × |palette|) distance argmin per image; the palette is a
    closure constant shipped once per task, never a shuffle. Poison
    rows follow the house rule (bytes NULL, ok false).

    Build the palette with :func:`build_palette_median_cut` (GDAL's
    default) or pass :func:`websafe_palette` / any (P,3) array."""
    pal = np.asarray(palette, np.int64)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
        raise ValueError(f"palette must be (P<=256, 3), got {pal.shape}")

    palsq = (pal * pal).sum(1)
    chunk = 1 << 16  # peak extra memory = chunk×P int64 (~113 MB at P=216)

    def _quantize(img):
        img = img.astype(np.int64)
        if img.shape[2] != 3:
            raise ValueError("rgb2pct needs a 3-band image")
        # |x−p|² = |x|² − 2x·pᵀ + |p|², chunked — the naive (h,w,P,3)
        # broadcast tensor is ~5 GB for a 1-Mpx image; exact int64
        # matmul, argmin keeps the FIRST (lowest-index) minimum on ties
        flat = img.reshape(-1, 3)
        idx1 = np.empty(len(flat), np.uint8)
        for o in range(0, len(flat), chunk):
            f = flat[o:o + chunk]
            d2 = (f * f).sum(1)[:, None] - 2 * (f @ pal.T) + palsq[None, :]
            idx1[o:o + chunk] = d2.argmin(axis=1)
        return idx1.reshape(img.shape[0], img.shape[1], 1)

    return _map_images(images, _quantize)


def pct2rgb(images: DataFrame, palette: np.ndarray) -> DataFrame:
    """pct2rgb.py: expand a single-band paletted raster to RGB via the
    lookup table — one vectorized gather per image, exact by
    construction. An index beyond the palette is corrupt input →
    poison row (GDAL errors out; set-at-a-time the row is flagged,
    never the stage)."""
    pal = np.asarray(palette, np.int64)
    if pal.ndim != 2 or pal.shape[1] != 3 or not 1 <= pal.shape[0] <= 256:
        raise ValueError(f"palette must be (P<=256, 3), got {pal.shape}")
    lut = pal.astype(np.uint8)
    pmax = pal.shape[0]

    def _expand(img):
        if img.shape[2] != 1:
            raise ValueError("pct2rgb needs a 1-band image")
        if int(img.max(initial=0)) >= pmax:
            raise ValueError("palette index out of range")
        return lut[img[:, :, 0]]

    return _map_images(images, _expand)


def color_histogram(images: DataFrame, bits: int = 5) -> DataFrame:
    """Distributed color census for palette building: each image
    reduces to ≤2^(3·bits) (color, n_px) partial-histogram rows in one
    Arrow hop (colors quantized to ``bits`` per channel — GDAL's
    median cut works on a reduced histogram too); the groupBy then
    merges counts relationally with map-side combine. Output:
    (r, g, b quantized-bucket CENTERS as u8, n_px) — bounded at 2^15
    rows total for the default 5 bits regardless of corpus size."""
    if not 1 <= int(bits) <= 8:
        raise ValueError("bits must be in [1, 8]")
    shift = 8 - int(bits)
    half = (1 << shift) // 2 if shift else 0

    def _kernel(g):
        for buf, fmt in zip(g["bytes"], g["fmt"]):
            try:
                img = codecs.decode(bytes(buf), fmt)
                if img.shape[2] != 3:
                    raise ValueError("needs a 3-band image")
            except Exception:
                yield None, None, None, 0, False
                continue
            q = (img.reshape(-1, 3) >> shift).astype(np.int64)
            key = (q[:, 0] << 16) | (q[:, 1] << 8) | q[:, 2]
            uk, cnt = np.unique(key, return_counts=True)
            for k, n in zip(uk.tolist(), cnt.tolist()):
                yield (((k >> 16) << shift) + half, (((k >> 8) & 0xFF) << shift) + half,
                       ((k & 0xFF) << shift) + half, n, True)

    part = run_batches(images, ["bytes", "fmt"], _kernel,
                       "r int, g int, b int, n_px long, ok boolean")
    return part.groupBy("r", "g", "b", "ok").agg(F.sum("n_px").alias("n_px"))


def build_palette_median_cut(images: DataFrame, ncolors: int = 256,
                             bits: int = 5) -> np.ndarray:
    """rgb2pct.py's default palette: median cut over the (distributed,
    exact) color histogram. The cut itself runs on the driver over the
    ≤2^(3·bits) aggregated rows — bounded work independent of corpus
    size, the same decomposition as the IVF k-means trainer (heavy
    census distributed, tiny optimization local). Deterministic: boxes
    split on their widest channel at the weighted median, ties and
    orderings pinned by (count, box-index); entries are the weighted
    mean color of each final box, rounded half-to-even."""
    hist = (
        color_histogram(images, bits=bits)
        .filter(F.col("ok"))
        .select("r", "g", "b", "n_px")
        .collect()
    )
    if not hist:
        return np.zeros((1, 3), np.int64)
    cols = np.array([(h["r"], h["g"], h["b"]) for h in hist], np.int64)
    wts = np.array([h["n_px"] for h in hist], np.int64)
    order = np.lexsort((cols[:, 2], cols[:, 1], cols[:, 0]))
    cols, wts = cols[order], wts[order]
    boxes = [(cols, wts)]
    while len(boxes) < int(ncolors):
        # split the most-populous splittable box (deterministic: first
        # among equals in list order)
        cands = [i for i, (c, _) in enumerate(boxes) if len(c) > 1]
        if not cands:
            break
        i = max(cands, key=lambda j: (int(boxes[j][1].sum()), -j))
        c, n = boxes.pop(i)
        ch = int(np.argmax(c.max(0) - c.min(0)))
        o = np.lexsort((c[:, (ch + 2) % 3], c[:, (ch + 1) % 3], c[:, ch]))
        c, n = c[o], n[o]
        cum = np.cumsum(n)
        k = int(np.searchsorted(cum, cum[-1] / 2)) + 1
        k = min(max(k, 1), len(c) - 1)
        boxes.insert(i, (c[:k], n[:k]))
        boxes.insert(i + 1, (c[k:], n[k:]))
    pal = np.array(
        [np.rint((c * n[:, None]).sum(0) / n.sum()) for c, n in boxes],
        np.int64,
    )
    return pal


# ---------------------------------------------------------------------------
# Enhancement — gdalenhance -equalize / gdal_translate -scale
# ---------------------------------------------------------------------------

def equalize_images(images: DataFrame) -> DataFrame:
    """gdalenhance -equalize: per-image, per-band histogram
    equalization. Pinned EXACT-INTEGER rule (gdalenhance computes the
    LUT in float; a distributed engine pins arithmetic so output is
    replayable):  out(v) = (cdf(v) − cdf_min) · 255 // (N − cdf_min),
    with cdf(v) = #pixels ≤ v in the band, cdf_min = cdf(min value),
    N = band pixel count; a constant band (N == cdf_min) maps to 0.
    One Arrow hop per batch — bincount + cumsum + LUT gather per band,
    no shuffle; poison rows follow the house rule."""

    def _equalize(img):
        h, w, c = img.shape
        res = np.empty_like(img)
        n = h * w
        for b in range(c):
            cdf = np.cumsum(np.bincount(img[:, :, b].ravel(), minlength=256).astype(np.int64))
            cdf_min = int(cdf[int(img[:, :, b].min())])
            if n == cdf_min:
                res[:, :, b] = 0
                continue
            lut = (cdf - cdf_min) * 255 // (n - cdf_min)
            res[:, :, b] = np.clip(lut, 0, 255).astype(np.uint8)[img[:, :, b]]
        return res

    return _map_images(images, _equalize)


def scale_images(
    images: DataFrame,
    src: tuple[int, int] | None = None,
    dst: tuple[int, int] = (0, 255),
) -> DataFrame:
    """gdal_translate -scale: linear remap [src_min, src_max] →
    [dst_min, dst_max], clipped. ``src=None`` uses each image's own
    per-band min/max (gdal_translate's default -scale). Pinned
    exact-integer rule: out = dst_min + (v − src_min) · (dst_max −
    dst_min) // (src_max − src_min); a constant band maps to dst_min.
    One Arrow hop, no shuffle."""
    d0, d1 = int(dst[0]), int(dst[1])
    if not 0 <= d0 <= d1 <= 255:
        raise ValueError(f"dst range {dst} must satisfy 0 <= lo <= hi <= 255")
    if src is not None and not src[0] < src[1]:
        raise ValueError(f"src range {src} must be increasing")

    def _scale(img):
        img = img.astype(np.int64)
        res = np.empty(img.shape, np.uint8)
        for b in range(img.shape[2]):
            band = img[:, :, b]
            s0, s1 = (int(band.min()), int(band.max())) \
                if src is None else (int(src[0]), int(src[1]))
            if s0 == s1:
                res[:, :, b] = d0
                continue
            res[:, :, b] = d0 + (np.clip(band, s0, s1) - s0) * (d1 - d0) // (s1 - s0)
        return res

    return _map_images(images, _scale)


def pansharpen(
    ms: DataFrame,
    pan: DataFrame,
    weights: tuple = (1, 1, 1),
) -> DataFrame:
    """gdal_pansharpen.py — weighted Brovey. Pinned EXACT-INTEGER
    rule (gdal_pansharpen computes in float; the engine pins so output
    is replayable): with integer weights W and S = ΣW,
    out_b = (band_b · pan · S) // Σ(W_i · band_i), 0 where the
    pseudo-pan denominator is 0, clipped to u8. The multispectral and
    pan inputs must already share a pixel grid — aligning resolutions
    is the warp family's job (gdal_pansharpen resamples internally;
    the engine composes operators instead). One JVM equi-join on the
    image key + one Arrow kernel; band-count/shape mismatch or a
    corrupt operand poisons the row."""
    w = [int(x) for x in weights]
    if len(w) < 1 or any(x < 1 for x in w):
        raise ValueError(f"weights must be positive ints, got {weights}")
    ws = sum(w)
    wa = np.asarray(w, np.int64)

    joined = ms.select(
        F.col("image_id").alias("_id"), F.col("bytes").alias("_mb"),
        F.col("fmt").alias("_mf"),
    ).join(
        pan.select(F.col("image_id").alias("_id"), F.col("bytes").alias("_pb"),
                   F.col("fmt").alias("_pf")),
        "_id", "inner",
    )

    def _kernel(g):
        for rid, mb, mf, pb, pf in zip(g["_id"], g["_mb"], g["_mf"], g["_pb"], g["_pf"]):
            try:
                m = codecs.decode(bytes(mb), mf).astype(np.int64)
                p = codecs.decode(bytes(pb), pf).astype(np.int64)
                if m.shape[2] != len(wa):
                    raise ValueError("band count != weight count")
                if p.shape[2] != 1 or p.shape[:2] != m.shape[:2]:
                    raise ValueError(f"grid mismatch {p.shape} vs {m.shape}")
                den = (m * wa[None, None, :]).sum(axis=2)
                num = m * p * ws  # broadcasts the (h,w,1) pan
                res = np.where(
                    den[:, :, None] > 0,
                    num // np.where(den[:, :, None] > 0, den[:, :, None], 1),
                    0,
                )
                outb = np.clip(res, 0, 255).astype(np.uint8)
            except Exception:
                yield rid, None, None, None, None, False
                continue
            yield rid, codecs.encode_raw(outb), int(outb.shape[1]), int(outb.shape[0]), "raw", True

    return run_batches(joined, ["_id", "_mb", "_mf", "_pb", "_pf"], _kernel, IMAGE_SCHEMA)
