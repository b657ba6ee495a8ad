"""Poison-row resilience: at 10^12 rows some payloads WILL be garbage
— a corrupt image must mark its row dec_ok=false and never kill the
stage or poison its Arrow batch neighbors."""

import numpy as np
import pandas as pd
import pytest

from gdal_drivers_spark.core import codecs
from gdal_drivers_spark.operators.decode import decode_stats
from gdal_drivers_spark.sources.synth import pattern


def test_corrupt_images_flagged_not_fatal(spark):
    good = codecs.encode_png(pattern(8, 8, 1, 7))
    rows = [
        ("ok", good, "png"),
        ("truncated", good[: len(good) // 2], "png"),
        ("wrong_magic", b"\x00\x01\x02\x03" + good[4:], "png"),
        ("empty", b"", "png"),
        ("bad_fmt", good, "no_such_format"),
        ("ok2", codecs.encode_raw(pattern(4, 4, 2, 9)), "raw"),
    ]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"])
    )
    got = {r["image_id"]: r for r in decode_stats(df).collect()}
    assert len(got) == 6, "no row may be dropped or duplicated"
    assert got["ok"]["dec_ok"] and got["ok2"]["dec_ok"]
    for bad in ("truncated", "wrong_magic", "empty", "bad_fmt"):
        assert not got[bad]["dec_ok"], bad
    # the good rows in the same Arrow batch still decoded correctly
    assert (got["ok"]["dec_w"], got["ok"]["dec_h"]) == (8, 8)
    assert got["ok2"]["dec_c"] == 2


def test_decode_stats_filter_decodes_once(spark):
    """``decode_stats(df).filter("dec_ok")`` evaluates the decode UDF
    once: the filter on a decoded column must not be pushed below the
    projection as a second copy of the UDF (one ArrowEvalPython)."""
    good = codecs.encode_png(pattern(8, 8, 1, 7))
    df = spark.createDataFrame(pd.DataFrame(
        [("ok", good, "png"), ("bad", b"", "png")], columns=["image_id", "bytes", "fmt"]))
    out = decode_stats(df).filter("dec_ok")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert [r["image_id"] for r in out.collect()] == ["ok"]


def _poison_images(spark):
    good = codecs.encode_raw(pattern(32, 32, 1, 7))
    rows = [
        ("good", good, "raw"),
        ("trunc", good[:10], "raw"),
        ("null", None, "raw"),
    ]
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"])
    )


def test_resize_poison_flagged(spark):
    from gdal_drivers_spark.operators.multimodal import resize_images

    got = {r["image_id"]: r for r in resize_images(_poison_images(spark), 16, 16).collect()}
    assert len(got) == 3
    assert got["good"]["ok"] and got["good"]["w"] == 16
    for bad in ("trunc", "null"):
        assert not got[bad]["ok"] and got[bad]["bytes"] is None


def test_image_features_poison_flagged(spark):
    from gdal_drivers_spark.operators.multimodal import image_features

    got = {r["image_id"]: r for r in image_features(_poison_images(spark)).collect()}
    assert len(got) == 3
    assert got["good"]["ok"] and got["good"]["n_pixels"] == 32 * 32
    for bad in ("trunc", "null"):
        assert not got[bad]["ok"] and got[bad]["feat"] is None


def test_patch_grid_poison_one_flagged_row(spark):
    from gdal_drivers_spark.operators.multimodal import patch_grid

    out = patch_grid(_poison_images(spark), patch=16).collect()
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["image_id"], []).append(r)
    assert len(by_id["good"]) == 4 and all(r["ok"] for r in by_id["good"])
    for bad in ("trunc", "null"):
        (row,) = by_id[bad]
        assert not row["ok"] and row["py"] == -1 and row["bytes"] is None


def test_frame_sample_poison_one_flagged_row(spark):
    from gdal_drivers_spark.operators.multimodal import encode_video, frame_sample

    frames = [pattern(8, 8, 1, i) for i in range(4)]
    rows = [
        ("vgood", encode_video(frames)),
        ("vbad", b"NOTAVIDEO"),
        ("vnull", None),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["video_id", "bytes"]))
    out = frame_sample(df, every_k=2).collect()
    by_id: dict = {}
    for r in out:
        by_id.setdefault(r["video_id"], []).append(r)
    assert sorted(r["frame_idx"] for r in by_id["vgood"]) == [0, 2]
    for bad in ("vbad", "vnull"):
        (row,) = by_id[bad]
        assert not row["ok"] and row["frame_idx"] == -1


# Kernels moved onto the Arrow runners whose poison output no other test
# pins. Each case puts one poison row in the SAME Arrow batch as a good
# row (one partition) and returns (got, want): the good row's values
# against numpy, the bad row against its docstring's poison rule.
L = (1 << 60) + 5  # list ids past 2**53: a float64 hop would round them


def _audio(spark):
    from gdal_drivers_spark.operators.multimodal import audio_features, encode_wav

    pcm = ((np.arange(96) * 7919) % 65536 - 32768).astype(np.int16)
    df = spark.createDataFrame([("good", encode_wav(pcm)), ("bad", None)],
                               "audio_id string, bytes binary").coalesce(1)
    got = {r["audio_id"]: (r["n_samples"], r["sample_rate"], r["sq_sum"], r["peak"], r["ok"])
           for r in audio_features(df).collect()}
    x = pcm.astype(np.int64)
    return got, {"good": (96, 16000, int((x * x).sum()), int(np.abs(x).max()), True),
                 "bad": (None, None, None, None, False)}  # NULL stats, ok=false


def _corpus_and_centroids(spark):
    corpus = spark.createDataFrame(
        [(1, [0.5, -0.25, 1.0, 0.125]), (2, None)], "cid long, cvec array<double>"
    ).coalesce(1)
    cents = [(L + 2, [1.0, 0.0, 0.0, 0.0]), (L, [0.0, 1.0, 0.0, 0.0]),
             (L + 1, [0.0, 0.0, 1.0, 0.5])]
    q = np.array([5000, -2500, 10000, 1250], np.int64)  # quantize: round(v·10⁴)
    c = {lid: np.round(np.array(v) * 10_000).astype(np.int64) for lid, v in cents}
    lids = sorted(c)
    best = lids[int(np.argmax([c[lid] @ q for lid in lids]))]
    return corpus, spark.createDataFrame(cents, "list_id long, center array<double>"), q, c, best


def _ivf_assign(spark):
    from gdal_drivers_spark.operators.similarity import ivf_assign

    corpus, cents, _, _, best = _corpus_and_centroids(spark)
    got = {r["cid"]: r["list_id"] for r in ivf_assign(corpus, cents).collect()}
    return got, {1: best, 2: L}  # a NULL vector takes the smallest list id


def _ivfpq_encode(spark):
    from gdal_drivers_spark.operators.similarity import ivfpq_encode

    corpus, cents, q, c, best = _corpus_and_centroids(spark)
    cw = [[0, 0, 0, 0], [-5000, -2500, 1000, 1250], [4000, 0, 0, -3000]]
    r = q - c[best]
    a = np.array(cw, np.int64)
    want = [int(np.argmin(((r[j * 2:j * 2 + 2] - a[:, j * 2:j * 2 + 2]) ** 2).sum(1)))
            for j in range(2)]
    got = {x["cid"]: (x["list_id"], list(x["codes"]))
           for x in ivfpq_encode(corpus, cents, cw, m=2).collect()}
    return got, {1: (best, want), 2: (L, [0, 0])}  # NULL vector: codes 0


def _raster_stats(spark):
    from gdal_drivers_spark.operators.zonal import raster_stats

    px = pattern(8, 8, 1, 7)
    df = spark.createDataFrame([(1, codecs.encode_raw(px)), (2, b"junk")],
                               "cell long, tile binary").coalesce(1)
    (row,) = raster_stats(df).collect()
    x = px.astype(np.int64).ravel()
    # the corrupt tile counts in n_bad_tiles and adds no pixels
    return ((row["n_tiles"], row["n_bad_tiles"], row["n_px"], row["px_sum"],
             row["px_min"], row["px_max"]),
            (1, 1, x.size, int(x.sum()), int(x.min()), int(x.max())))


POISON_CASES = {"audio_features": _audio, "ivf_assign": _ivf_assign,
                "ivfpq_encode": _ivfpq_encode, "raster_stats": _raster_stats}


@pytest.mark.parametrize("case", sorted(POISON_CASES))
def test_poison_row_beside_good_row(spark, case):
    """A poison row in a good row's Arrow batch reads its documented
    poison value, and the good row's long outputs stay exact."""
    got, want = POISON_CASES[case](spark)
    assert got == want
