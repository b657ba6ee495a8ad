"""Poison-row resilience: at 10^12 rows some payloads WILL be garbage
— a corrupt image must mark its row dec_ok=false and never kill the
stage or poison its Arrow batch neighbors."""

import pandas as pd

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
