"""tile_join: images (image_id, phash) → ``operators.assign.assign_tiles``
at z=8 → ``operators.spatial_join.cell_join`` against a broadcast
boundary table with bbox refine → rollup per region.

The boundary table has one parcel per z=8 cell, a bbox inset inside
the cell, so the refine step drops real candidates. A few percent of
the footprints start inside four hot cells.

All coordinates are dyadic rationals, so the numpy reference makes
the same float64 comparisons as the engine and the per-region counts
must match exactly.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

Z = 8
SIZES = {"full": 800_000, "tiny": 20_000}
IMAGE_FILES = 16
HOT_SHARE = 0.03
HOT_CELLS = 4
REGION_SIDE = 32  # cells per region side: 64 regions at z=8
MAX_SPAN = 1.0 / 64  # largest footprint side, as in operators.assign
HLL_TOLERANCE = 0.25  # 5 × the default relative sd of approx_count_distinct
LAYERS = ("assign", "spatial_join", "rollup")


def make_inputs(rng: np.random.Generator, size: str, work: str) -> dict:
    n = SIZES[size]
    side = 1 << 20
    fx = rng.integers(0, side, n)
    fy = rng.integers(0, side, n)
    hot = np.flatnonzero(rng.random(n) < HOT_SHARE)
    hot_at = rng.integers(0, side - 4096, (HOT_CELLS, 2))
    pick = rng.integers(0, HOT_CELLS, hot.size)
    fx[hot] = hot_at[pick, 0] + rng.integers(0, 4096, hot.size)
    fy[hot] = hot_at[pick, 1] + rng.integers(0, 4096, hot.size)
    fw = rng.integers(0, 1024, n)
    fh = rng.integers(0, 1024, n)
    phash = (fx | (fy << 20) | (fw << 40) | (fh << 50)).astype(np.int64)
    images = os.path.join(work, "images")
    os.makedirs(images)
    for i, part in enumerate(np.array_split(np.arange(n), IMAGE_FILES)):
        pq.write_table(
            pa.table({"image_id": part.astype(np.int64), "phash": phash[part]}),
            os.path.join(images, f"part-{i:03d}.parquet"),
        )

    cells = 1 << Z
    bx = np.repeat(np.arange(cells, dtype=np.int64), cells)
    by = np.tile(np.arange(cells, dtype=np.int64), cells)
    inset = rng.integers(0, 16, (4, bx.size))  # in 1/64ths of a cell
    den = float(cells * 64)
    bounds = {
        "cell": (Z << 52) + bx * (1 << 26) + by,
        "x0": (bx * 64 + inset[0]) / den,
        "y0": (by * 64 + inset[1]) / den,
        "x1": (bx * 64 + 64 - inset[2]) / den,
        "y1": (by * 64 + 64 - inset[3]) / den,
        "region": ((bx // REGION_SIDE) * (cells // REGION_SIDE) + by // REGION_SIDE).astype(np.int32),
    }
    bpath = os.path.join(work, "boundaries.parquet")
    pq.write_table(pa.table(bounds), bpath)
    return {"images": images, "boundaries": bpath, "n_images": n,
            "phash": phash, "bounds": bounds}


def reference(inp: dict) -> dict:
    """Exact per-region assignment counts and distinct images, replayed
    in numpy from the footprint and cover formulas."""
    h = inp["phash"]
    fx = (h % (1 << 20)) / float(1 << 20)
    fy = ((h >> 20) % (1 << 20)) / float(1 << 20)
    fw = ((h >> 40) % 1024 + 1.0) / 1024.0
    fh = ((h >> 50) % 1024 + 1.0) / 1024.0
    x0 = fx * (1.0 - MAX_SPAN)
    y0 = fy * (1.0 - MAX_SPAN)
    x1 = x0 + fw * MAX_SPAN
    y1 = y0 + fh * MAX_SPAN
    n = 1 << Z
    cx0 = np.clip(np.floor(x0 * n), 0, n - 1).astype(np.int64)
    cy0 = np.clip(np.floor(y0 * n), 0, n - 1).astype(np.int64)
    cx1 = np.maximum(np.clip(np.ceil(x1 * n) - 1, 0, n - 1).astype(np.int64), cx0)
    cy1 = np.maximum(np.clip(np.ceil(y1 * n) - 1, 0, n - 1).astype(np.int64), cy0)
    b = inp["bounds"]
    regions = int(b["region"].max()) + 1
    counts = np.zeros(regions, np.int64)
    pairs = []
    ids = np.arange(h.size, dtype=np.int64)
    span = int(max((cx1 - cx0).max(), (cy1 - cy0).max())) + 1
    for dx in range(span):
        for dy in range(span):
            m = (cx0 + dx <= cx1) & (cy0 + dy <= cy1)
            k = (cx0[m] + dx) * n + cy0[m] + dy
            ok = ((x0[m] < b["x1"][k]) & (b["x0"][k] < x1[m])
                  & (y0[m] < b["y1"][k]) & (b["y0"][k] < y1[m]))
            reg = b["region"][k][ok]
            counts += np.bincount(reg, minlength=regions)
            pairs.append(ids[m][ok] * regions + reg)
    pairs = np.unique(np.concatenate(pairs))
    distinct = np.bincount(pairs % regions, minlength=regions)
    return {
        "n_assign": {r: int(c) for r, c in enumerate(counts) if c},
        "n_images": {r: int(c) for r, c in enumerate(distinct) if c},
        "candidates": int(((cx1 - cx0 + 1) * (cy1 - cy0 + 1)).sum()),
    }


def job(spark, inp: dict, tracer) -> dict:
    from pyspark.sql import functions as F

    from gdal_drivers_spark.operators.assign import assign_tiles
    from gdal_drivers_spark.operators.spatial_join import cell_join

    images = spark.read.parquet(inp["images"])
    bounds = spark.read.parquet(inp["boundaries"])
    with tracer.layer("assign"):
        assigned = tracer.materialize(assign_tiles(images, Z))
    with tracer.layer("spatial_join"):
        joined = tracer.materialize(cell_join(assigned, bounds))
    tracer.drop(assigned)
    with tracer.layer("rollup"):
        rows = joined.groupBy("region").agg(
            F.count("*").alias("n_assign"),
            F.approx_count_distinct("image_id").alias("n_images"),
        ).collect()
    out = {"regions": {int(r["region"]): (int(r["n_assign"]), int(r["n_images"])) for r in rows}}
    if tracer.traced:
        with tracer.layer("trace.count"):
            out["candidates"] = cell_join(assigned, bounds, refine=False).count()
    return out


def check(inp: dict, ref: dict, out: dict) -> list[str]:
    errs = []
    got = out["regions"]
    if set(got) != set(ref["n_assign"]):
        errs.append(f"regions differ: {len(got)} returned, {len(ref['n_assign'])} expected")
    for r, want in ref["n_assign"].items():
        n_assign, n_images = got.get(r, (None, None))
        if n_assign != want:
            errs.append(f"region {r}: n_assign {n_assign}, expected {want}")
        exact = ref["n_images"][r]
        if n_images is None or abs(n_images - exact) > HLL_TOLERANCE * exact:
            errs.append(f"region {r}: n_images {n_images}, exact {exact}")
    return errs


def units(inp: dict, ref: dict) -> float:
    """Join output rows per job."""
    return float(sum(ref["n_assign"].values()))


def layer_metrics(inp: dict, ref: dict, out: dict, spans: dict, rows_of) -> dict[str, float]:
    assigned = rows_of(spans["assign"], "InMemoryTableScan")[0]
    refined = rows_of(spans["spatial_join"], "InMemoryTableScan")[0]
    return {
        "assign.fanout": assigned / inp["n_images"],
        "spatial_join.candidates": float(out["candidates"]),
        "spatial_join.refined": float(refined),
        "spatial_join.refine_ratio": refined / out["candidates"],
    }


def _corrupt(out: dict) -> dict:
    r = min(out["regions"])
    n_assign, n_images = out["regions"][r]
    return {**out, "regions": {**out["regions"], r: (n_assign + 1, n_images)}}


CORRUPTIONS = {"n_assign": _corrupt}
