"""raster_mosaic: stored multi-source u8 tiles, several overlapping
sources per cell, run through five layers in order:

1. ``operators.blend.blend_tiles`` (feathered) → mosaic written out;
2. ``operators.pyramid.build_pyramid`` (mean, 3 levels) → levels
   written out;
3. ``operators.dem.horn_gradients`` over the mosaic (halo exchange);
4. ``operators.cutline.cutline_crop`` → written out;
5. ``operators.pyramid.update_pyramid`` with a 4-tile leaf delta →
   updated levels written out.

The mosaic is a G×G block of level-Z cells. Source extents, pixel
centres and the feather width are dyadic, so the numpy blend sees the
engine's exact weights; only the order in which a cell's sources are
summed may differ, hence the ±1 tolerance on blended pixels. Pyramid,
gradients, cutline and update are recomputed in numpy from the job's
own mosaic and must match exactly.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

Z = 9
LEVELS = 3
SIZES = {"full": (8, 256, 6), "tiny": (8, 32, 4)}  # (G cells, T px, sources)
FEATHER_PX = 8
SOURCE_CELLS = ((3, 4), (4, 3), (2, 5), (5, 2), (3, 3))  # (w, h) of sources 1.. in cells
DELTA_TILES = 4
RING_VERTICES = 8
LAYERS = ("blend", "pyramid", "dem", "cutline", "pyramid_update")


def _raw(tile: np.ndarray) -> bytes:
    """The engine's raw tile codec: GRW1 magic, <w, h, c>, pixels."""
    h, w = tile.shape
    return b"GRW1" + struct.pack("<IIB", w, h, 1) + tile.tobytes()


def _ring(rng, g: int, t: int, ox: int, oy: int) -> np.ndarray:
    """A star-shaped cutline in global pixel units. Vertices alternate
    the parity of x + y, so every edge has one odd and one even
    component and no pixel centre (half-integer) lies on an edge."""
    cx, cy = (ox + g / 2) * t, (oy + g / 2) * t
    ang = 2 * np.pi * (np.arange(RING_VERTICES) + rng.uniform(-0.2, 0.2, RING_VERTICES)) / RING_VERTICES
    rad = g * t * rng.uniform(0.25, 0.45, RING_VERTICES)
    x = np.round(cx + rad * np.cos(ang)).astype(np.int64)
    y = np.round(cy + rad * np.sin(ang)).astype(np.int64)
    x += (x + y + np.arange(RING_VERTICES)) % 2
    return np.stack([x, y], axis=1).astype(np.float64)


def make_inputs(rng: np.random.Generator, size: str, work: str) -> dict:
    g, t, n_src = SIZES[size]
    n = 1 << Z
    ox, oy = (int(v) * 8 for v in rng.integers(0, (n - g) // 8, 2))
    side = g * t
    world_px = float(n * t)
    # Source 0 covers the block. The others have fixed sizes in cells and
    # seeded positions offset by half a tile, so each one touches the same
    # number of cells whatever the seed and the work per job is constant.
    rects = [(0, 0, side, side)]
    for k in range(n_src - 1):
        w, h = SOURCE_CELLS[k % len(SOURCE_CELLS)]
        x0 = int(rng.integers(0, g - w)) * t + t // 2
        y0 = int(rng.integers(0, g - h)) * t + t // 2
        rects.append((x0, y0, x0 + w * t, y0 + h * t))
    sources = []
    rows = {k: [] for k in ("cell", "band", "source_id", "tile", "vx0", "vy0", "vx1", "vy1")}
    for s, (px0, py0, px1, py1) in enumerate(rects):
        gy, gx = np.mgrid[0:side, 0:side]
        a, b = rng.integers(-16, 17, 2)
        noise = rng.integers(-3, 4, (side, side))
        img = ((int(rng.integers(0, 256)) + ((gx * a + gy * b) >> 6) + noise) % 256).astype(np.uint8)
        ext = ((ox * t + px0) / world_px, (oy * t + py0) / world_px,
               (ox * t + px1) / world_px, (oy * t + py1) / world_px)
        c0x, c0y = max(0, (px0 - FEATHER_PX) // t), max(0, (py0 - FEATHER_PX) // t)
        c1x, c1y = min(g - 1, (px1 + FEATHER_PX - 1) // t), min(g - 1, (py1 + FEATHER_PX - 1) // t)
        for i in range(c0x, c1x + 1):
            for j in range(c0y, c1y + 1):
                rows["cell"].append((Z << 52) + ((ox + i) << 26) + oy + j)
                rows["band"].append(0)
                rows["source_id"].append(s)
                rows["tile"].append(_raw(img[j * t:(j + 1) * t, i * t:(i + 1) * t]))
                for k, v in zip(("vx0", "vy0", "vx1", "vy1"), ext):
                    rows[k].append(v)
        sources.append((px0, py0, px1, py1, img))
    table = pa.table({
        "cell": pa.array(rows["cell"], pa.int64()),
        "band": pa.array(rows["band"], pa.int32()),
        "source_id": pa.array(rows["source_id"], pa.int64()),
        "tile": pa.array(rows["tile"], pa.binary()),
        **{k: pa.array(rows[k], pa.float64()) for k in ("vx0", "vy0", "vx1", "vy1")},
    })
    contribs = os.path.join(work, "contribs")
    os.makedirs(contribs)
    for i, part in enumerate(np.array_split(np.arange(table.num_rows), 8)):
        pq.write_table(table.take(part), os.path.join(contribs, f"part-{i}.parquet"))

    picks = rng.choice(g * g, DELTA_TILES, replace=False)
    gy, gx = np.mgrid[0:t, 0:t]
    delta = {"cell": [], "tile": []}
    for p in picks:
        i, j = divmod(int(p), g)
        delta["cell"].append((Z << 52) + ((ox + i) << 26) + oy + j)
        delta["tile"].append(((gx * 3 + gy * 5 + int(rng.integers(0, 256))) % 256).astype(np.uint8).tobytes())
    dpath = os.path.join(work, "delta.parquet")
    pq.write_table(pa.table({
        "cell": pa.array(delta["cell"], pa.int64()),
        "band": pa.array([0] * len(picks), pa.int32()),
        "tile": pa.array(delta["tile"], pa.binary()),
        "ts": pa.array([t] * len(picks), pa.int32()),
    }), dpath)
    return {
        "contribs": contribs, "delta": dpath, "out": os.path.join(work, "out"),
        "g": g, "t": t, "ox": ox, "oy": oy, "ring": _ring(rng, g, t, ox, oy),
        "sources": sources,
        "n_contribs": table.num_rows, "contrib_cells": np.array(rows["cell"], np.int64),
        "delta_cells": delta["cell"], "delta_tiles": delta["tile"],
    }


def _ramp(p: np.ndarray, lo: float, hi: float, o: float) -> np.ndarray:
    return np.clip((np.minimum(p + o, hi) - np.maximum(p - o, lo)) / (2.0 * o), 0.0, 1.0)


def _inside(ring: np.ndarray, x0: int, y0: int, side: int) -> np.ndarray:
    """Even-odd membership of the pixel centres of a side×side block at
    global pixel (x0, y0), row by row."""
    px = x0 + np.arange(side) + 0.5
    py = y0 + np.arange(side) + 0.5
    inside = np.zeros((side, side), bool)
    for (ax, ay), (bx, by) in zip(ring, np.roll(ring, -1, axis=0)):
        rows = (ay > py) != (by > py)
        xint = ax + (py[rows] - ay) / (by - ay) * (bx - ax)
        inside[rows] ^= px[None, :] < xint[:, None]
    return inside


def reference(inp: dict) -> dict:
    """Numpy blend of the whole block, the cutline membership of every
    pixel and the number of sources per cell."""
    g, t = inp["g"], inp["t"]
    side = g * t
    world_px = float((1 << Z) * t)
    centres_x = (inp["ox"] * t + np.arange(side) + 0.5) / world_px
    centres_y = (inp["oy"] * t + np.arange(side) + 0.5) / world_px
    o = FEATHER_PX / world_px
    acc = np.zeros((side, side))
    wacc = np.zeros((side, side))
    for px0, py0, px1, py1, img in inp["sources"]:
        w = np.outer(
            _ramp(centres_y, (inp["oy"] * t + py0) / world_px, (inp["oy"] * t + py1) / world_px, o),
            _ramp(centres_x, (inp["ox"] * t + px0) / world_px, (inp["ox"] * t + px1) / world_px, o),
        )
        acc += img * w
        wacc += w
    valid = wacc > 0
    out = np.zeros((side, side))
    out[valid] = acc[valid] / wacc[valid]
    cells, n_src = np.unique(inp["contrib_cells"], return_counts=True)
    return {
        "mosaic": np.clip(np.rint(out), 0, 255).astype(np.uint8),
        "valid": valid,
        "inside": _inside(inp["ring"], inp["ox"] * t, inp["oy"] * t, side),
        "n_sources": dict(zip(cells.tolist(), n_src.tolist())),
    }


def job(spark, inp: dict, tracer) -> dict:
    from functools import reduce

    from pyspark.sql import functions as F

    from gdal_drivers_spark.operators.blend import blend_tiles
    from gdal_drivers_spark.operators.cutline import cutline_crop
    from gdal_drivers_spark.operators.dem import horn_gradients
    from gdal_drivers_spark.operators.pyramid import build_pyramid, update_pyramid

    t = inp["t"]
    out = {k: os.path.join(inp["out"], k) for k in ("mosaic", "pyramid", "cutline", "updated")}

    def write_levels(levels: dict, path: str) -> None:
        reduce(lambda a, b: a.unionByName(b), [
            df.withColumn("level", F.lit(z)) for z, df in sorted(levels.items())
        ]).write.mode("overwrite").parquet(path)

    with tracer.layer("blend"):
        blend_tiles(
            spark.read.parquet(inp["contribs"]), tile_px=t,
            overlap=FEATHER_PX / float((1 << Z) * t),
        ).write.mode("overwrite").parquet(out["mosaic"])
    mosaic = spark.read.parquet(out["mosaic"])
    leaves = mosaic.select("cell", "band", "tile", F.lit(t).alias("ts"))
    with tracer.layer("pyramid"):
        levels = build_pyramid(leaves, Z, Z - LEVELS, agg="mean")
        write_levels({z: df for z, df in levels.items() if z < Z}, out["pyramid"])
    with tracer.layer("dem"):
        grads = horn_gradients(mosaic.select("cell", "tile"), t).collect()
    with tracer.layer("cutline"):
        cutline_crop(
            mosaic.select("cell", F.col("tile").alias("raster")), inp["ring"], t,
        ).write.mode("overwrite").parquet(out["cutline"])
    with tracer.layer("pyramid_update"):
        stored = spark.read.parquet(out["pyramid"])
        base = {z: stored.filter(F.col("level") == z).drop("level") for z in range(Z - LEVELS, Z)}
        base[Z] = leaves
        write_levels(update_pyramid(base, spark.read.parquet(inp["delta"]), agg="mean"), out["updated"])
    out["gradients"] = [r.asDict() for r in grads]
    return out


def load(out: dict) -> dict:
    """The job's written outputs, read back with pyarrow."""
    data = {k: pq.read_table(out[k]).to_pydict() for k in ("mosaic", "pyramid", "cutline", "updated")}
    data["gradients"] = out["gradients"]
    return data


def _stitch(cells, tiles, z: int, ox: int, oy: int, g: int, t: int):
    """Tiles of one level into a g·t square raster; None if the cell set
    is not exactly the level's g×g block."""
    raster = np.zeros((g * t, g * t), np.uint8)
    seen = set()
    for c, tile in zip(cells, tiles):
        i, j = ((c >> 26) & ((1 << 26) - 1)) - ox, (c & ((1 << 26) - 1)) - oy
        if c >> 52 != z or not (0 <= i < g and 0 <= j < g) or (i, j) in seen or tile is None or len(tile) != t * t:
            return None
        seen.add((i, j))
        raster[j * t:(j + 1) * t, i * t:(i + 1) * t] = np.frombuffer(tile, np.uint8).reshape(t, t)
    return raster if len(seen) == g * g else None


def _rollup(raster: np.ndarray) -> np.ndarray:
    h = raster.shape[0] // 2
    return np.clip(np.rint(raster.reshape(h, 2, h, 2).mean(axis=(1, 3))), 0, 255).astype(np.uint8)


def _levels(leaf: np.ndarray) -> dict[int, np.ndarray]:
    out = {Z: leaf}
    for z in range(Z - 1, Z - LEVELS - 1, -1):
        out[z] = _rollup(out[z + 1])
    return out


def _check_levels(name: str, table: dict, want: dict, inp: dict) -> list[str]:
    errs = []
    lv = np.array(table["level"])
    for z, raster in want.items():
        k = np.flatnonzero(lv == z)
        shift = Z - z
        g = inp["g"] >> shift
        got = _stitch([table["cell"][i] for i in k], [table["tile"][i] for i in k],
                      z, inp["ox"] >> shift, inp["oy"] >> shift, g, inp["t"])
        if got is None:
            errs.append(f"{name} level {z}: tiles do not cover the {g}x{g} block")
        elif (bad := np.count_nonzero(got != raster)):
            errs.append(f"{name} level {z}: {bad} pixels differ from the numpy rollup")
    if set(lv.tolist()) != set(want):
        errs.append(f"{name}: levels {sorted(set(lv.tolist()))}, expected {sorted(want)}")
    return errs


def _gradients(raster: np.ndarray, t: int) -> dict[tuple, np.ndarray]:
    p = np.pad(raster.astype(np.int64), 1, mode="edge")
    n = raster.shape[0]

    def at(dy, dx):
        return p[1 + dy:1 + dy + n, 1 + dx:1 + dx + n]

    p8 = (at(-1, 1) + 2 * at(0, 1) + at(1, 1)) - (at(-1, -1) + 2 * at(0, -1) + at(1, -1))
    q8 = (at(1, -1) + 2 * at(1, 0) + at(1, 1)) - (at(-1, -1) + 2 * at(-1, 0) + at(-1, 1))
    g = n // t

    def per_tile(a):
        return a.reshape(g, t, g, t).sum(axis=(1, 3))  # [row j, col i]

    return {"p8_sum": per_tile(p8), "q8_sum": per_tile(q8),
            "p8_abs_sum": per_tile(np.abs(p8)), "q8_abs_sum": per_tile(np.abs(q8))}


def check(inp: dict, ref: dict, out: dict) -> list[str]:
    data = out.get("data") or load(out)
    g, t, ox, oy = inp["g"], inp["t"], inp["ox"], inp["oy"]
    errs = []
    m = data["mosaic"]
    mosaic = _stitch(m["cell"], m["tile"], Z, ox, oy, g, t)
    if mosaic is None:
        return [f"mosaic: tiles do not cover the {g}x{g} block"]
    if (bad := np.count_nonzero(np.abs(mosaic.astype(np.int64) - ref["mosaic"]) > 1)):
        errs.append(f"mosaic: {bad} pixels differ from the numpy blend by more than 1")
    mask = _stitch(m["cell"], m["mask"], Z, ox, oy, g, t)
    if mask is None or not np.array_equal(mask > 0, ref["valid"]):
        errs.append("mosaic: validity mask differs from the numpy blend")
    if dict(zip(m["cell"], m["n_sources"])) != ref["n_sources"]:
        errs.append("mosaic: n_sources per cell differ from the inputs")

    levels = _levels(mosaic)
    errs += _check_levels("pyramid", data["pyramid"], {z: r for z, r in levels.items() if z < Z}, inp)

    want = _gradients(mosaic, t)
    rows = data["gradients"]
    if len(rows) != g * g:
        errs.append(f"dem: {len(rows)} gradient rows, expected {g * g}")
    for r in rows:
        i, j = ((r["cell"] >> 26) & ((1 << 26) - 1)) - ox, (r["cell"] & ((1 << 26) - 1)) - oy
        if not (0 <= i < g and 0 <= j < g):
            errs.append(f"dem: gradient row for a cell outside the block: {r['cell']}")
            continue
        got = {k: r[k] for k in want}
        exp = {k: int(v[j, i]) for k, v in want.items()}
        if got != exp or r["n_px"] != t * t or r["n_bad"] != 0:
            errs.append(f"dem: cell {r['cell']}: {got}, numpy {exp}")
            break

    c = data["cutline"]
    cut = _stitch(c["cell"], c["raster"], Z, ox, oy, g, t)
    if cut is None:
        errs.append("cutline: tiles do not cover the block")
    else:
        if (bad := np.count_nonzero(cut != np.where(ref["inside"], mosaic, 0))):
            errs.append(f"cutline: {bad} pixels differ from the numpy cutline")
        kept = ref["inside"].reshape(g, t, g, t).sum(axis=(1, 3))
        for cell, n in zip(c["cell"], c["n_kept"]):
            i, j = ((cell >> 26) & ((1 << 26) - 1)) - ox, (cell & ((1 << 26) - 1)) - oy
            if n != kept[j, i]:
                errs.append(f"cutline: cell {cell} n_kept {n}, numpy {kept[j, i]}")
                break

    leaf = mosaic.copy()
    for cell, tile in zip(inp["delta_cells"], inp["delta_tiles"]):
        i, j = ((cell >> 26) & ((1 << 26) - 1)) - ox, (cell & ((1 << 26) - 1)) - oy
        leaf[j * t:(j + 1) * t, i * t:(i + 1) * t] = np.frombuffer(tile, np.uint8).reshape(t, t)
    errs += _check_levels("update", data["updated"], _levels(leaf), inp)
    return errs


def units(inp: dict, ref: dict) -> float:
    """Source megapixels blended per job."""
    return inp["n_contribs"] * inp["t"] ** 2 / 1e6


def layer_metrics(inp: dict, ref: dict, out: dict, spans: dict, rows_of) -> dict[str, float]:
    boundary = load(out)["cutline"]["boundary"]
    return {
        "cutline.boundary_ratio": sum(boundary) / len(boundary),
        "pyramid_update.ancestors": float(sum(rows_of(spans["pyramid_update"], "MapInPandas"))),
    }


def _flip(table: dict, col: str, row: int = 0) -> dict:
    vals = list(table[col])
    b = bytearray(vals[row])
    b[len(b) // 2] ^= 0x40
    vals[row] = bytes(b)
    return {**table, col: vals}


def _corrupt(part: str):
    def apply(out: dict) -> dict:
        data = load(out)
        if part == "gradients":
            data["gradients"] = [dict(data["gradients"][0], p8_sum=data["gradients"][0]["p8_sum"] + 8)] + data["gradients"][1:]
        else:
            data[part] = _flip(data[part], "raster" if part == "cutline" else "tile")
        return {**out, "data": data}
    return apply


CORRUPTIONS = {p: _corrupt(p) for p in ("mosaic", "pyramid", "gradients", "cutline", "updated")}
