"""Quadtree rasterize / vectorize — raster↔vector passes.

Rasterize reproduces the QuadtreeMask read path
(``/root/reference/gdal-drivers/mask.cpp:219-264``): for each output
tile, paint the quads intersecting it into a zeroed u8 tile — white
(full) = 255, gray (partial) = 128, black left 0 (tristate values per
``mask.cpp:213-217``, constraint prune ``mask.cpp:229-233``).

Distributed shape: each quad is exploded to the tiles it intersects
(JVM-side sequence/explode — the constraint prune as join selectivity),
then one grouped Arrow kernel per tile (``_groups.run_grouped``) does
vectorized rect fills. There is no per-pixel Python: one numpy slice
assignment per quad.

Vectorize is the inverse pass (the reference reads masks; writing them
back requires the quadtree encoding of ``mask.cpp:266-308``): each tile
is reduced bottom-up, merging 2×2 blocks of equal value into maximal
quads — emitting exactly the quadtree the mask writer would store.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.core import qcell
from gdal_drivers_spark.operators._groups import run_batches, run_grouped

WHITE, GRAY, BLACK = 255, 128, 0
_VAL = {"white": WHITE, "gray": GRAY, "black": BLACK}

RASTERIZE_SCHEMA = "tx long, ty long, tile binary, ts int"
VECTORIZE_SCHEMA = "level int, qx long, qy long, size long, value string"


def rasterize_quads(quads: DataFrame, depth: int, tile_px: int = 256) -> DataFrame:
    """quads(level, qx, qy, value∈{white,gray,black}) → tiles at full
    depth resolution (grid = 2^depth leaf cells; tile covers tile_px
    leaf cells per side).

    Black quads are dropped early (the zeroed tile already encodes
    them) — the analogue of painting only white/gray (mask.cpp:240-256).
    """
    n_units = 1 << depth
    tiles_per_side = max(1, n_units // tile_px)

    q = (
        quads.filter(F.col("value") != "black")
        .withColumn("_scale", F.pow(F.lit(2.0), F.lit(depth) - F.col("level")).cast("long"))
        .withColumn("ux0", F.col("qx") * F.col("_scale"))
        .withColumn("uy0", F.col("qy") * F.col("_scale"))
        .withColumn("ux1", (F.col("qx") + 1) * F.col("_scale"))  # exclusive
        .withColumn("uy1", (F.col("qy") + 1) * F.col("_scale"))
    )
    # explode each quad to intersecting tiles (constraint prune → join key)
    q = (
        q.withColumn(
            "tx",
            F.explode(
                F.sequence(
                    (F.col("ux0") / tile_px).cast("long"),
                    F.least(
                        ((F.col("ux1") - 1) / tile_px).cast("long"),
                        F.lit(tiles_per_side - 1),
                    ),
                )
            ),
        )
        .withColumn(
            "ty",
            F.explode(
                F.sequence(
                    (F.col("uy0") / tile_px).cast("long"),
                    F.least(
                        ((F.col("uy1") - 1) / tile_px).cast("long"),
                        F.lit(tiles_per_side - 1),
                    ),
                )
            ),
        )
    )

    def _paint(key, g):
        tx, ty = key
        ox, oy = tx * tile_px, ty * tile_px
        tile = np.zeros((tile_px, tile_px), np.uint8)
        # paint gray first so white wins where both touch a boundary
        quads = sorted(zip([_VAL.get(v, BLACK) for v in g["value"]],
                           g["ux0"], g["uy0"], g["ux1"], g["uy1"]))
        for vv, ux0, uy0, ux1, uy1 in quads:
            x0 = max(ux0 - ox, 0)
            y0 = max(uy0 - oy, 0)
            x1 = min(ux1 - ox, tile_px)
            y1 = min(uy1 - oy, tile_px)
            tile[y0:y1, x0:x1] = vv
        return [(tx, ty, tile.tobytes(), tile_px)]

    return run_grouped(q, ["tx", "ty"], ["value", "ux0", "uy0", "ux1", "uy1"],
                       _paint, RASTERIZE_SCHEMA)


def _merge_quads(tile: np.ndarray, ox: int, oy: int, depth: int):
    """Maximal-quad extraction from one tile: every pixel is covered by
    exactly one quad — the largest uniform aligned power-of-two block
    containing it. Two passes, both vectorized per pyramid level:
    bottom-up uniformity, then emit blocks whose parent is not uniform
    (or the tile root)."""
    ts = tile.shape[0]
    n_levels = ts.bit_length() - 1  # log2(ts)
    vals = [tile]
    uniforms = [np.ones_like(tile, bool)]
    for _ in range(n_levels):
        v, u = vals[-1], uniforms[-1]
        a, b = v[0::2, 0::2], v[0::2, 1::2]
        c, d = v[1::2, 0::2], v[1::2, 1::2]
        u2 = (
            u[0::2, 0::2] & u[0::2, 1::2] & u[1::2, 0::2] & u[1::2, 1::2]
            & (a == b) & (a == c) & (a == d)
        )
        vals.append(a)
        uniforms.append(u2)

    rows = []
    for li in range(n_levels, -1, -1):  # li = log2(size)
        size = 1 << li
        level = depth - li
        u = uniforms[li]
        if li == n_levels:
            emit = u
        else:
            parent_u = np.repeat(np.repeat(uniforms[li + 1], 2, 0), 2, 1)
            emit = u & ~parent_u
        ys, xs = np.nonzero(emit)
        v = vals[li]
        for y, x in zip(ys.tolist(), xs.tolist()):
            rows.append((level, ox // size + x, oy // size + y, size, int(v[y, x])))
    return rows


def vectorize_tiles(tiles: DataFrame, depth: int, tile_px: int = 256) -> DataFrame:
    """Inverse of rasterize: tiles → maximal uniform quads (the quadtree
    the mask writer stores, mask.cpp:266-308). Per-tile numpy bottom-up
    merge; cross-tile merging is a subsequent groupBy on parent ids
    (rarely worth it — the reference's trees are per-file too)."""

    def _vec(g):
        for tx, ty, tile, ts in zip(g["tx"], g["ty"], g["tile"], g["ts"]):
            px = np.frombuffer(tile, np.uint8).reshape(ts, ts)
            for level, qx, qy, size, v in _merge_quads(px, tx * tile_px, ty * tile_px, depth):
                yield level, qx, qy, size, "white" if v == WHITE else ("gray" if v == GRAY else "black")

    return run_batches(tiles, ["tx", "ty", "tile", "ts"], _vec, VECTORIZE_SCHEMA)


# ---------------------------------------------------------------------------
# gdal_rasterize — burn vector features into a tiled raster
# ---------------------------------------------------------------------------

BURN_SCHEMA = "cell long, raster binary, n_burned long, n_features long"
BURN_MASK_SCHEMA = ("cell long, raster binary, mask binary, "
                    "n_burned long, n_features long")


def burn_features(
    features: DataFrame,
    tile_px: int,
    z: int,
    grid_wh: tuple,
    init: int = 0,
    emit_mask: bool = False,
) -> DataFrame:
    """gdal_rasterize: paint polygon features into a raster — a pixel
    whose CENTER is inside a feature's ring takes that feature's burn
    value; overlapping features resolve LAST-WINS in ``fid`` order
    (gdal_rasterize paints in layer order; a distributed engine must
    key the order on data, so fid is the order). ALL_TOUCHED is not
    implemented (center rule only, GDAL's default).

    Distributed shape: each feature explodes to the tiles its ring
    BBOX intersects — the bbox comes from JVM array_min/array_max over
    the ring column, the explode is a JVM sequence, so feature fan-out
    costs no Python — then one kernel per tile paints its local
    features ordered by fid (vectorized PIP per feature, restricted to
    the bbox∩tile window). Tiles no feature touches keep the ``init``
    background via a dense-universe left join (gdal_rasterize -init).
    Per-feature work is O(bbox area), total Σ feature areas — flat in
    raster size, the same envelope argument as the gridding kernels.

    ``features``: (fid long, ring array<array<double>> [[x,y],…] in
    global pixel units, v int burn value). Degenerate rings (<3 points) are
    dropped with the same prune as empty bboxes (gdal_rasterize skips
    unpaintable geometries)."""
    from gdal_drivers_spark.core.geometry import points_in_polygon

    t = int(tile_px)
    gw, gh = int(grid_wh[0]), int(grid_wh[1])
    nd = int(init) & 0xFF

    xs = F.transform(F.col("ring"), lambda p: p[0])
    ys = F.transform(F.col("ring"), lambda p: p[1])
    gated = (
        features.filter(F.size(F.col("ring")) >= 3)
        .select(
            F.col("fid").alias("_fid"), F.col("ring").alias("_ring"),
            F.col("v").alias("_v"),
            F.array_min(xs).alias("_bx0"), F.array_max(xs).alias("_bx1"),
            F.array_min(ys).alias("_by0"), F.array_max(ys).alias("_by1"),
        )
        # bbox-intersects-grid gate BEFORE the explode: Spark
        # sequence(lo, hi) with lo > hi counts DOWN — a feature fully
        # outside the grid would fan out to every tile between the
        # clamped edge and its far-away bbox tile (and land a phantom
        # row on the edge tile, inflating n_features)
        .filter(
            (F.col("_bx1") >= 0) & (F.col("_bx0") <= F.lit(gw * t - 1))
            & (F.col("_by1") >= 0) & (F.col("_by0") <= F.lit(gh * t - 1))
        )
    )
    f = qcell.explode_ranges(
        gated, z,
        (F.greatest(F.floor(F.col("_bx0") / t), F.lit(0)).cast("long"),
         F.least(F.floor(F.col("_bx1") / t), F.lit(gw - 1)).cast("long")),
        (F.greatest(F.floor(F.col("_by0") / t), F.lit(0)).cast("long"),
         F.least(F.floor(F.col("_by1") / t), F.lit(gh - 1)).cast("long")),
    )

    def _kernel(key, g):
        kc = key[0]
        _, tx, ty = qcell.unpack_int(kc)
        x0, y0 = tx * t, ty * t
        img = np.full((t, t), nd, np.uint8)
        burned = np.zeros((t, t), bool)
        # (fid, burn, bbox) lexsort — a stable fid-only sort would tie-
        # break DUPLICATE fids by shuffle arrival order, making the
        # last-wins result partitioning-dependent; the full data key
        # pins it for any input
        order = np.lexsort(tuple(np.asarray(g[c]) for c in (
            "_by1", "_bx1", "_by0", "_bx0", "_v", "_fid")))
        for i in order:  # ascending fid: later paints over earlier
            r = np.asarray([[p[0], p[1]] for p in g["_ring"][i]], np.float64)
            # restrict the PIP to the ring-bbox ∩ tile pixel window
            cx0 = max(int(np.floor(g["_bx0"][i])) - x0, 0)
            cx1 = min(int(np.ceil(g["_bx1"][i])) - x0, t)
            cy0 = max(int(np.floor(g["_by0"][i])) - y0, 0)
            cy1 = min(int(np.ceil(g["_by1"][i])) - y0, t)
            if cx0 >= cx1 or cy0 >= cy1:
                continue
            wx = np.arange(cx0, cx1)[None, :] + x0 + 0.5
            wy = np.arange(cy0, cy1)[:, None] + y0 + 0.5
            ww, wh = cx1 - cx0, cy1 - cy0
            inside = points_in_polygon(
                wx.repeat(wh, axis=0).ravel(),
                wy.repeat(ww, axis=1).ravel(), r,
            ).reshape(wh, ww)
            v = int(g["_v"][i]) & 0xFF
            sl = np.s_[cy0:cy1, cx0:cx1]
            img[sl][inside] = v
            burned[sl] |= inside
        n = len(g["_fid"])
        if emit_mask:
            return [(kc, img.tobytes(), burned.astype(np.uint8).tobytes(),
                     int(burned.sum()), n)]
        return [(kc, img.tobytes(), int(burned.sum()), n)]

    painted = run_grouped(
        f, ["cell"], ["_fid", "_ring", "_v", "_bx0", "_bx1", "_by0", "_by1"],
        _kernel, BURN_MASK_SCHEMA if emit_mask else BURN_SCHEMA)
    universe = qcell.grid_cells(features.sparkSession, z, gw, gh)
    empty = bytes([nd]) * (t * t)
    cols = [
        F.coalesce("raster", F.lit(empty)).alias("raster"),
        F.coalesce("n_burned", F.lit(0)).alias("n_burned"),
        F.coalesce("n_features", F.lit(0)).alias("n_features"),
    ]
    if emit_mask:
        # mask doubles the Arrow payload — only the burn_into merge
        # needs it, plain gdal_rasterize callers skip the cost
        cols.insert(1, F.coalesce("mask", F.lit(bytes(t * t))).alias("mask"))
    return universe.join(painted, "cell", "left").select("cell", *cols)


def burn_into(
    base: DataFrame,
    features: DataFrame,
    tile_px: int,
    z: int,
    grid_wh: tuple,
    tile_col: str = "raster",
) -> DataFrame:
    """gdal_rasterize's actual mode of use: burn features INTO an
    existing raster — burned pixels take the feature value, everything
    else keeps the base pixel. Composition: ``burn_features`` (which
    emits the burn mask alongside the painted raster) outer-joined to
    the base mosaic, then one Arrow merge hop
    ``out = where(mask, burned, base)``. Universe cells with no base
    tile keep the burn output (init background); corrupt/NULL base
    payloads poison their row (ok=false), and a base tile whose cell
    falls OUTSIDE the declared (z, grid_wh) universe also poisons —
    a silent drop would replace the whole mosaic when z is wrong."""
    t = int(tile_px)
    painted = burn_features(features, t, z, grid_wh, emit_mask=True)
    # FULL outer: a base tile whose cell is absent from the declared
    # universe (wrong z / outside grid_wh) must surface as a poison
    # row, not silently vanish from the composite (polygonize raises
    # for the analogous mis-declared grid)
    joined = painted.join(
        base.select(F.col("cell").alias("cell"), F.col(tile_col).alias("_base")),
        "cell", "full",
    )

    def _merge(g):
        for c, burned, nb, nf, mask, base in zip(
            g["cell"], g["raster"], g["n_burned"], g["n_features"], g["mask"], g["_base"]
        ):
            if burned is None:
                # base cell outside the burn universe: loud poison
                yield c, None, -1, -1, False
            elif base is None:
                yield c, burned, nb, nf, True
            elif len(base) != t * t:
                yield c, None, -1, nf, False
            else:
                img = np.where(np.frombuffer(mask, np.uint8) > 0, np.frombuffer(burned, np.uint8),
                               np.frombuffer(base, np.uint8)).astype(np.uint8)
                yield c, img.tobytes(), nb, nf, True

    return run_batches(
        joined, ["cell", "raster", "n_burned", "n_features", "mask", "_base"], _merge,
        "cell long, raster binary, n_burned long, n_features long, ok boolean",
    )
