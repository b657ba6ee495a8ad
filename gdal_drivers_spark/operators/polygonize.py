"""Raster polygonize — connected-component labeling of equal-value
pixel regions across tiles (the ``gdal_polygonize`` workflow: GDAL
walks the whole raster single-node; reference drivers expose rasters
it would consume, e.g. mask.cpp's quadtree rasters).

Distributed decomposition — pixels are touched exactly once and never
shuffled:

1. one Arrow hop labels each tile locally (union-find, 4- or
   8-connectivity, equal value) and reduces it to
   - one summary row per LOCAL component: (node, value, n_px) with
     ``node`` = the component's minimum global pixel id — unique
     across tiles and canonical (the final root is the min pixel id
     of the whole global component, independent of tile layout), and
   - one row per boundary pixel carrying the CROSS-TILE PAIR KEY
     (×4 keyspace): horizontal pair = west pixel's gpid·4, vertical =
     north gpid·4+1, and under 8-connectivity (gdal_polygonize -8)
     the diagonal pairs ↘/↙ = the upper pixel's gpid·4+2/+3 — both
     sides of a tile seam compute the same key from their own
     coordinates, so no halo exchange is needed at all;
2. a groupBy(pair key) turns seam pairs with equal value into
   equivalence edges between local components (strip-sized data:
   4·t rows per tile, not t²);
3. the existing hash-min label propagation
   (``dedup.connected_components``, O(log diameter) rounds) unions
   local components into global ones — it runs on the COMPONENT
   graph (≤ a few rows per tile), not on pixels;
4. a final groupBy(root, value) sums exact integer stats.

At 100 TB: step 1 is embarrassingly parallel, step 2 shuffles
boundary rows only (≈ perimeter bytes), step 3's graph is ~|tiles|
nodes. The iterative CC is the one genuinely non-SQL-expressible
stage (rows-only driver check; the contract fixture's components are
analytically derivable so its oracle is exact anyway).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.core import qcell
from gdal_drivers_spark.operators._groups import run_batches
from gdal_drivers_spark.operators.dedup import connected_components


def _label_tile(v: np.ndarray, connectivity: int = 4) -> np.ndarray:
    """Union-find labeling, 4- or 8-connectivity (gdal_polygonize's
    default vs -8), equal value. Returns an int array of per-pixel
    local root indices (root = arbitrary member index; callers
    canonicalize via min gpid).

    The Python loop runs ONLY over equal-neighbor pairs (numpy masks
    find them); the final root resolution is vectorized pointer
    jumping — for a categorical raster with few merges per tile this
    keeps the kernel numpy-speed instead of interpreted passes over
    every pixel."""
    t0, t1 = v.shape
    n = t0 * t1
    parent = np.arange(n)

    def find(a: int) -> int:
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    def union_pairs(idx, off):
        for i in idx:
            ra, rb = find(int(i) + off), find(int(i))
            if ra != rb:
                parent[ra] = rb

    flat = v.ravel()
    left = np.flatnonzero(flat[1:] == flat[:-1])
    union_pairs(left[(left % t1) != (t1 - 1)], 1)  # drop row-wrap pairs
    union_pairs(np.flatnonzero(flat[t1:] == flat[:-t1]), t1)
    if connectivity == 8:
        dr = np.flatnonzero(flat[t1 + 1:] == flat[:-(t1 + 1)])
        union_pairs(dr[(dr % t1) != (t1 - 1)], t1 + 1)  # ↘
        dl = np.flatnonzero(flat[t1 - 1:] == flat[:-(t1 - 1)])
        union_pairs(dl[(dl % t1) != 0], t1 - 1)  # ↙
    # vectorized pointer jumping resolves every pixel to its root
    while True:
        p2 = parent[parent]
        if np.array_equal(p2, parent):
            return parent
        parent = p2


def _polygonize_parts(
    tiles: DataFrame,
    tile_px: int,
    grid_wh: tuple,
    tile_col: str,
    grid_origin: tuple,
    max_iter: int,
    adjacency: bool = False,
    connectivity: int = 4,
):
    """Shared pipeline front half: tile labeling → (raw frame,
    summaries, poison rows, grouped seam pairs, CC labels). With
    ``adjacency=True`` the Arrow hop also emits kind-2 rows — in-tile
    boundary counts between DIFFERENT local components, with the
    ``pair_key`` column carrying the second node id — for sieve's
    largest-neighbor rule.

    The raw frame is ``localCheckpoint``ed, for ``polygonize``,
    ``sieve`` and ``sieve_apply`` alike. Its blocks live only on
    executors: losing an executor fails the job, with no lineage to
    recompute them from."""
    t = int(tile_px)
    gw, gh = int(grid_wh[0]), int(grid_wh[1])
    ox, oy = int(grid_origin[0]), int(grid_origin[1])
    W = gw * t  # global width in pixels (gpid = gy * W + gx)

    def gen(cols):
        srows = []
        for cell, payload in zip(cols["cell"], cols[tile_col]):
            _, tx, ty = qcell.unpack_int(cell)
            tx, ty = tx - ox, ty - oy
            if not (0 <= tx < gw and 0 <= ty < gh):
                raise ValueError(
                    f"tile ({tx + ox}, {ty + oy}) outside the declared "
                    f"grid origin={grid_origin} size={grid_wh}: gpid "
                    "linearization would alias across rows and fuse "
                    "unrelated components"
                )
            try:
                v = np.frombuffer(bytes(payload), np.uint8)
                v = v.reshape(t, t).astype(np.int64)
            except Exception:
                srows.append((1, -1, -1, -1, 0))  # poison marker
                continue
            gx0, gy0 = tx * t, ty * t
            roots = _label_tile(v, connectivity)
            gy = np.arange(t)[:, None] + gy0
            gx = np.arange(t)[None, :] + gx0
            gpid = (gy * W + gx).ravel().astype(np.int64)
            flat = v.ravel()
            # canonical node id per local root: min gpid (vectorized)
            min_g = np.full(t * t, np.iinfo(np.int64).max, np.int64)
            np.minimum.at(min_g, roots, gpid)
            counts = np.bincount(roots, minlength=t * t)
            node_px = min_g[roots]  # per-pixel canonical node id
            # kind 0: local component summaries
            for r in np.flatnonzero(counts):
                srows.append((0, int(min_g[r]), int(flat[r]), -1, int(counts[r])))
            if adjacency:
                # kind 2: in-tile boundary counts between DIFFERENT
                # local components (pair_key column = second node)
                npx2 = node_px.reshape(t, t)
                ha, hb = npx2[:, :-1].ravel(), npx2[:, 1:].ravel()
                va, vb = npx2[:-1, :].ravel(), npx2[1:, :].ravel()
                a = np.concatenate([ha, va])
                b = np.concatenate([hb, vb])
                m = a != b
                if m.any():
                    pairs = np.stack(
                        [np.minimum(a[m], b[m]), np.maximum(a[m], b[m])], 1
                    )
                    uq, cnt2 = np.unique(pairs, axis=0, return_counts=True)
                    for (na, nb), c in zip(uq, cnt2):
                        srows.append((2, int(na), -1, int(nb), int(c)))
            # kind 1: seam rows. pair key (×4 keyspace): horizontal
            # = west gpid·4, vertical = north gpid·4+1, and under
            # 8-connectivity the diagonals ↘ = upper-left gpid·4+2,
            # ↙ = upper-right gpid·4+3 — every side derives the key
            # from its OWN coordinates alone, so no halo is shipped
            def seam(idx):
                for i in idx:
                    yield int(node_px[i]), int(flat[i])

            east = np.arange(t) * t + (t - 1)
            for (node, val), i in zip(seam(east), east):
                srows.append((1, node, val, int(gpid[i]) * 4, 1))
            if gx0 > 0:
                west = np.arange(t) * t
                for (node, val), i in zip(seam(west), west):
                    srows.append((1, node, val, (int(gpid[i]) - 1) * 4, 1))
            south = (t - 1) * t + np.arange(t)
            for (node, val), i in zip(seam(south), south):
                srows.append((1, node, val, int(gpid[i]) * 4 + 1, 1))
            if gy0 > 0:
                north = np.arange(t)
                for (node, val), i in zip(seam(north), north):
                    srows.append((1, node, val, (int(gpid[i]) - W) * 4 + 1, 1))
            if connectivity == 8:
                H = gh * t
                west = np.arange(t) * t
                north = np.arange(t)

                def emit_diag(idx, keyfn, guard):
                    for i in np.unique(idx):
                        g = int(gpid[i])
                        if guard(g % W, g // W):
                            srows.append((1, int(node_px[i]),
                                          int(flat[i]), keyfn(g), 1))

                # ↘ pair (p, p+W+1): upper-left side = east∪south,
                # lower-right side = west∪north of the OTHER tiles
                emit_diag(np.concatenate([east, south]),
                          lambda g: g * 4 + 2,
                          lambda x, y: x < W - 1 and y < H - 1)
                emit_diag(np.concatenate([west, north]),
                          lambda g: (g - W - 1) * 4 + 2,
                          lambda x, y: x > 0 and y > 0)
                # ↙ pair (p, p+W−1): upper-right side = west∪south,
                # lower-left side = east∪north
                emit_diag(np.concatenate([west, south]),
                          lambda g: g * 4 + 3,
                          lambda x, y: x > 0 and y < H - 1)
                emit_diag(np.concatenate([east, north]),
                          lambda g: (g - W + 1) * 4 + 3,
                          lambda x, y: x < W - 1 and y > 0)
        return srows

    raw = run_batches(tiles, ["cell", tile_col], gen,
                      "kind int, node long, value long, pair_key long, n_px long")
    raw = raw.localCheckpoint(eager=False)
    summaries = raw.filter("kind = 0").select("node", "value", "n_px")
    n_bad = raw.filter("kind = 1 and node = -1")
    seams = raw.filter("kind = 1 and node >= 0")
    grouped = seams.groupBy("pair_key").agg(
        F.min_by(F.struct("node", "value"), "node").alias("a"),
        F.max_by(F.struct("node", "value"), "node").alias("b"),
        F.count("*").alias("n"),
    )
    # seam pairs with equal value -> equivalence edge between local nodes
    edges = (
        grouped.filter("n = 2 AND a.value = b.value AND a.node != b.node")
        .select(F.col("a.node").alias("id1"), F.col("b.node").alias("id2"))
        .distinct()
    )
    labels = connected_components(edges, max_iter=max_iter)
    return raw, summaries, n_bad, grouped, labels


def polygonize(
    tiles: DataFrame,
    tile_px: int,
    grid_wh: tuple,
    tile_col: str = "tile",
    grid_origin: tuple = (0, 0),
    max_iter: int = 50,
    connectivity: int = 4,
) -> DataFrame:
    """Global equal-value components over a dense tile grid.

    Input rows: (cell, tile: raw u8 payload, t×t). Output one row per
    component: (component = min global pixel id, value, n_px,
    n_pieces) — all exact integers; ``n_pieces`` counts the
    component's per-tile connected pieces (≥ the tiles it crosses — a
    component can re-enter a tile). Corrupt tiles are skipped and
    surface as one (component=-1, value=-1, n_px=0, n_pieces=n_bad)
    poison row (house rule: counted, never fatal, never silent).

    ``grid_origin`` = (tx0, ty0) of the grid's top-left tile; tiles
    outside ``[origin, origin + grid_wh)`` RAISE — a mis-declared grid
    would alias global pixel ids (gpid = gy·W + gx wraps rows) and
    silently fuse unrelated components, which must fail fast instead.
    """
    if connectivity not in (4, 8):
        raise ValueError(f"connectivity must be 4 or 8, got {connectivity}")
    raw, summaries, n_bad, _, labels = _polygonize_parts(
        tiles, tile_px, grid_wh, tile_col, grid_origin, max_iter,
        connectivity=connectivity,
    )
    out = (
        summaries.join(labels, summaries.node == labels.node, "left")
        .select(
            F.coalesce("component", summaries.node).alias("component"),
            "value",
            "n_px",
        )
        .groupBy("component", "value")
        .agg(F.sum("n_px").alias("n_px"), F.count("*").alias("n_pieces"))
    )
    poison = n_bad.groupBy().agg(F.count("*").alias("nb")).filter("nb > 0").select(
        F.lit(-1).cast("long").alias("component"),
        F.lit(-1).cast("long").alias("value"),
        F.lit(0).cast("long").alias("n_px"),
        F.col("nb").alias("n_pieces"),
    )
    return out.unionByName(poison)


def _sieve_remap(tiles, tile_px, grid_wh, threshold, grid_origin, max_iter, max_remap):
    """Shared back half of the sieve pair: polygonize parts →
    component stats → root-level adjacency → small-component targets →
    driver-side transitive/cycle compression. Returns
    (raw, summaries, n_bad, node_root, comp, flat_remap)."""
    raw, summaries, n_bad, grouped, labels = _polygonize_parts(
        tiles, tile_px, grid_wh, "tile", grid_origin, max_iter, adjacency=True,
    )
    node_root = (
        summaries.select("node")
        .distinct()
        .join(labels, "node", "left")
        .select("node", F.coalesce("component", F.col("node")).alias("root"))
    )
    comp = (
        summaries.join(node_root, "node")
        .groupBy("root", "value")
        .agg(F.sum("n_px").alias("n_px"))
    )
    intile = raw.filter("kind = 2").select(
        F.col("node").alias("na"), F.col("pair_key").alias("nb"),
        F.col("n_px").alias("cnt"),
    )
    cross = grouped.filter("n = 2 AND a.value != b.value").select(
        F.col("a.node").alias("na"), F.col("b.node").alias("nb"),
        F.lit(1).cast("long").alias("cnt"),
    )
    r1 = node_root.select(F.col("node").alias("na"), F.col("root").alias("ra"))
    r2 = node_root.select(F.col("node").alias("nb"), F.col("root").alias("rb"))
    adj = (
        intile.unionByName(cross)
        .join(r1, "na")
        .join(r2, "nb")
        .filter("ra != rb")
        .select(
            F.least("ra", "rb").alias("x"), F.greatest("ra", "rb").alias("y"), "cnt"
        )
        .groupBy("x", "y")
        .agg(F.sum("cnt").alias("cnt"))
    )
    both = adj.unionByName(
        adj.select(F.col("y").alias("x"), F.col("x").alias("y"), "cnt")
    )
    small = comp.filter(F.col("n_px") < threshold).select(F.col("root").alias("x"))
    tgt = (
        both.join(F.broadcast(small), "x")
        .groupBy("x")
        .agg(F.max_by("y", F.struct(F.col("cnt"), -F.col("y"))).alias("target"))
    )
    remap_rows = tgt.limit(max_remap + 1).collect()
    if len(remap_rows) > max_remap:
        raise ValueError(
            f"sieve remap exceeds max_remap={max_remap} small components; "
            "raise the cap or lower the threshold"
        )
    remap = {int(r["x"]): int(r["target"]) for r in remap_rows}

    # transitive compression: a small target that is itself small
    # chains to ITS target (pointer chasing on the tiny driver map).
    # Mutually-small neighbors form a cycle — merge the whole cycle
    # into its minimum component id (deterministic, and they ARE one
    # merged region).
    def final_of(c):
        path, seen = [], set()
        while c in remap and c not in seen:
            seen.add(c)
            path.append(c)
            c = remap[c]
        if c in seen:
            return min(path[path.index(c):])
        return c

    flat = {c: final_of(c) for c in remap}
    return raw, summaries, n_bad, node_root, comp, flat


def sieve(
    tiles: DataFrame,
    tile_px: int,
    grid_wh: tuple,
    threshold: int,
    grid_origin: tuple = (0, 0),
    max_iter: int = 50,
    max_remap: int = 1_000_000,
) -> DataFrame:
    """gdal_sieve distributed: merge every component smaller than
    ``threshold`` pixels into its largest-shared-boundary neighbor
    (GDAL's rule; ties → lowest neighbor component id), one merge
    round, chains resolved transitively. Output one row per SURVIVING
    component: (component, value, n_px, n_absorbed) where n_px
    includes absorbed pixels and value is the ABSORBER's class.

    Plan shape: the polygonize pipeline plus (a) in-tile boundary
    counts between different local components (emitted by the same
    Arrow hop — perimeter-of-components-sized rows, not pixels),
    (b) cross-tile different-value seam pairs from the same seam
    groupBy, (c) two node→root translations and one groupBy to lift
    adjacency to global components. Only the small-component remap
    (≤ #small rows, ``max_remap``-guarded) ever reaches the driver —
    needed because transitive chain compression (A→B→C when B is
    itself small) is pointer-chasing on a tiny map, not a dataset
    operation. A small component with NO neighbor (single-component
    raster) survives unchanged."""
    _raw, _summ, n_bad, _nr, comp, flat = _sieve_remap(
        tiles, tile_px, grid_wh, threshold, grid_origin, max_iter, max_remap,
    )
    spark = tiles.sparkSession
    remap_df = spark.createDataFrame(
        [(k, v) for k, v in flat.items()] or [], "root long, final long"
    )
    merged = (
        comp.join(F.broadcast(remap_df), "root", "left")
        .select(
            F.coalesce("final", F.col("root")).alias("final"), "root", "value", "n_px"
        )
    )
    out = merged.groupBy("final").agg(
        F.sum("n_px").alias("n_px"),
        F.max_by("value", (F.col("root") == F.col("final")).cast("int")).alias("value"),
        (F.count("*") - 1).alias("n_absorbed"),
    ).select(F.col("final").alias("component"), "value", "n_px", "n_absorbed")
    poison = n_bad.groupBy().agg(F.count("*").alias("nb")).filter("nb > 0").select(
        F.lit(-1).cast("long").alias("component"),
        F.lit(-1).cast("long").alias("value"),
        F.lit(0).cast("long").alias("n_px"),
        F.col("nb").alias("n_absorbed"),
    )
    return out.unionByName(poison)


def sieve_apply(
    tiles: DataFrame,
    tile_px: int,
    grid_wh: tuple,
    threshold: int,
    grid_origin: tuple = (0, 0),
    max_iter: int = 50,
    max_remap: int = 1_000_000,
) -> DataFrame:
    """gdal_sieve's OUTPUT RASTER: rewrite the pixels of every
    sub-threshold component with its absorber's value (same merge rule
    as :func:`sieve`). Returns (cell, tile, n_relabeled) — tiles whose
    pixels all survive pass through byte-untouched with n_relabeled=0.

    Distribution: the remap is computed once (sieve's pipeline), then
    reduced to the CHANGED local pieces only (value actually differs —
    a small component absorbed by a same-value neighbor, impossible by
    construction, would be a no-op anyway). Changed pieces ≈ small
    components, so the relabel join broadcasts a tiny frame keyed by
    (tx, ty); the second Arrow hop re-labels only tiles that carry a
    changed piece and passes every other tile through without touching
    its bytes."""
    t = int(tile_px)
    gw = int(grid_wh[0])
    ox, oy = int(grid_origin[0]), int(grid_origin[1])
    W = gw * t
    _raw, summaries, _n_bad, node_root, comp, flat = _sieve_remap(
        tiles, tile_px, grid_wh, threshold, grid_origin, max_iter, max_remap,
    )
    spark = tiles.sparkSession
    remap_df = spark.createDataFrame(
        [(k, v) for k, v in flat.items()] or [], "root long, final long"
    )
    final_value = comp.select(
        F.col("root").alias("final"), F.col("value").alias("new_value")
    )
    # changed local pieces: node -> new value where it differs
    changed = (
        node_root.join(F.broadcast(remap_df), "root")
        .join(final_value, "final")
        .join(summaries.select("node", "value"), "node")
        .filter("new_value != value")
        .select(
            "node",
            "new_value",
            # integer div keeps gpids exact past 2^53 (doubles wouldn't)
            F.expr(f"(node % {W}) div {t}").alias("_tx"),
            F.expr(f"(node div {W}) div {t}").alias("_ty"),
        )
        .groupBy("_tx", "_ty")
        .agg(F.collect_list(F.struct("node", "new_value")).alias("_patch"))
    )
    _, cx, cy = qcell.unpack_col("cell")
    tagged = tiles.withColumn("_tx", cx - ox).withColumn("_ty", cy - oy)
    joined = tagged.join(F.broadcast(changed), ["_tx", "_ty"], "left").select(
        "cell", "tile", "_tx", "_ty", "_patch"
    )

    def relabel(g):
        for kc, payload, tx, ty, patch in zip(g["cell"], g["tile"], g["_tx"], g["_ty"], g["_patch"]):
            if patch is None:
                yield kc, payload, 0
                continue
            v = np.frombuffer(bytes(payload), np.uint8).reshape(t, t)
            roots = _label_tile(v.astype(np.int64))
            gy = np.arange(t)[:, None] + ty * t
            gx = np.arange(t)[None, :] + tx * t
            gpid = (gy * W + gx).ravel().astype(np.int64)
            min_g = np.full(t * t, np.iinfo(np.int64).max, np.int64)
            np.minimum.at(min_g, roots, gpid)
            node_px = min_g[roots]
            nv = {p["node"]: p["new_value"] for p in patch}
            flatpx = v.ravel().copy()
            n_rel = 0
            for node, val in nv.items():
                m = node_px == node
                n_rel += int(m.sum())
                flatpx[m] = val
            yield kc, flatpx.tobytes(), n_rel

    return run_batches(joined, ["cell", "tile", "_tx", "_ty", "_patch"], relabel,
                       "cell long, tile binary, n_relabeled long")


def contour_polygons(
    tiles: DataFrame,
    levels: list[int],
    tile_px: int,
    grid_wh: tuple,
    tile_col: str = "tile",
    grid_origin: tuple = (0, 0),
    max_iter: int = 50,
    connectivity: int = 4,
) -> DataFrame:
    """gdal_contour -p (polygon output): classify every pixel into the
    band between consecutive fixed levels (band k ⇔ #levels ≤ v — the
    half-open [l_{k-1}, l_k) convention gdal_contour uses for -p), then
    emit the connected equal-band components. The banding is ONE narrow
    Arrow hop writing band-index tiles; everything after is the
    existing distributed polygonize (local union-find → seam edges →
    hash-min CC), so the scale shape is identical to it.

    Output: (component = min global pixel id, band, n_px, n_pieces,
    lo, hi) — lo/hi are the band's level bounds, -1 for the open
    below-first / above-last bands (and on the poison row). Corrupt
    payloads pass through the banding hop untouched so polygonize's
    validation owns the poison accounting (single source of truth)."""
    lv = sorted(int(x) for x in levels)
    if not lv or len(lv) > 255:
        raise ValueError("levels must have 1..255 entries")
    if lv[0] < 1 or lv[-1] > 255 or len(set(lv)) != len(lv):
        raise ValueError("levels must be distinct and within [1, 255]")
    t = int(tile_px)
    lva = np.asarray(lv, np.int64)

    def _band(raw):
        # an upstream poison row (NULL) or a wrong-length payload passes
        # through: polygonize owns the poison accounting
        if raw is None or len(raw) != t * t:
            return raw
        return np.searchsorted(lva, np.frombuffer(raw, np.uint8), side="right").astype(np.uint8).tobytes()

    banded = run_batches(tiles, ["cell", tile_col],
                         lambda g: zip(g["cell"], map(_band, g[tile_col])),
                         f"cell long, {tile_col} binary")
    comp = polygonize(banded, t, grid_wh, tile_col, grid_origin,
                      max_iter, connectivity=connectivity)
    arr = F.array(*[F.lit(x).cast("long") for x in lv])
    band = F.col("value")
    lo = F.when(band <= 0, F.lit(-1)).otherwise(F.element_at(arr, band.cast("int")))
    hi = F.when(band < 0, F.lit(-1)).when(
        band >= len(lv), F.lit(-1)
    ).otherwise(F.element_at(arr, (band + 1).cast("int")))
    return comp.select(
        "component",
        band.alias("band"),
        "n_px", "n_pieces",
        lo.cast("long").alias("lo"),
        hi.cast("long").alias("hi"),
    )
