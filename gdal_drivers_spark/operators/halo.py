"""Halo exchange — 2-D sliding-window support across tile boundaries.

The reference's overlap kernel (``blender.cpp:601-624``) is a 2ow×2oh
sliding frame over continuous space (W1). Within a tile that is pure
numpy; when a window crosses tile edges, the distributed analogue is a
**neighbor-cell self-join**: every tile is re-keyed to each of its ≤8
neighbors (plus itself), so a grouped UDF over the target cell sees the
full halo. Spark's ``Window`` is 1-D; 2-D halos are always done this
way (fan-out ≤9×, all JVM arithmetic, one shuffle on the target key).

The blend operator itself does NOT need this (its feather weights
depend only on world-space valid extents, never neighbor pixels); halo
is for kernels that read neighbor *pixels* — e.g. cross-tile
convolution or gradient ops.

Two fan-out strategies:

- ``with_halo`` — re-key the FULL tile to every neighbor. Simple,
  ring-generic, but shuffles ≤9× the raster bytes; fine for small
  rasters or kernels that genuinely read whole neighbor tiles.
- ``with_halo_bands`` — the scale path for kernels of support radius
  ``w``: a narrow Arrow stage projects each tile down to its 4 edge
  bands + 4 corner blocks BEFORE the re-key explode, so neighbors
  receive only the pixels they read. Shuffle bytes ≈ raster bytes (the
  self contribution) + 4·w·t + 4·w² per tile (+0.8% at t=512, w=1 vs
  the 9× of the full re-key — the difference between "works" and
  "doesn't" at 100 TB of DEM). ``with_halo_strips`` is its w=1 case.

The consuming side is shared too: :func:`run_halo` runs one kernel per
target tile over the contributions :func:`parse_halo` validated, so
the poison and duplicate rules below hold for every halo operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.operators._groups import run_grouped


def parse_halo(dxs, dys, payloads, t: int, w: int):
    """One target cell's ``with_halo_bands`` contributions →
    ``(contrib, n_bad, center_row)``, ``contrib`` mapping each
    offset (dx, dy) to its payload bytes.

    Poison policy (house rule): a NULL or wrong-length payload (t² at
    the center, w·t on a side, w² on a diagonal) is counted in
    ``n_bad`` and treated as absent — never a stage kill. A duplicate
    offset (malformed upstream union) keeps the lexicographically
    smaller payload and also counts as bad, so the winner never depends
    on shuffle order. ``center_row`` tells a target whose own tile is
    corrupt (poison: callers emit a flagged row) from a sparse-raster
    neighbor group that holds no tile at all."""
    contrib: dict = {}
    n_bad = 0
    center_row = False
    for dx, dy, raw in zip(dxs, dys, payloads):
        off = (dx, dy)
        if off == (0, 0):
            center_row = True
        need = t * t if off == (0, 0) else w * w if off[0] and off[1] else w * t
        if raw is None or len(raw) != need:
            n_bad += 1
            continue
        if off in contrib:
            n_bad += 1
            if raw >= contrib[off]:
                continue
        contrib[off] = raw
    return contrib, n_bad, center_row


def halo_window(contrib: dict, t: int, w: int, fill: int) -> np.ndarray:
    """The (t+2w)² int64 window around a target tile: the center tile
    and every neighbor band pasted at its offset (band payloads are
    row-major slices, see ``with_halo_bands``), ``fill`` elsewhere."""
    win = np.full((t + 2 * w, t + 2 * w), fill, np.int64)
    for (dx, dy), raw in contrib.items():
        h, wd = (t if dy == 0 else w), (t if dx == 0 else w)
        y0 = 0 if dy < 0 else w + t if dy > 0 else w
        x0 = 0 if dx < 0 else w + t if dx > 0 else w
        win[y0:y0 + h, x0:x0 + wd] = np.frombuffer(raw, np.uint8).reshape(h, wd)
    return win


def run_halo(
    tiles: DataFrame, tile_px: int, width: int, schema: str, kernel,
    cell: str = "cell", tile: str = "tile",
) -> DataFrame:
    """One ``with_halo_bands`` exchange, then ``kernel(kc, contrib,
    n_bad)`` once per target cell that holds a tile row (``contrib``
    lacks (0, 0) when that tile is corrupt). Neighbor-only groups of a
    sparse raster emit nothing. The kernel returns rows of ``schema``."""
    t, w = int(tile_px), int(width)

    def _k(key, g):
        contrib, n_bad, center_row = parse_halo(g["dx"], g["dy"], g["payload"], t, w)
        return kernel(key[0], contrib, n_bad) if center_row else []

    h = with_halo_bands(tiles, t, w, cell=cell, tile=tile)
    return run_grouped(h, ["target_cell"], ["dx", "dy", "payload"], _k, schema)


def halo_convolve(tiles: DataFrame, tile_px: int, cell: str = "cell") -> DataFrame:
    """Cross-tile 3×3 box-mean — the halo join's pixel use case (the
    sliding spatial window of ``blender.cpp:601-624`` generalized to
    neighbor-PIXEL kernels). Each target cell's group receives its own
    tile plus the 1-px strips of its ≤8 neighbors
    (``with_halo_strips`` — the kernel reads exactly that ring, so the
    exchange ships ≈ raster bytes instead of 9×), assembles the
    (t+2)² value + presence window, convolves, and emits the interior
    — tile seams are exact, identical to convolving the stitched full
    image.

    Input rows: (cell:long, tile:binary u8 raw tile_px²). Missing
    neighbors (domain edge or absent tile) contribute zeros and the
    mean divides by the number of PRESENT in-window samples
    (edge-normalized — NOT the clamp convention DEM uses). Poison and
    duplicate contributions follow :func:`parse_halo`: a corrupt/NULL
    contribution is absent and counted in ``n_bad``; a target whose
    own tile is corrupt emits a FLAGGED row (empty tile, its n_bad) —
    distinguishable from a sparse/absent tile (no row) and never a
    stage kill.
    """
    t = tile_px

    def _conv(kc, contrib, n_bad):
        if (0, 0) not in contrib:
            return [(kc, b"", n_bad)]  # poison CENTER: flagged, never dropped
        win = halo_window(contrib, t, 1, -1)
        Pm = (win >= 0).astype(np.float64)
        V = np.where(win >= 0, win, 0).astype(np.float64)
        acc = np.zeros((t, t), np.float64)
        cnt = np.zeros((t, t), np.float64)
        for ky in range(3):
            for kx in range(3):
                acc += V[ky : ky + t, kx : kx + t]
                cnt += Pm[ky : ky + t, kx : kx + t]
        out = np.rint(acc / np.maximum(cnt, 1.0)).astype(np.uint8)
        return [(kc, out.tobytes(), n_bad)]

    return run_halo(tiles, t, 1, "cell long, tile binary, n_bad long", _conv, cell=cell)


def with_halo(tiles: DataFrame, cell: str = "cell", ring: int = 1) -> DataFrame:
    """Re-key each tile row to itself and its in-bounds neighbor cells
    within Chebyshev distance ``ring``.

    Output columns: ``target_cell`` (the cell whose computation this
    row supports), ``dx``/``dy`` (the offset of the contributing tile
    relative to the target, in [-ring, ring]), plus all input columns.
    ``groupBy('target_cell')`` then sees each tile with its halo.
    """
    z = F.shiftright(F.col(cell), 52)
    x = F.shiftright(F.col(cell), 26) % F.lit(1 << 26)
    y = F.col(cell) % F.lit(1 << 26)
    n = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(shiftright({cell}, 52) AS INT))")
    out = (
        tiles.withColumn("_dx", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-ring), F.lit(ring))))
        .withColumn("_tx", x + F.col("_dx"))
        .withColumn("_ty", y + F.col("_dy"))
        # bounds clamp semantics per mbtiles.cpp:146-152: out-of-domain
        # neighbors are dropped, not wrapped
        .filter((F.col("_tx") >= 0) & (F.col("_tx") < n) & (F.col("_ty") >= 0) & (F.col("_ty") < n))
        .withColumn(
            "target_cell",
            z * F.lit(1 << 52) + F.col("_tx") * F.lit(1 << 26) + F.col("_ty"),
        )
        # offset of the CONTRIBUTING tile relative to the target
        .withColumn("dx", -F.col("_dx"))
        .withColumn("dy", -F.col("_dy"))
        .drop("_dx", "_dy", "_tx", "_ty")
    )
    return out


def with_halo_strips(
    tiles: DataFrame, tile_px: int, cell: str = "cell", tile: str = "tile"
) -> DataFrame:
    """Strip-projected ring-1 halo for 3×3 kernels: ``with_halo_bands``
    at width 1. Each side neighbor receives the 1-px edge strip it
    reads (payload index = the coordinate that varies along the shared
    edge), each diagonal neighbor the single corner byte its padded
    window reads — e.g. the (-1,-1) contribution ships n[t-1, t-1].

    This projection is LOSSLESS for the DEM assembler including its
    corner-fallback chain (a missing diagonal falls back to a side
    neighbor's corner pixel — always an element of that side's strip)."""
    return with_halo_bands(tiles, tile_px, 1, cell=cell, tile=tile)


def with_halo_bands(
    tiles: DataFrame,
    tile_px: int,
    width: int,
    cell: str = "cell",
    tile: str = "tile",
) -> DataFrame:
    """Band-projected ring-1 halo — the exchange layer for kernels of
    support radius ``width`` (3×3 DEM kernels at w=1, bounded-radius
    proximity, morphology, wide convolutions). Each tile ships its
    full payload only to itself; each side neighbor receives the
    ``width`` edge rows/columns it reads, each diagonal neighbor the
    ``width``×``width`` corner block. Exchange bytes ≈ raster +
    4·w·t + 4·w² per tile instead of 9× the raster.

    Input rows: (cell:long, tile:binary raw u8 tile_px²) — the payload
    column name is ``tile`` (parameter; extra input columns are
    dropped). Output columns: ``target_cell``, ``dx``/``dy`` (offset
    of the CONTRIBUTING tile relative to the target, as in
    ``with_halo``) and ``payload``: row-major C-order slices of the
    source tile (north/south bands: (w, t); west/east bands: (t, w);
    corners: (w, w)), so the assembler can ``reshape`` without
    transposes. ``width == tile_px`` degrades gracefully to full-tile
    shipping (the slices cover the whole array).

    Plan shape: one narrow Arrow hop (band extraction over the tile
    column only — the cell stays in the JVM), a JVM explode over the 9
    offsets with a CASE payload pick, then the one re-key shuffle.

    Poison policy: a NULL/corrupt tile still produces its 9 output
    rows with NULL band payloads (and its original payload at (0,0)),
    so downstream assemblers can count bad contributions and flag a
    corrupt CENTER.

    ``width`` must be ≤ ``tile_px``: a wider kernel needs ring-2+
    halos — re-tile coarser instead, so the constraint is validated,
    not silently clipped.
    """
    t, w = int(tile_px), int(width)
    if not 1 <= w <= t:
        raise ValueError(f"halo width {w} outside [1, tile_px={t}]")
    names = ("_r0", "_rl", "_c0", "_cl", "_b00", "_b0l", "_bl0", "_bll")

    @F.pandas_udf("struct<" + ",".join(f"{k}:binary" for k in names) + ">")
    def _bands(col: pd.Series) -> pd.DataFrame:
        import numpy as np

        rows = []
        for raw in col:
            try:
                arr = np.frombuffer(bytes(raw), np.uint8).reshape(t, t)
            except (TypeError, ValueError):  # NULL or wrong-length tile
                rows.append((None,) * 8)  # (0,0) still ships the raw payload
                continue
            rows.append(tuple(np.ascontiguousarray(s).tobytes() for s in (
                arr[:w], arr[t - w:], arr[:, :w], arr[:, t - w:],
                arr[:w, :w], arr[:w, t - w:], arr[t - w:, :w], arr[t - w:, t - w:],
            )))
        return pd.DataFrame(rows, columns=list(names), dtype=object)

    stripped = tiles.select(
        F.col(cell).alias(cell), F.col(tile).alias("tile")
    ).withColumn("_s", _bands(F.col("tile"))).select(cell, "tile", "_s.*")

    z = F.shiftright(F.col(cell), 52)
    x = F.shiftright(F.col(cell), 26) % F.lit(1 << 26)
    y = F.col(cell) % F.lit(1 << 26)
    n = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(shiftright({cell}, 52) AS INT))")
    dx, dy = -F.col("_dx"), -F.col("_dy")  # contribution offset rel. target
    payload = (
        F.when((dx == 0) & (dy == 0), F.col("tile"))
        .when((dx == -1) & (dy == 0), F.col("_cl"))
        .when((dx == 1) & (dy == 0), F.col("_c0"))
        .when((dx == 0) & (dy == -1), F.col("_rl"))
        .when((dx == 0) & (dy == 1), F.col("_r0"))
        .when((dx == -1) & (dy == -1), F.col("_bll"))
        .when((dx == 1) & (dy == -1), F.col("_bl0"))
        .when((dx == -1) & (dy == 1), F.col("_b0l"))
        .otherwise(F.col("_b00"))  # (1, 1)
    )
    return (
        stripped.withColumn("_dx", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("_dy", F.explode(F.sequence(F.lit(-1), F.lit(1))))
        .withColumn("_tx", x + F.col("_dx"))
        .withColumn("_ty", y + F.col("_dy"))
        # same out-of-domain drop semantics as with_halo
        .filter((F.col("_tx") >= 0) & (F.col("_tx") < n) & (F.col("_ty") >= 0) & (F.col("_ty") < n))
        .select(
            (z * F.lit(1 << 52) + F.col("_tx") * F.lit(1 << 26) + F.col("_ty")).alias("target_cell"),
            dx.cast("int").alias("dx"),
            dy.cast("int").alias("dy"),
            payload.alias("payload"),
        )
    )
