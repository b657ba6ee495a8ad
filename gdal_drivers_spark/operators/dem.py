"""DEM analytics — Horn slope / aspect / hillshade over tiled rasters
(the ``gdaldem`` workflow, distributed).

The 3×3 Horn (1981) kernel needs each pixel's 8 neighbors, so tile
edges need neighbor-tile pixels: the strip-projected halo exchange
(``operators/halo.with_halo_strips``) re-keys every tile to its ≤8
neighbors shipping ONLY the 1-px edge strip (or corner byte) each
neighbor reads, and one grouped Arrow UDF per target tile assembles
the (t+2)² padded window — cross-tile seams are then EXACT (identical
to running the kernel on the stitched full raster, proven in tests).
Domain edges (and missing interior neighbors) use edge replication,
gdaldem's boundary convention.

Plan shape: one narrow Arrow hop (strip extraction, zero shuffle),
one shuffle whose bytes ≈ raster bytes + (4t+4)/tile (the self
contribution plus strips — NOT the 9× full-tile fan-out of the
generic ``with_halo``), one grouped Arrow hop, then pure relational
rollups. Exchange size is asserted in tests (test_dem halo-traffic
test).

Determinism note: the integer Horn gradients (8·∂z/∂x, 8·∂z/∂y) are
EXACT int64 — they power the contract oracle. The trig chain
(slope/aspect/hillshade) uses vectorized numpy, which is within 1 ulp
of scalar libm but not bit-identical — so hillshade parity is pinned
by pytest (float allclose + u8-output tolerance 1), not by the SQL
hash gate.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.operators.halo import run_halo


def _assemble_padded(contrib: dict, t: int) -> np.ndarray | None:
    """(t+2)² padded elevation window for one target cell from its
    parsed STRIP halo (``halo.parse_halo`` at width 1): center tile
    edge-replicated first (covers domain edges / absent neighbors),
    then actual neighbor strips / corner bytes overwrite. None when
    the center tile itself is corrupt (poison)."""
    center = contrib.get((0, 0))
    if center is None:
        return None
    C = np.frombuffer(center, np.uint8).reshape(t, t)
    P = np.pad(C.astype(np.int64), 1, mode="edge")

    def A(off):
        return np.frombuffer(contrib[off], np.uint8).astype(np.int64)

    # side strips (payload index = the coordinate varying along the edge)
    if (-1, 0) in contrib:
        P[1 : t + 1, 0] = A((-1, 0))
    if (1, 0) in contrib:
        P[1 : t + 1, t + 1] = A((1, 0))
    if (0, -1) in contrib:
        P[0, 1 : t + 1] = A((0, -1))
    if (0, 1) in contrib:
        P[t + 1, 1 : t + 1] = A((0, 1))

    # corners replicate the stitched raster's CLAMPED indexing: the
    # diagonal neighbor's byte if present, else the clamp lands inside
    # a side neighbor's strip (a domain-edge tile that still has a
    # west/north neighbor), else the center's own corner (true domain
    # corner — already set by np.pad)
    def corner(py, px, diag, first, first_i, second, second_i):
        if diag in contrib:
            P[py, px] = A(diag)[0]
        elif first in contrib:
            P[py, px] = A(first)[first_i]
        elif second in contrib:
            P[py, px] = A(second)[second_i]

    corner(0, 0, (-1, -1), (0, -1), 0, (-1, 0), 0)
    corner(0, t + 1, (1, -1), (0, -1), t - 1, (1, 0), 0)
    corner(t + 1, 0, (-1, 1), (0, 1), 0, (-1, 0), t - 1)
    corner(t + 1, t + 1, (1, 1), (0, 1), t - 1, (1, 0), t - 1)
    return P


def _run_padded(tiles: DataFrame, t: int, cell: str, schema: str, kernel) -> DataFrame:
    """The DEM plan: one strip-halo exchange, then ``kernel(kc, P,
    n_bad)`` once per tile with its padded window (``P`` None for a
    poison center — callers emit a flagged row, never kill the stage)."""
    return run_halo(
        tiles, t, 1, schema,
        lambda kc, contrib, n_bad: kernel(kc, _assemble_padded(contrib, t), n_bad),
        cell=cell,
    )


def _horn_pq8(P: np.ndarray, t: int) -> tuple[np.ndarray, np.ndarray]:
    """Exact integer Horn gradients ×8 for every interior pixel:
    p8 = (c+2f+i) − (a+2d+g)   [east − west]
    q8 = (g+2h+i) − (a+2b+c)   [south − north]"""
    a = P[0:t, 0:t]
    b = P[0:t, 1:t + 1]
    c = P[0:t, 2:t + 2]
    d = P[1:t + 1, 0:t]
    f = P[1:t + 1, 2:t + 2]
    g = P[2:t + 2, 0:t]
    h = P[2:t + 2, 1:t + 1]
    i = P[2:t + 2, 2:t + 2]
    return (c + 2 * f + i) - (a + 2 * d + g), (g + 2 * h + i) - (a + 2 * b + c)


def horn_gradients(tiles: DataFrame, tile_px: int, cell: str = "cell") -> DataFrame:
    """Per-tile EXACT integer Horn gradient summary:
    (cell, n_px, p8_sum, q8_sum, p8_abs_sum, q8_abs_sum). The seam- and
    clamp-sensitive part of the DEM pipeline, fully oracle-checkable.
    Input rows: (cell, tile: raw u8 elevations, t×t)."""
    t = tile_px

    def _grad(kc, P, n_bad):
        if P is None:  # poison center: flagged row, zero stats
            return [(kc, 0, 0, 0, 0, 0, n_bad)]
        p8, q8 = _horn_pq8(P, t)
        return [(kc, t * t, int(p8.sum()), int(q8.sum()),
                 int(np.abs(p8).sum()), int(np.abs(q8).sum()), n_bad)]

    return _run_padded(
        tiles, t, cell,
        "cell long, n_px long, p8_sum long, q8_sum long, "
        "p8_abs_sum long, q8_abs_sum long, n_bad long",
        _grad,
    )


def _shade(p8: np.ndarray, q8: np.ndarray, azimuth_deg: float,
           altitude_deg: float, z_factor: float) -> np.ndarray:
    """u8 hillshade from integer Horn gradients — ONE definition
    shared by the tiled operator and the whole-raster reference (so a
    convention fix can never diverge between them).

    Esri/gdaldem convention: the compass azimuth (degrees clockwise
    from north, 315 = sun in the NORTHWEST) converts to math angle
    ``(360 − az + 90) mod 360`` before entering
    ``cos(az_math − aspect)`` with ``aspect = atan2(q, −p)``
    (y grows south / row-downward). Without that conversion the sun
    is mirrored — the default 315 would light the southeast."""
    zen = np.deg2rad(90.0 - altitude_deg)
    az = np.deg2rad((360.0 - azimuth_deg + 90.0) % 360.0)
    p = z_factor * p8 / 8.0
    q = z_factor * q8 / 8.0
    slope = np.arctan(np.sqrt(p * p + q * q))
    aspect = np.arctan2(q, -p)
    hs = 255.0 * (
        np.cos(zen) * np.cos(slope)
        + np.sin(zen) * np.sin(slope) * np.cos(az - aspect)
    )
    return np.rint(np.clip(hs, 0.0, 255.0)).astype(np.uint8)


_MULTI_AZ = (225.0, 270.0, 315.0, 360.0)


def _shade_multi(p8: np.ndarray, q8: np.ndarray, altitude_deg: float,
                 z_factor: float) -> np.ndarray:
    """gdaldem hillshade -multidirectional (USGS Mark 1992): the four
    hillshades from azimuths 225/270/315/360 combine with weights
    w_k = sin²(aspect_math − az_math_k). For the 45°-spaced quartet
    the weights sum IDENTICALLY to 2 (sin² telescopes), so the
    combination is Σ w_k·hs_k / 2 with no flat-pixel special case —
    a flat pixel's four shades are equal and any weights average to
    the same value. Float shades are combined BEFORE the single u8
    rounding (rounding four times then averaging would lose a bit)."""
    zen = np.deg2rad(90.0 - altitude_deg)
    p = z_factor * p8 / 8.0
    q = z_factor * q8 / 8.0
    slope = np.arctan(np.sqrt(p * p + q * q))
    aspect = np.arctan2(q, -p)
    acc = np.zeros_like(slope)
    for az_deg in _MULTI_AZ:
        az = np.deg2rad((360.0 - az_deg + 90.0) % 360.0)
        w = np.sin(aspect - az) ** 2
        acc += w * 255.0 * (
            np.cos(zen) * np.cos(slope)
            + np.sin(zen) * np.sin(slope) * np.cos(az - aspect)
        )
    return np.rint(np.clip(acc / 2.0, 0.0, 255.0)).astype(np.uint8)


def hillshade(
    tiles: DataFrame,
    tile_px: int,
    cell: str = "cell",
    azimuth_deg: float = 315.0,
    altitude_deg: float = 45.0,
    z_factor: float = 1.0,
    multidirectional: bool = False,
) -> DataFrame:
    """gdaldem-style hillshade over tiles (``_shade`` for the exact
    formula and azimuth convention). Output rows: (cell, tile,
    hs_sum, n_bad) — hs_sum is the tile's integer pixel sum for cheap
    downstream auditing; a poison CENTER yields an empty tile with
    hs_sum = −1 and its bad-contribution count (house poison policy:
    flag, never kill)."""
    t = tile_px

    def _hs(kc, P, n_bad):
        if P is None:
            return [(kc, b"", -1, n_bad)]
        p8, q8 = _horn_pq8(P, t)
        out = (_shade_multi(p8, q8, altitude_deg, z_factor)
               if multidirectional
               else _shade(p8, q8, azimuth_deg, altitude_deg, z_factor))
        return [(kc, out.tobytes(), int(out.sum(dtype=np.int64)), n_bad)]

    return _run_padded(
        tiles, t, cell, "cell long, tile binary, hs_sum long, n_bad long", _hs)


def hillshade_np(elev: np.ndarray, azimuth_deg=315.0, altitude_deg=45.0,
                 z_factor=1.0, multidirectional=False) -> np.ndarray:
    """Single-array reference: hillshade of a full (edge-replicated)
    raster — what the tiled operator must reproduce seam-exactly."""
    if elev.shape[0] != elev.shape[1]:
        raise ValueError("reference path expects a square raster")
    t = elev.shape[0]
    P = np.pad(elev.astype(np.int64), 1, mode="edge")
    p8, q8 = _horn_pq8(P, t)
    if multidirectional:
        return _shade_multi(p8, q8, altitude_deg, z_factor)
    return _shade(p8, q8, azimuth_deg, altitude_deg, z_factor)


def slope_aspect_np(elev: np.ndarray, z_factor: float = 1.0) -> tuple[np.ndarray, np.ndarray]:
    """Whole-raster reference for slope/aspect (gdaldem conventions):
    slope in degrees from the Horn gradients; aspect as COMPASS azimuth
    degrees clockwise from north of the downhill direction
    ((450 − math-angle) mod 360, same convention bridge as hillshade's
    sun azimuth), −9999 for flat cells exactly like ``gdaldem aspect``."""
    t = elev.shape[0]
    P = np.pad(elev.astype(np.int64), 1, mode="edge")
    p8, q8 = _horn_pq8(P, t)
    return _slope_aspect(p8, q8, z_factor)


def _slope_aspect(p8: np.ndarray, q8: np.ndarray, z_factor: float) -> tuple[np.ndarray, np.ndarray]:
    p = z_factor * p8 / 8.0
    q = z_factor * q8 / 8.0
    slope = np.degrees(np.arctan(np.sqrt(p * p + q * q))).astype(np.float32)
    flat = (p8 == 0) & (q8 == 0)
    math_deg = np.degrees(np.arctan2(q, -p))
    aspect = ((450.0 - math_deg) % 360.0).astype(np.float32)
    aspect[flat] = np.float32(-9999.0)
    return slope, aspect


def slope_aspect(
    tiles: DataFrame, tile_px: int, cell: str = "cell", z_factor: float = 1.0
) -> DataFrame:
    """gdaldem slope + aspect over tiles (same strip-projected halo and
    poison policy as hillshade; seam-exact vs the whole-raster
    reference). Output rows: (cell, slope_tile, aspect_tile, n_bad) —
    float32 payloads; a poison CENTER yields empty tiles with
    n_bad set (flag, never kill)."""
    t = tile_px

    def _sa(kc, P, n_bad):
        if P is None:
            return [(kc, b"", b"", n_bad)]
        slope, aspect = _slope_aspect(*_horn_pq8(P, t), z_factor)
        return [(kc, slope.tobytes(), aspect.tobytes(), n_bad)]

    return _run_padded(
        tiles, t, cell,
        "cell long, slope_tile binary, aspect_tile binary, n_bad long", _sa)


def _terrain_px(P: np.ndarray, t: int):
    """Exact-integer terrain indices for every interior pixel of a
    (t+2)² padded window (gdaldem TRI/TPI/roughness definitions —
    public docs; all three are pure integer arithmetic on u8 DEMs):
      tri_w8  = Σ_n |c − n|            (Wilson TRI × 8)
      tri_r2  = Σ_n (c − n)²           (Riley TRI², pre-sqrt — exact)
      tpi8    = 8c − Σ_n n             (TPI × 8)
      rough   = max(3×3) − min(3×3)
    """
    c0 = P[1 : t + 1, 1 : t + 1]
    neigh = [
        P[dy : dy + t, dx : dx + t]
        for dy in (0, 1, 2)
        for dx in (0, 1, 2)
        if not (dx == 1 and dy == 1)
    ]
    diffs = [c0 - n for n in neigh]
    tri_w8 = np.sum([np.abs(d) for d in diffs], axis=0)
    tri_r2 = np.sum([d * d for d in diffs], axis=0)
    tpi8 = 8 * c0 - np.sum(neigh, axis=0)
    allv = neigh + [c0]
    rough = np.maximum.reduce(allv) - np.minimum.reduce(allv)
    return tri_w8, tri_r2, tpi8, rough


def terrain_indices(tiles: DataFrame, tile_px: int, cell: str = "cell") -> DataFrame:
    """Per-tile EXACT integer summaries of the gdaldem terrain trio
    (TRI / TPI / roughness) — completes the gdaldem family next to
    slope/aspect/hillshade. Same plan as horn_gradients: one
    strip-projected halo exchange (bytes ≈ raster), one grouped Arrow
    hop, integer sums before any further shuffle. Riley TRI is
    reported pre-sqrt (Σ of squared diffs is exact; the sqrt is a
    display transform callers apply after aggregation)."""
    t = tile_px

    def _ti(kc, P, n_bad):
        if P is None:
            return [(kc, 0, 0, 0, 0, 0, 0, 0, n_bad)]
        tri_w8, tri_r2, tpi8, rough = _terrain_px(P, t)
        return [(kc, t * t, int(tri_w8.sum()), int(tri_r2.sum()),
                 int(tpi8.sum()), int(np.abs(tpi8).sum()),
                 int(rough.sum()), int(rough.max()), n_bad)]

    return _run_padded(
        tiles, t, cell,
        "cell long, n_px long, tri_w8_sum long, tri_r2_sum long, "
        "tpi8_sum long, tpi8_abs_sum long, rough_sum long, rough_max long, "
        "n_bad long",
        _ti,
    )


def roughness_tiles(tiles: DataFrame, tile_px: int, cell: str = "cell") -> DataFrame:
    """Per-pixel roughness RASTER (max−min of each 3×3 window) — the
    one gdaldem terrain index whose exact value fits the u8 payload
    (≤255 for u8 DEMs), so it ships as tiles like hillshade. Seam-
    exact through the strip halo; poison center → empty tile + n_bad."""
    t = tile_px

    def _r(kc, P, n_bad):
        if P is None:
            return [(kc, b"", n_bad)]
        rough = _terrain_px(P, t)[3]
        return [(kc, rough.astype(np.uint8).tobytes(), n_bad)]

    return _run_padded(tiles, t, cell, "cell long, tile binary, n_bad long", _r)


def color_relief(
    tiles: DataFrame,
    ramp: list,
    cell: str = "cell",
    tile_col: str = "tile",
) -> DataFrame:
    """gdaldem color-relief: map every elevation through a piecewise-linear
    RGB ramp (``ramp`` = sorted [(elev, (r, g, b)), …] — the parsed
    form of gdaldem's color text file). Purely per-pixel, so no halo:
    one narrow Arrow hop decodes the tile, interpolates each channel
    and re-encodes three u8 planes. Elevations below the first /
    above the last entry clamp to the end colors (gdaldem's default);
    an exact-entry elevation returns its color exactly (frac = 0).
    Rounding is banker's (np.rint), matching the SQL oracle's
    round_even on dyadically-spaced ramps.

    Poison policy: undecodable payload → ok=false, empty planes."""
    xs = np.array([float(e) for e, _ in ramp], np.float64)
    cs = np.array([c for _, c in ramp], np.float64)  # (n, 3)
    if len(xs) < 2:
        # one stop would make every segment degenerate (e0 == e1 →
        # frac = 0/0 → NaN planes silently flagged ok)
        raise ValueError("ramp needs >= 2 stops")
    if not (np.diff(xs) > 0).all():
        raise ValueError("ramp elevations must be strictly increasing")
    xs_l, cs_l = xs.tolist(), cs.tolist()  # plan-time capture (no numpy pickle)

    @F.pandas_udf("struct<r binary, g binary, b binary, ok boolean>")
    def _relief(col: pd.Series) -> pd.DataFrame:
        import numpy as np

        from gdal_drivers_spark.core import codecs

        X = np.array(xs_l, np.float64)
        C = np.array(cs_l, np.float64)
        out = []
        for b in col:
            try:
                v = codecs.decode(bytes(b)).ravel().astype(np.float64)
            except Exception:
                out.append((b"", b"", b"", False))
                continue
            v = np.clip(v, X[0], X[-1])
            idx = np.clip(np.searchsorted(X, v, side="right") - 1, 0, len(X) - 2)
            e0, e1 = X[idx], X[idx + 1]
            frac = (v - e0) / (e1 - e0)
            planes = []
            for ch in range(3):
                c0, c1 = C[idx, ch], C[idx + 1, ch]
                planes.append(
                    np.rint(c0 + frac * (c1 - c0)).clip(0, 255).astype(np.uint8).tobytes()
                )
            out.append((planes[0], planes[1], planes[2], True))
        return pd.DataFrame(out, columns=["r", "g", "b", "ok"])

    other = [c for c in tiles.columns if c != tile_col]
    return tiles.withColumn("_c", _relief(F.col(tile_col))).select(
        *other, "_c.r", "_c.g", "_c.b", F.col("_c.ok").alias("ok")
    )


def contour_case_census(
    tiles: DataFrame,
    tile_px: int,
    levels: list,
    grid_wh: tuple,
    cell: str = "cell",
) -> DataFrame:
    """gdal_contour's topology, distributed and exactly checkable:
    marching-squares case census per tile per contour level.

    Each 2×2 pixel square gets the standard 4-bit case index
    (inside = value ≥ level; bits TL=1, TR=2, BL=4, BR=8) and emits
    0/1/2 line segments (0 for empty/full, 2 for the saddle cases
    6 and 9, 1 otherwise). Squares are OWNED by the tile holding
    their top-left pixel — a disjoint partition of the global dual
    grid, so per-tile counts sum to the whole-raster answer with no
    seam double-count; the right/bottom pixels of the last owned
    column/row come from the strip halo. ``grid_wh`` (tiles across ×
    down) marks the domain edge, where the trailing square column/row
    doesn't exist (edge-replicated padding would fabricate segments
    there).

    The census (n_segments, case_sum per level) is exact integer —
    the SQL-hashable skeleton of contouring; vertex geometry is the
    same linear interpolation the warp kernels pin in pytest and
    rides on these cases."""
    lv = [float(v) for v in levels]
    gw, gh = int(grid_wh[0]), int(grid_wh[1])
    t = tile_px
    seg_of = np.array([0, 1, 1, 1, 1, 1, 2, 1, 1, 2, 1, 1, 1, 1, 1, 0])

    def _census(kc, P, n_bad):
        if P is None:
            return [(kc, L, 0, 0, 0, n_bad) for L in lv]
        tx = (kc >> 26) & ((1 << 26) - 1)
        ty = kc & ((1 << 26) - 1)
        # square corners: TL = tile pixel (r, c), BR = (r+1, c+1) — the
        # +1 row/col reads the halo strip for the tile's last column/row
        tl = P[1 : t + 1, 1 : t + 1]
        tr = P[1 : t + 1, 2 : t + 2]
        bl = P[2 : t + 2, 1 : t + 1]
        br = P[2 : t + 2, 2 : t + 2]
        ncol = t - 1 if tx == gw - 1 else t
        nrow = t - 1 if ty == gh - 1 else t
        rows = []
        for L in lv:
            case = (
                (tl >= L).astype(np.int64)
                + 2 * (tr >= L)
                + 4 * (bl >= L)
                + 8 * (br >= L)
            )[:nrow, :ncol]
            rows.append(
                (kc, L, int(case.size), int(seg_of[case].sum()), int(case.sum()), n_bad)
            )
        return rows

    return _run_padded(
        tiles, t, cell,
        "cell long, level double, n_squares long, n_segments long, "
        "case_sum long, n_bad long",
        _census,
    )
