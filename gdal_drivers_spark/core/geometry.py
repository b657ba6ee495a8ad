"""Vectorized planar geometry — numpy only.

Reimplements (from published semantics, not code) the geometric kernels
of the reference:

- pixel-center point-in-rect containment with the +0.5 center
  convention (``/root/reference/gdal-drivers/blender.cpp:590-600``),
- the overlap-area box-kernel feather weight
  (``blender.cpp:601-624``: weight = clamped 1-D ramp product),
- extents snap-to-grid (``blender.cpp:416-429``),
- shoelace winding orientation (``mvt.cpp:388`` isClockwise) and
  ring closing (``mvt.cpp:341-348``),
- general ray-cast point-in-polygon (the generalization of the
  reference's rect containment to arbitrary rings),
- 6-term affine geotransform algebra
  (``detail/geotransform.hpp:36-57``; orthogonality check
  ``blender.cpp:133-139``; resolution ``blender.cpp:141-151``).
"""

from __future__ import annotations

import numpy as np

EPS = 1e-4  # the reference's ~equality epsilon (blender.cpp:120-131)


# ------------------------------------------------------------ rects

def points_in_rect(px, py, x0, y0, x1, y1):
    """Half-open containment of points (pixel centers already offset by
    +0.5 by the caller — blender.cpp:593 convention)."""
    return (px >= x0) & (px < x1) & (py >= y0) & (py < y1)


def snap_extents(x0, y0, x1, y1, ox, oy, rx, ry):
    """Snap extents outward to the pixel grid anchored at (ox,oy) with
    resolution (rx,ry): ll floors, ur ceils (blender.cpp:416-429)."""
    sx0 = np.floor((np.asarray(x0) - ox) / rx) * rx + ox
    sy0 = np.floor((np.asarray(y0) - oy) / ry) * ry + oy
    sx1 = np.ceil((np.asarray(x1) - ox) / rx) * rx + ox
    sy1 = np.ceil((np.asarray(y1) - oy) / ry) * ry + oy
    return sx0, sy0, sx1, sy1


def feather_weight(px, py, vx0, vy0, vx1, vy1, ow, oh):
    """Feather weight per point: area(valid ∩ kernel) / kernel area for a
    2ow×2oh box kernel centered at the point (blender.cpp:601-624).
    Closed form: product of two clamped 1-D ramps. ow/oh == 0 degrades
    to the hard inside-indicator (blender.cpp:590-600)."""
    px, py = np.asarray(px, np.float64), np.asarray(py, np.float64)
    if ow <= 0 or oh <= 0:
        return points_in_rect(px, py, vx0, vy0, vx1, vy1).astype(np.float64)
    wx = (np.minimum(px + ow, vx1) - np.maximum(px - ow, vx0)) / (2.0 * ow)
    wy = (np.minimum(py + oh, vy1) - np.maximum(py - oh, vy0)) / (2.0 * oh)
    return np.clip(wx, 0.0, 1.0) * np.clip(wy, 0.0, 1.0)


# ------------------------------------------------------------ rings

def close_ring(ring: np.ndarray) -> np.ndarray:
    """Append the first vertex if not already closed (mvt.cpp:341-348)."""
    if len(ring) == 0 or np.array_equal(ring[0], ring[-1]):
        return ring
    return np.vstack([ring, ring[:1]])


def shoelace_area2(ring: np.ndarray) -> float:
    """Twice the signed area, Σ(x_i·y_{i+1} − x_{i+1}·y_i); sign gives
    winding. Works on open or closed rings."""
    r = np.asarray(ring, np.float64)
    if len(r) < 3:
        return 0.0
    x, y = r[:, 0], r[:, 1]
    return float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))


def is_clockwise(ring: np.ndarray) -> bool:
    """Clockwise in a y-up frame ⇔ negative signed area (mvt.cpp:388
    exterior-ring rule for MultiPolygon assembly)."""
    return shoelace_area2(ring) < 0


def points_in_polygon(px, py, ring: np.ndarray):
    """Vectorized even-odd ray cast of N points against one ring.
    Points exactly on an edge follow the half-open crossing rule
    (consistent, not specified — callers keep test points off edges)."""
    px = np.asarray(px, np.float64)
    py = np.asarray(py, np.float64)
    r = np.asarray(ring, np.float64)
    if len(r) and np.array_equal(r[0], r[-1]):
        r = r[:-1]
    x0, y0 = r[:, 0], r[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    # edges straddling the horizontal ray from each point
    cond = (y0[None, :] > py[:, None]) != (y1[None, :] > py[:, None])
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0[None, :] + (py[:, None] - y0[None, :]) / (y1 - y0)[None, :] * (x1 - x0)[None, :]
    crossings = cond & (px[:, None] < xint)
    return crossings.sum(axis=1) % 2 == 1


def points_in_rings(px, py, rings: list[np.ndarray]):
    """Polygon-with-holes membership: even-odd over all rings."""
    inside = np.zeros(len(np.asarray(px)), dtype=np.int64)
    for ring in rings:
        inside += points_in_polygon(px, py, ring)
    return inside % 2 == 1


# --------------------------------------------------------- geotransform

def gt_from_extents(x0, y0, x1, y1, w, h):
    """North-up 6-term geotransform from extents (dy negative —
    mask.cpp:177-190 / solid.cpp:334-347): [x0, dx, 0, y1, 0, -dy]."""
    return np.array([x0, (x1 - x0) / w, 0.0, y1, 0.0, -(y1 - y0) / h])


def gt_apply(gt, col, row):
    """Pixel (col,row) → world (x,y)."""
    col = np.asarray(col, np.float64)
    row = np.asarray(row, np.float64)
    return gt[0] + col * gt[1] + row * gt[2], gt[3] + col * gt[4] + row * gt[5]


def gt_invert(gt):
    """Inverse affine (world → pixel), same 6-term layout."""
    det = gt[1] * gt[5] - gt[2] * gt[4]
    return np.array(
        [
            (gt[2] * gt[3] - gt[5] * gt[0]) / det,
            gt[5] / det,
            -gt[2] / det,
            (gt[4] * gt[0] - gt[1] * gt[3]) / det,
            -gt[4] / det,
            gt[1] / det,
        ]
    )


def gt_orthogonal(gt) -> bool:
    """No-rotation check (blender.cpp:133-139 rejects gt[2]/gt[4] ≠ 0)."""
    return abs(gt[2]) < EPS and abs(gt[4]) < EPS


def gt_resolution(gt):
    """(hypot(gt1,gt4), hypot(gt2,gt5)) — blender.cpp:141-151."""
    return float(np.hypot(gt[1], gt[4])), float(np.hypot(gt[2], gt[5]))
