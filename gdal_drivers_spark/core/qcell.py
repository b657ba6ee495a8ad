"""Quadkey / Z-order cell index — the engine's spatial addressing core.

Semantics mirror the reference's two addressing schemes:

- the quadtree over a square ``2^depth`` grid with per-node subdivision
  (``/root/reference/gdal-drivers/mask.cpp:229-256`` constraint-pruned
  traversal, ``mask.cpp:285-297`` squared-up extents), and
- MBTiles ``zoom-column-row`` addressing with bounds ``max = 2^z - 1``
  and the TMS row flip ``row = max - row``
  (``/root/reference/gdal-drivers/detail/mbtiles.cpp:99-155``).

Two cell representations:

``pack(z, x, y)``
    A single int64 join key ``(z << 52) | (x << 26) | y`` with
    ``z ≤ 26``: 26 bits per axis, a per-axis resolution of 2^-26
    (~1.5e-8) of the world, far below any pixel grid we serve. This is
    *pure integer arithmetic*, expressible identically in Spark SQL and
    ANSI SQL (DuckDB oracle), so the distributed join key and the
    correctness oracle can never drift.

``morton(x, y)``
    Bit-interleaved Z-order value used for storage layout (partition
    prefix pruning — sorting by morton clusters spatially-near cells
    into the same parquet row groups, the distributed analogue of the
    reference's quadtree constraint prune).

This is the ONE module that knows the packed layout; every operator
builds and reads cell ids through it. Three forms:

- numpy (vectorized; a scalar in gives a numpy scalar out): ``pack``,
  ``unpack``, ``parent``, ``children``, ``neighbors``, ``tms_flip``,
  ``morton``/``unmorton`` and :class:`Grid`;
- plain Python ints for grouped kernels: ``pack_int`` and
  ``unpack_int``, so no 0-d numpy value reaches a kernel's output row;
- Spark Columns (JVM arithmetic, whole-stage codegen): ``pack_col``,
  ``unpack_col``, ``level_col``, ``ancestor_col``, ``cell_of_col`` and
  ``cover_cols`` (the unit world's ``Grid.cell_of``/``cover_ranges``),
  plus two frame shapes built on them: ``grid_cells`` (the dense cell
  universe of a tile grid) and ``explode_ranges`` (inclusive index
  ranges → one row per packed cell). ``pack_sql`` is the same packing
  as SQL text.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

Z_SHIFT = 52
X_SHIFT = 26
MAX_LEVEL = 26
_MASK26 = (1 << 26) - 1

# ---------------------------------------------------------------- pack

def pack(z, x, y):
    """Join-key encoding: (z << 52) | (x << 26) | y. Vectorized."""
    z = np.asarray(z, np.int64)
    x = np.asarray(x, np.int64)
    y = np.asarray(y, np.int64)
    return (z << Z_SHIFT) | (x << X_SHIFT) | y


def unpack(cell):
    """Inverse of :func:`pack` → (z, x, y)."""
    cell = np.asarray(cell, np.int64)
    return cell >> Z_SHIFT, (cell >> X_SHIFT) & _MASK26, cell & _MASK26


def pack_int(z, x, y) -> int:
    """Scalar :func:`pack` on plain Python ints."""
    return (int(z) << Z_SHIFT) | (int(x) << X_SHIFT) | int(y)


def unpack_int(cell) -> tuple[int, int, int]:
    """Scalar :func:`unpack` → plain Python ints (z, x, y)."""
    cell = int(cell)
    return cell >> Z_SHIFT, (cell >> X_SHIFT) & _MASK26, cell & _MASK26


def pack_sql(z: str, x: str, y: str) -> str:
    """The same packing as ANSI-SQL text (valid in Spark SQL and DuckDB)."""
    return f"((CAST({z} AS BIGINT) * {1 << Z_SHIFT}) + (CAST({x} AS BIGINT) * {1 << X_SHIFT}) + CAST({y} AS BIGINT))"


# ------------------------------------------------------- tree movement

def parent(cell):
    """Parent cell one level up — ``node.shift`` semantics (mask.cpp:246-248)."""
    z, x, y = unpack(cell)
    return pack(z - 1, x >> 1, y >> 1)


def children(cell):
    """4 children, shape (..., 4) — quadtree subdivision (mask.cpp:240-256)."""
    z, x, y = unpack(cell)
    cx = (np.asarray(x)[..., None] << 1) + np.array([0, 1, 0, 1])
    cy = (np.asarray(y)[..., None] << 1) + np.array([0, 0, 1, 1])
    return pack(np.asarray(z)[..., None] + 1, cx, cy)


def neighbors(cell, ring: int = 1):
    """Cells of the square ring at Chebyshev distance ``ring`` (plus the
    center for ring 0). Out-of-domain cells are dropped (bounds per
    mbtiles.cpp:146-152: valid range [0, 2^z - 1]).

    Scalar cell in → 1-D int64 array of cells out.
    """
    z, x, y = (int(v) for v in unpack(cell))
    if ring == 0:
        return pack(np.array([z]), np.array([x]), np.array([y]))
    n = 1 << z
    dd = np.arange(-ring, ring + 1)
    dx, dy = np.meshgrid(dd, dd)
    on_ring = np.maximum(np.abs(dx), np.abs(dy)) == ring
    nx, ny = x + dx[on_ring], y + dy[on_ring]
    keep = (nx >= 0) & (nx < n) & (ny >= 0) & (ny < n)
    nx, ny = nx[keep], ny[keep]
    return pack(np.full(nx.shape, z), nx, ny)


def tms_flip(z, y):
    """TMS row flip ``row = 2^z - 1 - row`` (mbtiles.cpp:154-155). Involution."""
    z = np.asarray(z, np.int64)
    y = np.asarray(y, np.int64)
    return (np.int64(1) << z) - 1 - y


# ------------------------------------------------------------- morton

def morton(x, y):
    """Interleave 26-bit x (even bits) and y (odd bits) → Z-order int64."""
    x = np.asarray(x, np.uint64)
    y = np.asarray(y, np.uint64)

    def _spread(v):
        # standard bit-spread ladder for 26→52 bits
        v = np.asarray(v, np.uint64) & np.uint64(0x3FFFFFF)
        v = (v | (v << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v << np.uint64(2))) & np.uint64(0x3333333333333333)
        v = (v | (v << np.uint64(1))) & np.uint64(0x5555555555555555)
        return v

    x = np.asarray(x, np.uint64) & np.uint64(0x3FFFFFF)
    y = np.asarray(y, np.uint64) & np.uint64(0x3FFFFFF)
    return (_spread(x) | (_spread(y) << np.uint64(1))).astype(np.int64)


def unmorton(m):
    """Inverse of :func:`morton` → (x, y)."""
    m = np.asarray(m, np.uint64)

    def _squash(v):
        v = v & np.uint64(0x5555555555555555)
        v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
        v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
        v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
        v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
        v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
        return v

    return _squash(m).astype(np.int64), _squash(m >> np.uint64(1)).astype(np.int64)


# ----------------------------------------------------- world <-> cells

class Grid:
    """A level-z grid over a world rectangle — the squared-up extents of
    mask.cpp:285-297 generalized to any axis-aligned world box.

    Pixel-center convention: a point exactly on a cell's max edge belongs
    to the next cell, clamped at the world edge (matches the half-open
    pixel windows of blender.cpp:590-600 with the +0.5 center offset
    applied by callers, not here).
    """

    __slots__ = ("x0", "y0", "x1", "y1")

    def __init__(self, x0: float = 0.0, y0: float = 0.0, x1: float = 1.0, y1: float = 1.0):
        self.x0, self.y0, self.x1, self.y1 = float(x0), float(y0), float(x1), float(y1)

    def cell_of(self, z: int, px, py):
        """Cell ids containing points (px, py) at level z. Vectorized."""
        n = 1 << z
        cx = np.clip(np.floor((np.asarray(px) - self.x0) / (self.x1 - self.x0) * n), 0, n - 1).astype(np.int64)
        cy = np.clip(np.floor((np.asarray(py) - self.y0) / (self.y1 - self.y0) * n), 0, n - 1).astype(np.int64)
        return pack(z, cx, cy)

    def cover_ranges(self, z: int, bx0, by0, bx1, by1):
        """Half-open bbox → inclusive cell-index ranges (cx0, cy0, cx1, cy1)
        at level z — the covering-cells prune of the tile↔source range
        join (blender.cpp:226-238 ``Locator`` ROI), vectorized."""
        n = 1 << z
        sx = n / (self.x1 - self.x0)
        sy = n / (self.y1 - self.y0)
        cx0 = np.clip(np.floor((np.asarray(bx0) - self.x0) * sx), 0, n - 1).astype(np.int64)
        cy0 = np.clip(np.floor((np.asarray(by0) - self.y0) * sy), 0, n - 1).astype(np.int64)
        # max edge is exclusive: a bbox ending exactly on a cell boundary
        # does not cover the next cell (nextafter guards fp dust)
        cx1 = np.clip(np.ceil((np.asarray(bx1) - self.x0) * sx) - 1, 0, n - 1).astype(np.int64)
        cy1 = np.clip(np.ceil((np.asarray(by1) - self.y0) * sy) - 1, 0, n - 1).astype(np.int64)
        cx1 = np.maximum(cx1, cx0)
        cy1 = np.maximum(cy1, cy0)
        return cx0, cy0, cx1, cy1

    def cell_extents(self, cell):
        """World-space extents (x0, y0, x1, y1) of cells. Vectorized."""
        z, x, y = unpack(cell)
        n = (np.int64(1) << z).astype(np.float64)
        w = (self.x1 - self.x0) / n
        h = (self.y1 - self.y0) / n
        return (self.x0 + x * w, self.y0 + y * h, self.x0 + (x + 1) * w, self.y0 + (y + 1) * h)


UNIT = Grid()


# ------------------------------------------------- Spark Column forms

def _col(c) -> Column:
    return F.col(c) if isinstance(c, str) else c


def pack_col(z, x: Column, y: Column) -> Column:
    """:func:`pack` as a Column, ``z·2^52 + x·2^26 + y`` (``z`` an int
    or a Column)."""
    zc = z if isinstance(z, Column) else F.lit(int(z))
    return (
        zc.cast("long") * F.lit(1 << Z_SHIFT)
        + x.cast("long") * F.lit(1 << X_SHIFT)
        + y.cast("long")
    )


def level_col(cell) -> Column:
    """The level z of a packed cell (a column name or a Column)."""
    return F.shiftright(_col(cell), Z_SHIFT)


def unpack_col(cell) -> tuple[Column, Column, Column]:
    """:func:`unpack` as Columns (z, x, y)."""
    c = _col(cell)
    return level_col(c), F.shiftright(c, X_SHIFT) % F.lit(1 << X_SHIFT), c % F.lit(1 << X_SHIFT)


def ancestor_col(cell, up: int = 1) -> Column:
    """The ancestor ``up`` levels higher (z−up, x>>up, y>>up) — the
    Column form of ``up`` chained :func:`parent` calls."""
    z, x, y = unpack_col(cell)
    return pack_col(z - up, F.shiftright(x, up), F.shiftright(y, up))


def _floor_index(c: str, n: int) -> Column:
    return F.greatest(F.lit(0), F.least(F.lit(n - 1), F.floor(F.col(c) * n))).cast("long")


def cell_of_col(z: int, px: str, py: str) -> Column:
    """The level-z cell containing unit-world point (px, py), clamped at
    the world edge — the Column form of ``UNIT.cell_of``."""
    n = 1 << z
    return pack_col(z, _floor_index(px, n), _floor_index(py, n))


def cover_cols(z: int) -> dict[str, Column]:
    """Inclusive covering cell-index ranges ``cx0, cy0, cx1, cy1`` of the
    half-open unit-world bbox in columns ``x0, y0, x1, y1`` at level z —
    the Column form of ``UNIT.cover_ranges``."""
    n = 1 << z

    def hi(c, lo_col):
        h = F.greatest(F.lit(0), F.least(F.lit(n - 1), F.ceil(F.col(c) * n) - 1)).cast("long")
        return F.greatest(h, lo_col)

    cx0, cy0 = _floor_index("x0", n), _floor_index("y0", n)
    return {"cx0": cx0, "cy0": cy0, "cx1": hi("x1", cx0), "cy1": hi("y1", cy0)}


def grid_cells(spark: SparkSession, z: int, gw: int, gh: int) -> DataFrame:
    """Every level-z cell of a ``gw``×``gh`` tile grid anchored at the
    origin, one ``cell`` column (row-major: x = id % gw, y = id / gw) —
    the dense universe a sparse tile result is left-joined onto."""
    return spark.range(gw * gh).select(
        pack_col(z, F.col("id") % gw, (F.col("id") / gw).cast("long")).alias("cell")
    )


def explode_ranges(
    df: DataFrame, z: int, xs: tuple, ys: tuple, x: str = "_tx", y: str = "_ty"
) -> DataFrame:
    """One row per cell of the inclusive index ranges ``xs`` × ``ys``
    (``(lo, hi)`` Column pairs) at level z: adds ``x``, ``y`` and the
    packed ``cell``. A narrow JVM ``sequence`` + ``explode``. Spark's
    ``sequence(lo, hi)`` counts DOWN when lo > hi, so callers clamp the
    ranges and drop rows whose envelope misses the grid first."""
    return (
        df.withColumn(x, F.explode(F.sequence(*xs)))
        .withColumn(y, F.explode(F.sequence(*ys)))
        .withColumn("cell", pack_col(z, F.col(x), F.col(y)))
    )
