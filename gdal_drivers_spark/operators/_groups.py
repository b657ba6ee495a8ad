"""The one runner for grouped per-tile Python kernels.

Every operator that needs one Python call per output tile (blend,
pyramid rollup, the DEM/halo family, warp, gridding, rasterize, MVT
encode, …) goes through :func:`run_grouped`. It keeps
``groupBy(keys)`` — so a table bucketed on the keys is consumed with
no exchange — and drives Spark's Arrow group interface, hiding the
format on both sides:

- in: the kernel sees the group key as Python scalars and only the
  columns it reads, each as a Python list (NULL → ``None``) in arrival
  order; never a pandas frame, so no int64 → float64 NaN hop;
- out: the kernel returns row tuples; the runner builds the Arrow
  table from the declared Spark schema (converted once, on the
  driver), so a ``None`` in a ``long`` column stays a NULL long.

Per-task memory is one group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def run_grouped(df: DataFrame, keys: list, cols: list, kernel, schema: str) -> DataFrame:
    """``kernel(key, g)`` once per ``df.groupBy(*keys)`` group, where
    ``key`` is the tuple of key values and ``g`` maps each name in
    ``cols`` to its list of values. The kernel returns an iterable of
    rows shaped like ``schema`` (a Spark DDL string)."""
    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)

    def _run(key, tbl):
        import pyarrow as pa

        g = {c: tbl.column(c).to_pylist() for c in cols}
        rows = list(kernel(tuple(k.as_py() for k in key), g))
        if not rows:
            return arrow_schema.empty_table()
        return pa.Table.from_arrays(
            [pa.array(v, f.type) for v, f in zip(zip(*rows, strict=True), arrow_schema, strict=True)],
            schema=arrow_schema,
        )

    return df.select(*keys, *cols).groupBy(*keys).applyInArrow(_run, struct)
