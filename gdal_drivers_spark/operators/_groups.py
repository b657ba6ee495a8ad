"""The runners for the engine's Python kernels.

Every Python kernel crosses the JVM boundary as Arrow, per row or per
group, under one contract:

- per row, :func:`run_batches`: ``mapInArrow`` over the input's own
  partitions (narrow, no exchange). The kernel sees one Arrow batch and
  may emit any number of rows per input row (fan-out, filtering,
  poison rows). Its Column form, :func:`row_udf`, is a scalar
  ``arrow_udf`` that maps each input row to exactly one value, usable
  inside ``select`` and ``filter``;
- per group, :func:`run_grouped`: one Python call per output tile
  (blend, pyramid rollup, the DEM/halo family, warp, gridding,
  rasterize, MVT encode, …). It keeps ``groupBy(keys)`` — so a table
  bucketed on the keys is consumed with no exchange — and drives
  Spark's Arrow group interface. Per-task memory is one group.

The contract hides the format on both sides:

- in: the kernel sees only the columns it reads, each as a Python
  list (NULL → ``None``) in arrival order, and a group's key as Python
  scalars; never a pandas frame, so no int64 → float64 NaN hop;
- out: the kernel returns rows (tuples; for ``row_udf``, one value
  per row, a tuple for a struct); the runner builds the Arrow data
  from the declared Spark type (converted once, on the driver), so a
  ``None`` in a ``long`` column stays a NULL long.

Vector kernels that want numpy buffers rather than lists call
``F.arrow_udf`` directly (``similarity``).
"""

from __future__ import annotations

from itertools import islice

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema, to_arrow_type
from pyspark.sql.types import DataType, StructType

# Rows per output Arrow batch of ``run_batches``: a fan-out kernel never
# holds more than this many output rows in Arrow form at once.
_OUT_ROWS = 10_000


def _table(rows: list, arrow_schema):
    """Row tuples → an Arrow table typed by ``arrow_schema``."""
    import pyarrow as pa

    if not rows:
        return arrow_schema.empty_table()
    return pa.Table.from_arrays(
        [pa.array(v, f.type) for v, f in zip(zip(*rows, strict=True), arrow_schema, strict=True)],
        schema=arrow_schema,
    )


def run_batches(df: DataFrame, cols: list, kernel, schema: str) -> DataFrame:
    """``kernel(g)`` once per Arrow batch of ``df.select(*cols)``, where
    ``g`` maps each name in ``cols`` to its list of values. The kernel
    returns an iterable of rows shaped like ``schema`` (a Spark DDL
    string), any number per input row."""
    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)

    def _run(batches):
        for b in batches:
            rows = iter(kernel({c: b.column(c).to_pylist() for c in cols}))
            while chunk := list(islice(rows, _OUT_ROWS)):
                yield from _table(chunk, arrow_schema).to_batches()

    return df.select(*cols).mapInArrow(_run, struct)


def row_udf(fn, ddl: str):
    """A Column function over a scalar Arrow UDF: ``fn(*values)`` gets
    one row's argument values as Python objects and returns its value
    (a tuple for a struct) of the Spark DDL type ``ddl``."""
    arrow_type = to_arrow_type(DataType.fromDDL(ddl))

    def _run(*arrays):
        import pyarrow as pa

        return pa.array([fn(*v) for v in zip(*(a.to_pylist() for a in arrays))], arrow_type)

    return F.arrow_udf(_run, ddl)


def run_grouped(df: DataFrame, keys: list, cols: list, kernel, schema: str) -> DataFrame:
    """``kernel(key, g)`` once per ``df.groupBy(*keys)`` group, where
    ``key`` is the tuple of key values and ``g`` maps each name in
    ``cols`` to its list of values. The kernel returns an iterable of
    rows shaped like ``schema`` (a Spark DDL string)."""
    struct = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(struct)

    def _run(key, tbl):
        g = {c: tbl.column(c).to_pylist() for c in cols}
        return _table(list(kernel(tuple(k.as_py() for k in key), g)), arrow_schema)

    return df.select(*keys, *cols).groupBy(*keys).applyInArrow(_run, struct)
