"""Band algebra — gdal_calc.py semantics, distributed.

gdal_calc.py evaluates a numpy expression over one or more aligned
input rasters ("A", "B", ...) and writes the result. The engine's
form: the input frames equi-join on the image key (JVM join — AQE
broadcasts a small side), then ONE Arrow kernel per row batch decodes
each operand, evaluates the compiled expression vectorized in int64,
and writes the saturating-u8 result (the engine's F12 cast rule;
gdal_calc's silent wraparound on Byte output is a known footgun, so
saturation is pinned and documented instead).

The expression is compiled from a whitelisted Python AST — never
``eval``. Supported: int literals, operand names, ``+ - * // %``,
unary ``-``, one comparison (``< <= > >= == !=`` → 0/1), and the
calls ``where(cond, a, b)``, ``minimum(a, b)``, ``maximum(a, b)``,
``abs(a)``. Everything is exact int64 arithmetic with NUMPY semantics:
``//`` floors and ``%`` is floored mod (result takes the DIVISOR's
sign — np.mod(-5, 3) == 1). DuckDB/Spark SQL differ on negatives
(``//`` truncates toward zero, ``%`` takes the dividend's sign:
-5 // 3 = -1, -5 % 3 = -2 in DuckDB), so oracle SQL for an expression
whose ``//``/``%`` operands can go negative must mirror explicitly
(floored mod = ``((a % b) + b) % b``) or keep operands non-negative,
as the contract fixture does. Float math is out of scope here (use
the warp/blend kernels).

Reference surface: the per-block compute hook family
(python/gdaldriversmodule.cpp:205-225) — gdal_calc is the canonical
consumer of driver read paths."""

from __future__ import annotations

import ast

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gdal_drivers_spark.core import codecs
from gdal_drivers_spark.operators._groups import run_batches

_BINOPS = {
    ast.Add: np.add,
    ast.Sub: np.subtract,
    ast.Mult: np.multiply,
    ast.FloorDiv: np.floor_divide,
    ast.Mod: np.mod,
}
_CMPOPS = {
    ast.Lt: np.less, ast.LtE: np.less_equal,
    ast.Gt: np.greater, ast.GtE: np.greater_equal,
    ast.Eq: np.equal, ast.NotEq: np.not_equal,
}
_CALLS = {"where", "minimum", "maximum", "abs"}


def compile_calc(expr: str, names: set[str]):
    """Compile a gdal_calc expression to a function env→int64 ndarray.
    Raises ValueError on anything outside the whitelist — the
    expression is user input and must never reach ``eval``."""
    try:
        tree = ast.parse(expr, mode="eval")
    except SyntaxError as e:
        raise ValueError(f"bad calc expression: {e}") from e

    def build(node):
        if isinstance(node, ast.Expression):
            return build(node.body)
        if isinstance(node, ast.Constant):
            if not isinstance(node.value, int) or isinstance(node.value, bool):
                raise ValueError(f"only int literals allowed, got {node.value!r}")
            v = int(node.value)
            return lambda env: np.int64(v)
        if isinstance(node, ast.Name):
            if node.id not in names:
                raise ValueError(f"unknown operand {node.id!r} (have {sorted(names)})")
            k = node.id
            return lambda env: env[k]
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            f = build(node.operand)
            return lambda env: -f(env)
        if isinstance(node, ast.BinOp) and type(node.op) in _BINOPS:
            op, lf, rf = _BINOPS[type(node.op)], build(node.left), build(node.right)
            return lambda env: op(lf(env), rf(env))
        if isinstance(node, ast.Compare):
            if len(node.ops) != 1:
                raise ValueError("chained comparisons are not supported")
            if type(node.ops[0]) not in _CMPOPS:
                raise ValueError(f"comparison {node.ops[0]!r} not supported")
            op = _CMPOPS[type(node.ops[0])]
            lf, rf = build(node.left), build(node.comparators[0])
            return lambda env: op(lf(env), rf(env)).astype(np.int64)
        if isinstance(node, ast.Call):
            if not isinstance(node.func, ast.Name) or node.func.id not in _CALLS:
                raise ValueError("only where/minimum/maximum/abs calls allowed")
            if node.keywords:
                raise ValueError("keyword arguments are not supported")
            args = [build(a) for a in node.args]
            fn = node.func.id
            if fn == "where" and len(args) == 3:
                c, a, b = args
                return lambda env: np.where(c(env) != 0, a(env), b(env))
            if fn in ("minimum", "maximum") and len(args) == 2:
                op = np.minimum if fn == "minimum" else np.maximum
                a, b = args
                return lambda env: op(a(env), b(env))
            if fn == "abs" and len(args) == 1:
                a = args[0]
                return lambda env: np.abs(a(env))
            raise ValueError(f"{fn} takes a different number of arguments")
        raise ValueError(f"unsupported syntax node {type(node).__name__}")

    return build(tree)


CALC_SCHEMA = "image_id string, bytes binary, w int, h int, fmt string, ok boolean"


def band_calc(
    frames: dict[str, DataFrame],
    expr: str,
) -> DataFrame:
    """Evaluate ``expr`` over the aligned rasters of ``frames`` (name →
    DataFrame of (image_id, bytes, fmt), names as used in the
    expression, e.g. {"A": dsm, "B": dtm}). Inner-join on ``image_id``
    (an image absent from any operand frame produces no output row —
    gdal_calc requires all inputs), one Arrow kernel, saturating-u8
    output. Shape/band mismatch between
    operands or an undecodable operand poisons the ROW (bytes NULL,
    ok false), never the stage."""
    if not frames:
        raise ValueError("band_calc needs at least one operand frame")
    for name in frames:
        if not name.isidentifier():
            raise ValueError(f"operand name {name!r} is not an identifier")
    fn = compile_calc(expr, set(frames))  # validate BEFORE any Spark work
    names = sorted(frames)

    joined = None
    for name in names:
        side = frames[name].select(
            F.col("image_id").alias("_id"),
            F.col("bytes").alias(f"_b_{name}"),
            F.col("fmt").alias(f"_f_{name}"),
        )
        joined = side if joined is None else joined.join(side, "_id", "inner")

    cols = ["_id"] + [c for name in names for c in (f"_b_{name}", f"_f_{name}")]

    def _kernel(g):
        for i, rid in enumerate(g["_id"]):
            try:
                env = {}
                shape = None
                for name in names:
                    img = codecs.decode(
                        bytes(g[f"_b_{name}"][i]), g[f"_f_{name}"][i]
                    ).astype(np.int64)
                    if shape is None:
                        shape = img.shape
                    elif img.shape != shape:
                        raise ValueError(f"shape mismatch {img.shape} vs {shape}")
                    env[name] = img
                res = np.broadcast_to(fn(env), shape)
                outb = np.clip(res, 0, 255).astype(np.uint8)
            except Exception:
                yield rid, None, None, None, None, False
                continue
            yield rid, codecs.encode_raw(outb), int(shape[1]), int(shape[0]), "raw", True

    return run_batches(joined, cols, _kernel, CALC_SCHEMA)
