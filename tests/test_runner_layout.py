"""The kernel runners (operators/_groups: ``run_grouped`` per group,
``run_batches``/``row_udf``/``arrow_udf`` per row) as a tested property:
every Python stage goes through them, and their output does not depend
on how the input is partitioned or how Arrow cuts it into batches.
Also the package's source-shape guards (no Spark): one cell codec, no
join-shape flags, no unreferenced public function, no str/bool/None
setting that no caller sets, and ``COVERAGE.md`` names only code that
runs."""

import ast
import json
import os
import re

import numpy as np
import pandas as pd
import pytest

from gdal_drivers_spark.core import codecs, qcell

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "gdal_drivers_spark")
T = 8


def _package_hits(pattern: str, skip: tuple = ()) -> list:
    """``file:line`` of every line of the package's ``.py`` files (bar
    ``skip``, paths relative to the package) matching ``pattern``."""
    hits = []
    for root, _, files in os.walk(PKG):
        for f in files:
            p = os.path.join(root, f)
            if f.endswith(".py") and os.path.relpath(p, PKG) not in skip:
                for i, line in enumerate(open(p, encoding="utf-8"), 1):
                    if re.search(pattern, line):
                        hits.append(f"{os.path.relpath(p, PKG)}:{i}")
    return hits


def _kernel_hits(pattern: str) -> list:
    """``_package_hits`` plus the same scan of the two scripts that run
    Python kernels outside the package: the contract harness and
    ``bench.py``."""
    hits = _package_hits(pattern)
    for f in ("__spark_entry__.py", "bench.py"):
        for i, line in enumerate(open(os.path.join(REPO, f), encoding="utf-8"), 1):
            if re.search(pattern, line):
                hits.append(f"{f}:{i}")
    return hits


def test_no_pandas_grouped_map_left():
    """Grouped kernels run one way: no ``applyInPandas(`` anywhere in
    the package, the contract harness or ``bench.py``
    (``applyInPandasWithState`` is the streaming state API, a different
    operator)."""
    assert _kernel_hits(r"applyInPandas\(") == []


def test_no_pandas_row_kernels_left():
    """Per-row kernels cross as Arrow: no ``mapInPandas(`` or
    ``pandas_udf(`` anywhere in the package, the contract harness or
    ``bench.py`` (``run_batches``, ``row_udf`` or ``F.arrow_udf``
    instead), so no batch can widen a nullable int64 to float64."""
    assert _kernel_hits(r"mapInPandas\(|pandas_udf\(") == []


def test_cell_layout_lives_in_qcell():
    """One packed-cell codec: outside ``core/qcell.py`` no module spells
    the ``(z << 52) | (x << 26) | y`` layout as shifts; cell ids are
    built and read through ``core.qcell``'s numpy, int and Column
    forms."""
    layout = r"(<<|>>)\s*(52|26)\b|shiftright\(.*?,\s*(52|26)\s*\)"
    assert _package_hits(layout, skip=(os.path.join("core", "qcell.py"),)) == []


def test_no_join_shape_flags():
    """A plan is chosen from the inputs, not from a caller flag, and a
    failure is injected by a test patch, not by an option: no function
    or method of the package takes a join-shape (broadcast hint,
    self-join), validation-skip, code-encoding, multiprobe or
    kill-switch parameter."""
    flags = re.compile(r"^(broadcast_\w+|self_join|exclude_self|check_residual"
                       r"|residual|probe_bits|fail_after|fail_after_commit_of)$")
    hits = []
    for root, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            p = os.path.join(root, f)
            for n in ast.walk(ast.parse(open(p, encoding="utf-8").read(), p)):
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    a = n.args
                    hits += [f"{os.path.relpath(p, PKG)}:{n.lineno} {n.name}({x.arg})"
                             for x in a.posonlyargs + a.args + a.kwonlyargs
                             if flags.match(x.arg)]
    assert hits == []


REPO = os.path.dirname(PKG)
# Where a caller of a package function may live.
CALLERS = ("gdal_drivers_spark", "perfbench", "tests", "scripts",
           "__spark_entry__.py", "bench.py")
# Parameters that name a column of a public output schema and stay even
# if no caller sets them today, as ``module.function(param)``.
SCHEMA_NAMES = frozenset()


def _caller_trees() -> dict:
    """Parsed AST of every ``.py`` file in ``CALLERS``, by path."""
    paths = []
    for top in CALLERS:
        top = os.path.join(REPO, top)
        if top.endswith(".py"):
            paths.append(top)
        for root, _, files in os.walk(top):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    return {p: ast.parse(open(p, encoding="utf-8").read(), p) for p in paths}


def _public_functions(trees: dict) -> list:
    """``(module, def node, path)`` of every module-level public function
    of the package, ``module`` dotted relative to the package."""
    out = []
    for path, tree in trees.items():
        if path.startswith(PKG + os.sep):
            mod = os.path.relpath(path, PKG)[:-3].replace(os.sep, ".")
            out += [(mod, node, path) for node in tree.body
                    if isinstance(node, ast.FunctionDef) and not node.name.startswith("_")]
    return out


def _name(node):
    """The name an ``ast.Name`` or ``ast.Attribute`` node refers to."""
    return getattr(node, "id", None) or getattr(node, "attr", None)


def _unreferenced(trees: dict) -> list:
    """``module.function`` of every public package function that nothing
    names (calls, passes or imports and uses) outside its own definition."""
    fns = _public_functions(trees)
    names = {node.name for _, node, _ in fns}
    seen = {}  # name -> [(path, line)]
    for path, tree in trees.items():
        for n in ast.walk(tree):
            name = _name(n)
            if name in names:
                seen.setdefault(name, []).append((path, n.lineno))
    return [f"{mod}.{node.name}" for mod, node, path in fns
            if all(p == path and node.lineno <= line <= node.end_lineno
                   for p, line in seen.get(node.name, ()))]


def test_every_public_function_is_referenced():
    """No dead code: every public package function is named somewhere
    outside its own definition, in the package or in a caller of it."""
    assert _unreferenced(_caller_trees()) == []


def test_every_str_or_bool_option_is_set_by_a_caller():
    """No setting nothing sets: every str-, bool- or None-defaulted
    parameter of a public package function is passed, by keyword or by
    position, at some call of that function name, or is a public
    output-schema name in ``SCHEMA_NAMES``. A ``*``/``**`` splat sets
    nothing it can name."""
    trees = _caller_trees()
    calls = {}
    for tree in trees.values():
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                calls.setdefault(_name(n.func), []).append(n)
    hits = []
    for mod, node, _ in _public_functions(trees):
        a = node.args
        pos = a.posonlyargs + a.args
        defaults = [None] * (len(pos) - len(a.defaults)) + a.defaults
        params = [(i, p.arg, d) for i, (p, d) in enumerate(zip(pos, defaults))]
        params += [(None, p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
        for i, name, default in params:
            if not (isinstance(default, ast.Constant)
                    and (default.value is None or isinstance(default.value, (str, bool)))):
                continue
            if f"{mod}.{node.name}({name})" in SCHEMA_NAMES:
                continue
            if not any(any(k.arg == name for k in c.keywords)
                       or (i is not None and len(c.args) > i
                           and not any(isinstance(x, ast.Starred) for x in c.args[:i + 1]))
                       for c in calls.get(node.name, ())):
                hits.append(f"{mod}.{node.name}({name})")
    assert hits == []


def test_coverage_symbols_resolve():
    """Every `` `module.symbol` `` that ``COVERAGE.md`` names, where
    ``module`` is a package module (optionally with its ``dir/`` prefix),
    is code that runs: it imports from one module of that name
    (``dedup.*`` may live in ``operators/dedup`` or ``streaming/dedup``),
    and, if it is a public function, something calls it."""
    import importlib

    modules = {}
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py") and f != "__init__.py":
                rel = os.path.relpath(os.path.join(root, f), PKG)[:-3]
                modules.setdefault(os.path.basename(rel), []).append(rel.replace(os.sep, "."))
    dead = _unreferenced(_caller_trees())
    text = open(os.path.join(REPO, "COVERAGE.md"), encoding="utf-8").read()
    hits = []
    for prefix, mod, sym in re.findall(r"`((?:\w+/)*)(\w+)\.(\w+)[`(]", text):
        cands = [m for m in modules.get(mod, ()) if m.endswith(prefix.replace("/", ".") + mod)]
        if sym == "py" or not cands:
            continue
        found = [m for m in cands
                 if hasattr(importlib.import_module("gdal_drivers_spark." + m), sym)]
        if not found or all(f"{m}.{sym}" in dead for m in found):
            hits.append(f"{prefix}{mod}.{sym}")
    assert hits == []


def _raster(n, seed):
    return np.random.default_rng(seed).integers(0, 256, (n * T, n * T), dtype=np.uint8)


def _tiles(spark, z=2, n=3, seed=5):
    full = _raster(n, seed)
    rows = [(int(qcell.pack(z, tx, ty)), full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes())
            for tx in range(n) for ty in range(n)]
    return spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "tile"]))


def _dem(spark):
    from gdal_drivers_spark.operators.dem import horn_gradients

    return _tiles(spark), lambda df: horn_gradients(df, T)


def _proximity(spark):
    from gdal_drivers_spark.operators.proximity import proximity

    return _tiles(spark), lambda df: proximity(df, T, 7, 3)


def _blend(spark):
    from gdal_drivers_spark.operators.blend import blend_tiles

    rng = np.random.default_rng(11)
    rows = []
    for c in range(4):
        cell = int(qcell.pack(1, c % 2, c // 2))
        for s in range(3):
            img = rng.integers(0, 256, (T, T, 1), dtype=np.uint8)
            x0, y0 = (c % 2) * 0.5, (c // 2) * 0.5
            rows.append((cell, 0, s, codecs.encode_raw(img),
                         x0 + 0.05 * s, y0, x0 + 0.5, y0 + 0.5 - 0.07 * s))
    df = spark.createDataFrame(pd.DataFrame(
        rows, columns=["cell", "band", "source_id", "tile", "vx0", "vy0", "vx1", "vy1"]))
    return df, lambda d: blend_tiles(d, tile_px=T, overlap=0.03)


def _pyramid(spark):
    from gdal_drivers_spark.operators.pyramid import rollup_tiles_one_level

    full = _raster(4, 9)
    rows = [(int(qcell.pack(2, tx, ty)), 0,
             full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes(), T)
            for tx in range(4) for ty in range(4)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["cell", "band", "tile", "ts"]),
                               "cell long, band int, tile binary, ts int")
    return df, rollup_tiles_one_level


LEAF = "cell long, band int, tile binary, ts int"


def _leaf_rows(seed):
    """A 6×6 block of z=4 leaves under four z=1 stride roots."""
    full = _raster(6, seed)
    return [(int(qcell.pack(4, 5 + tx, 5 + ty)), 0,
             full[ty * T:(ty + 1) * T, tx * T:(tx + 1) * T].tobytes(), T)
            for tx in range(6) for ty in range(6)]


def _union(levels):
    from functools import reduce

    return reduce(lambda a, b: a.unionByName(b), levels.values())


def _build(spark):
    from gdal_drivers_spark.operators.pyramid import build_pyramid

    return spark.createDataFrame(_leaf_rows(9), LEAF), lambda d: _union(
        {z: f for z, f in build_pyramid(d, 4, 1).items() if z < 4})


def _update_fixture(spark):
    """Stored levels 4..1 and a delta of three replaced leaves, one of
    them carried twice."""
    from gdal_drivers_spark.operators.pyramid import build_pyramid

    levels = build_pyramid(spark.createDataFrame(_leaf_rows(9), LEAF), 4, 1)
    cells = {int(qcell.pack(4, x, y)) for x, y in ((5, 5), (7, 9), (10, 10))}
    rows = [r for r in _leaf_rows(10) if r[0] in cells]
    rows.append((rows[0][0], 0, rows[0][2][::-1], T))
    return levels, spark.createDataFrame(rows, LEAF)


def _update(spark):
    from gdal_drivers_spark.operators.pyramid import update_pyramid

    levels, delta = _update_fixture(spark)
    return delta, lambda d: _union(update_pyramid(levels, d))


def _warp(spark):
    from gdal_drivers_spark.operators.warp import warp_tiles

    rng = np.random.default_rng(3)
    rows = [(sx, sy, codecs.encode_raw(rng.integers(0, 256, (T, T, 1), dtype=np.uint8)))
            for sx in range(4) for sy in range(4)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["scx", "scy", "tile"]),
                               "scx long, scy long, tile binary")
    src_gt = np.array([0.0, 1 / 32, 0.0, 1.0, 0.0, -1 / 32])
    dst_gt = np.array([0.0, 1 / 24, 0.0, 1.0, 0.0, -1 / 24])
    return df, lambda d: warp_tiles(d, src_gt, dst_gt, (24, 24), tile_px=T, method="bilinear")


def _gridding(spark):
    from gdal_drivers_spark.operators.gridding import grid_idw

    rows = [(i, (i * 41) % 32, (i * 89) % 32, 1 + (i * 7) % 255) for i in range(40)]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["pid", "px", "py", "v"]))
    return df, lambda d: grid_idw(d, T, 2, 5, (4, 4))


def _burn(spark):
    from gdal_drivers_spark.operators.rasterize import burn_features

    feats = [
        (1, [[3.0, 2.0], [20.0, 6.0], [15.0, 19.0], [6.0, 14.0]], 50),
        (2, [[10.0, 9.0], [29.0, 12.0], [25.0, 29.0], [11.0, 28.0]], 200),
        (2, [[1.0, 25.0], [6.0, 26.0], [3.0, 31.0]], 99),
    ]
    df = spark.createDataFrame(pd.DataFrame(feats, columns=["fid", "ring", "v"]),
                               "fid long, ring array<array<double>>, v long")
    return df, lambda d: burn_features(d, T, 2, (4, 4), init=7)


def _mvt(spark):
    from gdal_drivers_spark.operators.mvt import encode_tiles

    rows = []
    for i in range(12):
        x0, y0 = 0.05 * i, 0.9 - 0.05 * i
        ring = [[x0, y0], [x0, y0 + 0.03], [x0 + 0.03, y0 + 0.03], [x0 + 0.03, y0], [x0, y0]]
        rows.append((1, 0, 0, "l" + str(i % 2), i + 1, "polygon",
                     json.dumps([[ring]]), {"k": str(i % 3)}))
        rows.append((1, 0, 0, "l" + str(i % 2), 100 + i, "point",
                     json.dumps([[[x0, y0]]]), {}))
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["z", "tx", "ty", "layer", "fid", "geom_type",
                                    "geom_json", "props"]),
        "z int, tx long, ty long, layer string, fid long, geom_type string, "
        "geom_json string, props map<string,string>")
    return df, lambda d: encode_tiles(d, extent=256)


def _cutline(spark):
    from gdal_drivers_spark.operators.cutline import cutline_crop

    # bbox [2, 14]²: the tx = 2 column is disjoint (JVM path), the rest
    # run the per-row kernel (whole-tile shortcuts and boundary tiles)
    ring = [(2, 3), (13, 2), (14, 12), (3, 13)]
    return (_tiles(spark).withColumnRenamed("tile", "raster"),
            lambda d: cutline_crop(d, ring, T))


def _knn(spark):
    from gdal_drivers_spark.operators.similarity import knn_graph

    rng = np.random.default_rng(4)
    vecs = rng.uniform(-1, 1, (24, 4)).round(3)
    df = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(vecs)],
                               "cid long, cvec array<double>")
    return df, lambda d: knn_graph(d, dim=4, k=2, n_planes=3, n_tables=2)


FAMILIES = {
    "dem_halo": _dem, "proximity": _proximity, "blend": _blend,
    "pyramid_rollup": _pyramid, "pyramid_build": _build, "pyramid_update": _update,
    "warp": _warp, "gridding": _gridding,
    "rasterize_burn": _burn, "mvt_encode": _mvt,
    "cutline_crop": _cutline, "knn_graph": _knn,
}


@pytest.mark.parametrize("family", sorted(FAMILIES))
def test_runner_output_is_layout_invariant(spark, family):
    """Same sorted output with the input at 1 and 4 partitions and with
    Arrow batches of 1 record and of the default size."""
    df, op = FAMILIES[family](spark)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    results = {}
    try:
        for batch in (old, "1"):
            spark.conf.set(key, batch)
            for parts in (1, 4):
                rows = op(df.repartition(parts)).collect()
                results[(batch, parts)] = sorted(repr(tuple(r)) for r in rows)
    finally:
        spark.conf.set(key, old)
    first = next(iter(results.values()))
    assert first, "fixture produced no output"
    for layout, rows in results.items():
        assert rows == first, layout


def test_update_pyramid_plans_one_broadcast(spark, tmp_path):
    """The union of every updated level (what a caller writes), against
    a persisted store, runs one broadcast of the changed-cell key
    frame, reused by every semi- and anti-join, and no sort-merge
    join."""
    from pyspark.sql import functions as F

    from gdal_drivers_spark.operators.pyramid import update_pyramid

    built, delta = _update_fixture(spark)
    store = str(tmp_path / "store")
    _union({z: f.withColumn("level", F.lit(z)) for z, f in built.items()}).write.parquet(store)
    stored = spark.read.parquet(store)
    levels = {z: stored.filter(F.col("level") == z).drop("level") for z in built}
    out = _union(update_pyramid(levels, delta))
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    plan = plan.split("== Initial Plan ==")[0]
    exchanges = [line for line in plan.splitlines()
                 if "BroadcastExchange" in line and "ReusedExchange" not in line]
    assert len(exchanges) == 1, plan
    assert "ReusedExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
