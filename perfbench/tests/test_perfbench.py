"""Tests of the benchmark itself, at tiny input sizes:

- every workload's job (and each half of ``joins``) runs and passes
  its output check;
- each output check rejects a corrupted result (negative controls);
- a traced job records a span, with SQL executions, for every named
  layer call, and its status-store counts equal the numpy replay's;
- the metric names and units agree with BENCHMARK.json, and the
  command prints all of them;
- the command refuses to run outside a checkout of the repository.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, BENCH)

import joins  # noqa: E402
import knn_graph  # noqa: E402
import raster_mosaic  # noqa: E402
import run  # noqa: E402
import session  # noqa: E402
import spans  # noqa: E402
import tile_join  # noqa: E402

# The two benchmark workloads and the two halves that ``joins`` composes.
WORKLOADS = {m.__name__: m for m in (joins, raster_mosaic, tile_join, knn_graph)}


@pytest.fixture(scope="module")
def work():
    w = session.WorkDir("tests")
    session.pin_environment(w)
    yield w
    w.close()


@pytest.fixture(scope="module")
def spark(work):
    sp = session.start_spark(work)
    yield sp
    session.stop_spark(sp)


@pytest.fixture(scope="module")
def case(spark, work):
    """Inputs, expected outputs and one untraced job output per workload."""
    cases = {}

    def get(name):
        if name not in cases:
            wl = WORKLOADS[name]
            d = work.sub(name)
            os.makedirs(d)
            inp = wl.make_inputs(np.random.default_rng(7), "tiny", d)
            ref = wl.reference(inp)
            out = wl.job(spark, inp, spans.NullTracer())
            cases[name] = (wl, inp, ref, out)
        return cases[name]

    return get


@pytest.mark.parametrize("name", WORKLOADS)
def test_tiny_job_passes_its_check(case, name):
    wl, inp, ref, out = case(name)
    assert wl.check(inp, ref, out) == []


@pytest.mark.parametrize("name,corruption", [
    (name, c) for name, wl in WORKLOADS.items() for c in wl.CORRUPTIONS
])
def test_check_rejects_corrupted_output(case, name, corruption):
    wl, inp, ref, out = case(name)
    assert wl.check(inp, ref, wl.CORRUPTIONS[corruption](out))


@pytest.mark.parametrize("name", WORKLOADS)
def test_traced_job_spans_cover_every_layer(spark, case, name):
    wl, inp, ref, _ = case(name)
    tracer = spans.Tracer(spark)
    with tracer.job(0):
        out = wl.job(spark, inp, tracer)
    assert wl.check(inp, ref, out) == []
    layers = spans.layer_spans(tracer.spans, 0)
    assert set(wl.LAYERS) <= set(layers)
    for name_ in wl.LAYERS:
        assert layers[name_]["executions"], f"{name_}: no SQL execution recorded"
    summary = spans.job_summary(tracer.spans, 0)
    assert summary["trace.unaccounted_s"] >= -1e-3
    counts = wl.layer_metrics(inp, ref, out, layers, spans.rows_of)
    assert all(v > 0 for v in counts.values()), counts
    parts = ref if name == "joins" else {name: ref}
    if "tile_join" in parts:
        assert counts["spatial_join.candidates"] == parts["tile_join"]["candidates"]
        assert counts["spatial_join.refined"] == sum(parts["tile_join"]["n_assign"].values())
    if name != "tile_join":
        assert summary["python.bytes_sent"] > 0
    if "knn_graph" in parts:
        assert counts["similarity.candidate_occurrences"] == parts["knn_graph"]["occurrences"]
        assert counts["similarity.distinct_pairs"] == parts["knn_graph"]["distinct_pairs"]


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert run.END_TO_END == {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert run.PER_LAYER == {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert set(run.WORKLOADS) == {w["name"] for w in spec["workloads"]}


def test_refuses_outside_a_checkout(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    root = os.path.dirname(BENCH)
    shutil.copy(os.path.join(root, "BENCHMARK.json"), tmp_path)
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "joins",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert res.returncode != 0
    assert '"correct"' not in res.stdout


def test_cli_prints_every_end_to_end_metric():
    root = os.path.dirname(BENCH)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "joins", "--seed", "3",
         "--seconds", "1", "--trace", "0", "--size", "tiny"],
        cwd=root, capture_output=True, text=True, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    result = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in spec["end_to_end"]}
    for m in spec["end_to_end"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert result["metrics"][m["name"]]["value"] > 0
