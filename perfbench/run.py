#!/usr/bin/env python3
"""perfbench: the repository's benchmark. One closed-loop batch
workload per run; see perfbench/README.md.

    python3 perfbench/run.py --workload joins --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The run pins the Spark session to the
cores this process may use and a 4 GiB driver heap, generates the
workload's inputs from ``--seed``, computes the expected outputs in
numpy, runs warm-up jobs, then runs and checks jobs back to back for
``--seconds``. It prints one ``name value unit`` line per metric and,
as the last line, the JSON result. With ``--trace 1`` every other job
is traced and the per-layer metrics are reported instead of the
end-to-end ones; the spans go to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import session  # noqa: E402

WORKLOADS = ("joins", "raster_mosaic")
# Warm-up jobs by input size ("run" is the run's own size). The first
# job in a process pays JIT, codegen compilation and Python-worker
# start, 2-4x a warm job, and the next two or three are still 10-25 %
# slow. For joins most of the first job's cost is the same on tiny
# inputs, so it is paid there and two full-size jobs follow; the first
# raster_mosaic job costs the same at either size, so it runs at full
# size and is the only warm-up the run budget allows.
WARMUP = {"joins": ("tiny", "run", "run"), "raster_mosaic": ("run",)}
MIN_JOBS = 2
HARD_STOP_S = 150.0  # no new job starts after this much run time

END_TO_END = {
    "job_s": "s",
    "units_per_s": "units/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}
PER_LAYER = {
    "assign.s": "s", "assign.fanout": "ratio",
    "spatial_join.s": "s", "spatial_join.candidates": "count",
    "spatial_join.refined": "count", "spatial_join.refine_ratio": "ratio",
    "rollup.s": "s",
    "blend.s": "s", "pyramid.s": "s", "dem.s": "s", "cutline.s": "s",
    "cutline.boundary_ratio": "ratio", "pyramid_update.s": "s",
    "pyramid_update.ancestors": "count",
    "similarity.s": "s", "similarity.candidate_occurrences": "count",
    "similarity.distinct_pairs": "count", "similarity.edges": "count",
    "similarity.useful_ratio": "ratio",
    "python.bytes_sent": "B", "python.bytes_returned": "B",
    "python.worker_start_s": "s", "python.run_s": "s",
    "exchange.shuffle_bytes": "B", "exchange.fetch_wait_s": "s",
    "task.skew": "ratio", "driver.gap_s": "s",
    "trace.job_s": "s", "trace.overhead_s": "s", "trace.read_s": "s",
    "trace.count.s": "s", "trace.unaccounted_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="input size; tiny is for the benchmark's own tests")
    return p.parse_args(argv)


class Runner:
    """Runs and checks jobs of one workload in one Spark session."""

    def __init__(self, spark, wl, inp, ref):
        self.spark, self.wl, self.inp, self.ref = spark, wl, inp, ref
        self.attempted = 0
        self.failed = 0

    def run_job(self, tracer, run_id: int) -> tuple[float, dict | None]:
        """One job: its wall time and its output (None if it failed)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with tracer.job(run_id):
                out = self.wl.job(self.spark, self.inp, tracer)
                wall = time.perf_counter() - t0
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return time.perf_counter() - t0, None
        errs = self.wl.check(self.inp, self.ref, out)
        if errs:
            self.failed += 1
            print(f"job {run_id}: output check failed: " + "; ".join(errs[:5]), file=sys.stderr)
            return wall, None
        return wall, out


def _layer_metrics(wl, runner, tracer, run_id: int, out: dict) -> dict[str, float]:
    from spans import job_summary, layer_spans, rows_of

    spans = layer_spans(tracer.spans, run_id)
    m = {f"{name}.s": s["end"] - s["start"] for name, s in spans.items()}
    m.update(job_summary(tracer.spans, run_id))
    m.update(wl.layer_metrics(runner.inp, runner.ref, out, spans, rows_of))
    return m


def measure(args, work: session.WorkDir, rss: session.RssSampler, started: float) -> dict:
    import numpy as np

    from spans import NullTracer, Tracer

    wl = importlib.import_module(args.workload)
    t0 = time.perf_counter()
    spark = session.start_spark(work)
    try:
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        inp = wl.make_inputs(np.random.default_rng(args.seed), args.size, work.path)
        fixture_s = time.perf_counter() - t0
        runner = Runner(spark, wl, inp, wl.reference(inp))
        runners = {"run": runner}

        t0 = time.perf_counter()
        warm = []
        for i, size in enumerate(WARMUP[args.workload]):
            if size not in runners:
                os.makedirs(work.sub(size))
                small = wl.make_inputs(np.random.default_rng(args.seed), size, work.sub(size))
                runners[size] = Runner(spark, wl, small, wl.reference(small))
            warm.append(runners[size].run_job(NullTracer(), -1 - i)[0])
        warmup_s = time.perf_counter() - t0

        tracer = Tracer(spark) if args.trace else None
        walls, traced, layers = [], [], []
        deadline = time.perf_counter() + args.seconds
        run_id = 0
        while (time.perf_counter() < deadline or len(walls) + len(traced) < MIN_JOBS) \
                and time.perf_counter() - started < HARD_STOP_S:
            if tracer is not None and run_id % 2 == 1:
                _, out = runner.run_job(tracer, run_id)
                root = next(s for s in tracer.spans if s["run"] == run_id and s["name"] == "job")
                traced.append(root["end"] - root["start"])
                if out is not None:
                    layers.append(_layer_metrics(wl, runner, tracer, run_id, out))
            else:
                walls.append(runner.run_job(NullTracer(), run_id)[0])
            run_id += 1
        if tracer is not None:
            os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
            tracer.dump(os.path.join(HERE, "out", f"trace-{args.workload}-seed{args.seed}.json"))
    finally:
        session.stop_spark(spark)

    job_s = statistics.median(walls)
    attempted = sum(r.attempted for r in runners.values())
    failed = sum(r.failed for r in runners.values())
    info = {
        "cores": os.environ["SPARK_GRAFT_CPUS"],
        "driver_heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "jobs_timed": len(walls),
        "job_s_p75": statistics.quantiles(walls, n=4)[2] if len(walls) > 1 else walls[0],
        "job_s_max": max(walls),
        "job_s_each": [round(w, 3) for w in walls],
        "warmup_job_s": [round(w, 3) for w in warm],
        "session_s": session_s,
        "fixture_s": fixture_s,
        "warmup_s": warmup_s,
        "units_per_job": wl.units(inp, runner.ref),
    }
    if args.trace:
        metrics = {k: statistics.median(m.get(k, 0.0) for m in layers) if layers else 0.0
                   for k in PER_LAYER}
        metrics["trace.job_s"] = statistics.median(traced)
        metrics["trace.overhead_s"] = metrics["trace.job_s"] - job_s
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}
    else:
        metrics = {
            "job_s": job_s,
            "units_per_s": info["units_per_job"] / job_s,
            "setup_s": session_s + fixture_s + warmup_s,
            "peak_rss_mb": rss.peak_bytes / 1e6,
            "ok_ratio": 1.0 - failed / attempted,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    return {
        "info": info,
        "result": {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        },
    }


def main(argv=None) -> int:
    started = time.perf_counter()
    args = parse_args(argv)
    if not session.package_present():
        print(f"perfbench: no {session.PACKAGE}/ next to perfbench/; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    work = session.WorkDir(args.workload)
    try:
        session.pin_environment(work)
        with session.RssSampler() as rss:
            res = measure(args, work, rss, started)
    finally:
        work.close()
    for k, v in res["info"].items():
        print(f"# {k} {v}")
    for k, m in res["result"]["metrics"].items():
        print(f"{k} {m['value']:.6g} {m['unit']}")
    print(json.dumps(res["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
