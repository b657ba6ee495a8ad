"""Layer spans and Spark status-store counts, recorded from outside the
engine.

A workload job wraps each call into an engine layer in
``tracer.layer(name)``. Untraced runs use :class:`NullTracer`, whose
hooks cost nothing. :class:`Tracer` records a span per layer call
(name, start, end, parent, run id) and, when the span closes, reads
every SQL execution the call started from Spark's SQL status store:
execution wall time, per-node output rows, Python-worker metrics and,
through the app status store, shuffle bytes, fetch wait and task
durations of the execution's stages. Spans stay in memory until
:meth:`Tracer.dump`.

``tracer.materialize(df)`` is how a job hands a lazy layer output to
the next layer: untraced it returns ``df`` untouched (the layers fuse
into one Spark job, as a user's pipeline would); traced it persists
``df`` and runs it to completion inside the current span, so each
layer's time and counts are its own.
"""

from __future__ import annotations

import contextlib
import json
import re
import time

PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
PY_START = "time to start Python workers"
PY_RUN = "time to run Python workers"
_PY_METRICS = (PY_SENT, PY_RETURNED, PY_START, PY_RUN)

_UNIT = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric in base units (bytes or
    seconds). Per-task summaries put the total first."""
    text = text.split("\n")[-1].split(" (")[0].strip()
    m = re.match(r"^([0-9.,]+)\s*(\S+)?$", text)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNIT.get(m.group(2) or "", 1.0)


def _opt(o):
    """scala.Option → Python value or None."""
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class NullTracer:
    traced = False

    @contextlib.contextmanager
    def job(self, run_id: int):
        yield

    @contextlib.contextmanager
    def layer(self, name: str):
        yield

    def materialize(self, df):
        return df

    def drop(self, df) -> None:
        pass


class Tracer:
    traced = True

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._gateway = sc._gateway
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list = []

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def _span(self, name: str, run_id: int):
        span = {
            "name": name,
            "run": run_id,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "id": len(self.spans),
            "start": time.perf_counter(),
        }
        self.spans.append(span)
        self._stack.append(span)
        mark = self._sql.executionsCount()
        try:
            yield span
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            t0 = time.perf_counter()
            span["executions"] = self._read_executions(mark)
            span["read_s"] = time.perf_counter() - t0

    @contextlib.contextmanager
    def job(self, run_id: int):
        with self._span("job", run_id):
            try:
                yield
            finally:
                for df in self._cached:
                    df.unpersist()
                self._cached.clear()

    @contextlib.contextmanager
    def layer(self, name: str):
        run_id = self._stack[-1]["run"] if self._stack else -1
        with self._span(name, run_id):
            yield

    def materialize(self, df):
        df = df.persist()
        df.write.format("noop").mode("overwrite").save()
        self._cached.append(df)
        return df

    def drop(self, df) -> None:
        df.unpersist()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)

    # -- status store --------------------------------------------------

    def _read_executions(self, mark: int) -> list[dict]:
        self._bus.waitUntilEmpty()
        n = self._sql.executionsCount()
        if n <= mark:
            return []
        return [self._execution(e) for e in _seq(self._sql.executionsList(mark, n - mark))]

    def _execution(self, e) -> dict:
        eid = e.executionId()
        end = _opt(e.completionTime())
        deadline = time.perf_counter() + 2.0
        while end is None and time.perf_counter() < deadline:
            time.sleep(0.01)
            end = _opt(self._sql.execution(eid).get().completionTime())
        submitted = e.submissionTime()
        # whole collections are fetched as text, one JVM call each
        values = {}
        for item in self._sql.executionMetrics(eid).mkString("\u0001").split("\u0001"):
            if " -> " in item:
                acc_id, text = item.split(" -> ", 1)
                values[int(acc_id)] = text
        py = dict.fromkeys(_PY_METRICS, 0.0)
        for acc_id, name, _ in _plan_metrics(e.metrics().mkString("\n")):
            if name in py and acc_id in values:
                py[name] += parse_metric(values.pop(acc_id))
        nodes = []
        for node in _seq(self._sql.planGraph(eid).allNodes()):
            for acc_id, name, _ in _plan_metrics(node.metrics().mkString("\n")):
                if name == "number of output rows" and acc_id in values:
                    nodes.append((node.name().strip(), int(parse_metric(values[acc_id]))))
        return {
            "id": eid,
            "description": e.description()[:120],
            "wall_s": ((end.getTime() if end is not None else submitted) - submitted) / 1e3,
            "python": py,
            "rows": nodes,
            "stages": self._stages(e),
        }

    def _stages(self, e) -> list[dict]:
        out = []
        quantiles = self._gateway.new_array(self._gateway.jvm.double, 2)
        quantiles[0], quantiles[1] = 0.5, 1.0
        it = e.jobs().keysIterator()
        while it.hasNext():
            for sid in _seq(self._app.job(it.next()).stageIds()):
                try:
                    st = self._app.lastStageAttempt(sid)
                except Exception:  # stage never submitted (skipped)
                    continue
                if str(st.status()) != "COMPLETE":
                    continue
                summary = _opt(self._app.taskSummary(sid, st.attemptId(), quantiles))
                run = summary.executorRunTime() if summary is not None else None
                out.append({
                    "stage": sid,
                    "shuffle_write_bytes": st.shuffleWriteBytes(),
                    "fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
                    "task_median_s": run.apply(0) / 1e3 if run is not None else 0.0,
                    "task_max_s": run.apply(1) / 1e3 if run is not None else 0.0,
                })
        return out


def _plan_metrics(text: str):
    """(accumulator id, name, type) of each ``SQLPlanMetric(...)`` line."""
    for line in text.split("\n"):
        if line.startswith("SQLPlanMetric(") and line.endswith(")"):
            name, acc_id, kind = line[len("SQLPlanMetric("):-1].rsplit(",", 2)
            yield int(acc_id), name, kind


# -- per-job summary ------------------------------------------------------


def job_summary(spans: list[dict], run_id: int) -> dict[str, float]:
    """Layer-independent metrics of one traced job: Python boundary,
    exchange, task skew, driver gap and what the layer spans leave
    uncovered."""
    mine = [s for s in spans if s["run"] == run_id]
    root = next(s for s in mine if s["name"] == "job")
    execs = root["executions"]
    wall = root["end"] - root["start"]
    stages = [st for e in execs for st in e["stages"]]
    med_sum = sum(st["task_median_s"] for st in stages)
    layers = [s for s in mine if s["parent"] == root["id"]]
    return {
        "python.bytes_sent": sum(e["python"][PY_SENT] for e in execs),
        "python.bytes_returned": sum(e["python"][PY_RETURNED] for e in execs),
        "python.worker_start_s": sum(e["python"][PY_START] for e in execs),
        "python.run_s": sum(e["python"][PY_RUN] for e in execs),
        "exchange.shuffle_bytes": float(sum(st["shuffle_write_bytes"] for st in stages)),
        "exchange.fetch_wait_s": sum(st["fetch_wait_s"] for st in stages),
        "task.skew": sum(st["task_max_s"] for st in stages) / med_sum if med_sum > 0 else 1.0,
        "driver.gap_s": wall - sum(e["wall_s"] for e in execs),
        "trace.read_s": sum(s["read_s"] for s in layers),
        "trace.unaccounted_s": wall - sum(s["end"] - s["start"] + s["read_s"] for s in layers),
    }


def layer_spans(spans: list[dict], run_id: int) -> dict[str, dict]:
    """Top-level layer spans of one job, by name."""
    mine = [s for s in spans if s["run"] == run_id]
    root = next(s for s in mine if s["name"] == "job")
    return {s["name"]: s for s in mine if s["parent"] == root["id"]}


def rows_of(span: dict, node: str) -> list[int]:
    """Output rows of every plan node named ``node`` in the span's
    executions, in plan order (root first)."""
    return [r for e in span["executions"] for name, r in e["rows"] if name == node]
