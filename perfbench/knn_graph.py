"""knn_graph: a seeded, clustered corpus of 64-d float32 vectors →
``operators.similarity.knn_graph`` (k=5, 8 planes, 4 tables).

The check replays the documented sign-LSH in numpy: quantize ×10⁴
(round half away from zero), one ±1 pseudo-hyperplane per
(table, plane) from the integer hash in the operator's docstring,
candidates = pairs that share a bucket in any table, exact int64 dot,
top-k by (dot desc, cid asc), no self-edges.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
K = 5
N_PLANES = 8
N_TABLES = 4
SIZES = {"full": 500, "tiny": 120}
CLUSTER_SIZE = 10
SIGMA = 0.5
LAYERS = ("similarity",)


def make_inputs(rng: np.random.Generator, size: str, work: str) -> dict:
    n = SIZES[size]
    centers = rng.normal(0.0, 1.0, (n // CLUSTER_SIZE, DIM))
    label = rng.integers(0, len(centers), n)
    vecs = (centers[label] + rng.normal(0.0, SIGMA, (n, DIM))).astype(np.float32)
    path = os.path.join(work, "corpus.parquet")
    pq.write_table(
        pa.table({
            "cid": np.arange(n, dtype=np.int64),
            "cvec": pa.FixedSizeListArray.from_arrays(vecs.ravel(), DIM).cast(pa.list_(pa.float32())),
        }),
        path,
        row_group_size=max(1, n // 8),
    )
    return {"corpus": path, "vecs": vecs}


def quantize(vecs: np.ndarray) -> np.ndarray:
    x = vecs.astype(np.float64) * 10_000.0
    a = np.abs(x)
    r = np.floor(a)
    return (np.sign(x) * (r + (a - r >= 0.5))).astype(np.int64)


def plane_weights() -> np.ndarray:
    j = np.arange(DIM, dtype=np.int64)
    planes = np.arange(N_TABLES * N_PLANES, dtype=np.int64)[:, None]
    return np.where(((j + 1) * 69 + planes * 131) * 48271 % 65536 < 32768, 1, -1)


def reference(inp: dict) -> dict:
    q = quantize(inp["vecs"])
    n = len(q)
    bits = (q @ plane_weights().T > 0).astype(np.int64).reshape(n, N_TABLES, N_PLANES)
    buckets = bits @ (1 << np.arange(N_PLANES - 1, -1, -1))
    same = np.zeros((n, n), bool)
    occurrences = 0
    for t in range(N_TABLES):
        eq = buckets[:, t][:, None] == buckets[:, t][None, :]
        np.fill_diagonal(eq, False)
        occurrences += int(eq.sum())
        same |= eq
    dots = q @ q.T
    topk = {}
    for i in range(n):
        cand = np.flatnonzero(same[i])
        order = np.lexsort((cand, -dots[i, cand]))[:K]
        topk[i] = [(int(c), int(dots[i, c])) for c in cand[order]]
    return {"q": q, "topk": topk, "occurrences": occurrences,
            "distinct_pairs": int(same.sum())}


def job(spark, inp: dict, tracer) -> dict:
    from gdal_drivers_spark.operators.similarity import knn_graph

    corpus = spark.read.parquet(inp["corpus"])
    with tracer.layer("similarity"):
        rows = knn_graph(corpus, dim=DIM, k=K, n_planes=N_PLANES, n_tables=N_TABLES).collect()
    return {"edges": [(int(r["qid"]), int(r["cid"]), int(r["dot_q"]), int(r["rank"])) for r in rows]}


def check(inp: dict, ref: dict, out: dict) -> list[str]:
    errs = []
    edges = out["edges"]
    if not edges:
        return ["no edges returned"]
    e = np.array(edges, np.int64)
    qid, cid, dot, rank = e.T
    q = ref["q"]
    exact = np.einsum("ij,ij->i", q[qid], q[cid])
    if (bad := np.flatnonzero(exact != dot)).size:
        errs.append(f"{bad.size} edges with a wrong dot_q, first {edges[bad[0]]}")
    if (qid == cid).any():
        errs.append(f"{int((qid == cid).sum())} self-edges")
    by_query: dict[int, list] = {}
    for row in edges:
        by_query.setdefault(row[0], []).append(row)
    for i, want in ref["topk"].items():
        got = sorted(by_query.get(i, []), key=lambda r: r[3])
        if [r[3] for r in got] != list(range(1, len(got) + 1)):
            errs.append(f"query {i}: ranks {[r[3] for r in got]}")
        if [(r[1], r[2]) for r in got] != want:
            errs.append(f"query {i}: neighbours {[(r[1], r[2]) for r in got]}, replay {want}")
        if len(errs) > 20:
            break
    if set(by_query) - set(ref["topk"]):
        errs.append("edges for unknown query ids")
    return errs


def units(inp: dict, ref: dict) -> float:
    """Corpus vectors per job."""
    return float(len(ref["q"]))


def layer_metrics(inp: dict, ref: dict, out: dict, spans: dict, rows_of) -> dict[str, float]:
    span = spans["similarity"]
    joins = [r for name in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
             for r in rows_of(span, name)]
    aggs = rows_of(span, "HashAggregate")
    occurrences = max(joins) if joins else 0
    edges = len(out["edges"])
    return {
        "similarity.candidate_occurrences": float(occurrences),
        "similarity.distinct_pairs": float(min(aggs) if aggs else 0),
        "similarity.edges": float(edges),
        "similarity.useful_ratio": edges / occurrences if occurrences else 0.0,
    }


def _edit_first(fn):
    def apply(out: dict) -> dict:
        return {"edges": [fn(*out["edges"][0])] + out["edges"][1:]}
    return apply


CORRUPTIONS = {
    "dot": _edit_first(lambda q, c, d, r: (q, c, d + 1, r)),
    "self_edge": _edit_first(lambda q, c, d, r: (q, q, d, r)),
    "rank": _edit_first(lambda q, c, d, r: (q, c, d, r + 1)),
}
