"""joins: the engine's two join paths in one job, run back to back in
one session:

1. ``tile_join`` — images → ``assign_tiles`` at z=8 → ``cell_join``
   against a broadcast boundary table with bbox refine → rollup per
   region (codegen and a broadcast exchange, no Python);
2. ``knn_graph`` — a clustered 64-d corpus → ``knn_graph``, an LSH
   shuffle self-join whose Python traffic is many small Arrow rows.

Each half keeps its own inputs, numpy reference, output check, layer
counts and corruptions; this module only composes them. The job's work
(``units``) is the join output rows of both halves: cell-join rows plus
kNN edges.
"""

from __future__ import annotations

import os

import knn_graph
import tile_join

PARTS = (tile_join, knn_graph)
LAYERS = tile_join.LAYERS + knn_graph.LAYERS


def _name(part) -> str:
    return part.__name__


def make_inputs(rng, size: str, work: str) -> dict:
    inp = {}
    for part in PARTS:
        d = os.path.join(work, _name(part))
        os.makedirs(d)
        inp[_name(part)] = part.make_inputs(rng, size, d)
    return inp


def reference(inp: dict) -> dict:
    return {_name(p): p.reference(inp[_name(p)]) for p in PARTS}


def job(spark, inp: dict, tracer) -> dict:
    return {_name(p): p.job(spark, inp[_name(p)], tracer) for p in PARTS}


def check(inp: dict, ref: dict, out: dict) -> list[str]:
    return [f"{_name(p)}: {e}" for p in PARTS
            for e in p.check(inp[_name(p)], ref[_name(p)], out[_name(p)])]


def units(inp: dict, ref: dict) -> float:
    """Join output rows per job: cell-join rows plus kNN edges."""
    edges = sum(len(v) for v in ref["knn_graph"]["topk"].values())
    return tile_join.units(inp["tile_join"], ref["tile_join"]) + float(edges)


def layer_metrics(inp: dict, ref: dict, out: dict, spans: dict, rows_of) -> dict[str, float]:
    m = {}
    for p in PARTS:
        m.update(p.layer_metrics(inp[_name(p)], ref[_name(p)], out[_name(p)], spans, rows_of))
    return m


def _corrupt_part(part, fn):
    def apply(out: dict) -> dict:
        return {**out, _name(part): fn(out[_name(part)])}
    return apply


CORRUPTIONS = {f"{_name(p)}.{k}": _corrupt_part(p, fn)
               for p in PARTS for k, fn in p.CORRUPTIONS.items()}
