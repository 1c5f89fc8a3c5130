"""The analytics half of the ``batch`` workload: the iterative graph
operators in a fixed suite over a generated directed graph.

The graph has a Zipf-degree core plus pendant chains hanging in and out
of it, so the loops run many rounds while their frontiers shrink (SCC
trims a chain one vertex per round; BFS and k-core peeling lose most of
their live vertices after the first rounds).  Every result is checked
against networkx/numpy references computed once, outside the timed
window.
"""

from __future__ import annotations

import os

import networkx as nx
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ..harness import Op, Workload, run_op
from ..spans import per_call, phase_s
from .common import zipf_choice

N_CORE = 200
N_CHAINS = 32  # pendant chains, half pointing in, half out
CHAIN_LEN = (2, 3)
ITERS, DAMPING = 3, 0.85
K_CORE = 5
N_PPR_SEEDS, N_BFS_SEEDS, BFS_HOPS = 3, 4, 3
RANK_TOL = 0.5e-6 + 1e-9  # operator rounds to 6 decimals; reference is exact

OPS = (
    "analytics.pagerank",
    "analytics.personalized_pagerank",
    "analytics.strongly_connected_components",
    "connected_components.connected_components",
    "analytics.k_core",
    "analytics.multi_source_bfs",
)
SUFFIXES = ("wall_s", "jobs", "shuffle_write_bytes", "executor_run_s", "driver_wait_s")
UNITS = {"wall_s": "s", "jobs": "count", "shuffle_write_bytes": "bytes",
         "executor_run_s": "s", "driver_wait_s": "s"}
LAYER_METRICS = {f"{op}.{s}": (UNITS[s], "lower") for op in OPS for s in SUFFIXES}
LAYER_METRICS[f"{OPS[2]}.rounds"] = ("count", "lower")
LAYER_METRICS["analytics.suite_s"] = ("s", "lower")


def make_graph(seed: int, n_core: int = N_CORE, n_chains: int = N_CHAINS,
               chain_len: tuple = CHAIN_LEN) -> tuple[np.ndarray, dict]:
    """Distinct directed edges without self-loops, plus the operators' seeds."""
    rng = np.random.default_rng([seed, 2])
    ids = rng.choice(10**7, size=n_core + n_chains * chain_len[1], replace=False).astype(np.int64)
    core, spare = ids[:n_core], list(ids[n_core:])
    out_deg = 4 + np.minimum(rng.zipf(1.8, n_core), 40)  # >= 4: one dense giant SCC, short diameter
    src = np.repeat(core, out_deg)
    dst = core[zipf_choice(rng, n_core, len(src), 0.9)]
    edges = set(zip(src.tolist(), dst.tolist()))
    for c in range(n_chains):
        # lengths cycle through the range, so every seed trims equally deep
        length = chain_len[0] + (c // 2) % (chain_len[1] - chain_len[0] + 1)
        chain = [spare.pop() for _ in range(length)]
        anchor = int(core[rng.integers(n_core)])
        path = chain + [anchor] if c % 2 else [anchor] + chain
        edges.update(zip(path[:-1], path[1:]))
    arr = np.array(sorted((s, d) for s, d in edges if s != d), dtype=np.int64)
    nodes = np.unique(arr)
    pick = rng.choice(len(nodes), N_PPR_SEEDS + N_BFS_SEEDS, replace=False)
    seeds = nodes[pick].tolist()
    return arr, {"ppr": seeds[:N_PPR_SEEDS], "bfs": seeds[N_PPR_SEEDS:]}


def references(edges: np.ndarray, seeds: dict) -> dict:
    """Exact results under each operator's documented semantics."""
    nodes = np.unique(edges)
    ix = {int(v): i for i, v in enumerate(nodes)}
    s = np.array([ix[int(v)] for v in edges[:, 0]])
    d = np.array([ix[int(v)] for v in edges[:, 1]])
    n = len(nodes)
    outdeg = np.bincount(s, minlength=n).astype(float)

    def push(rank):
        return np.bincount(d, weights=rank[s] / outdeg[s], minlength=n)

    rank = np.full(n, 1.0 / n)
    for _ in range(ITERS):  # dangling="drop": dangling mass leaks
        rank = (1 - DAMPING) / n + DAMPING * push(rank)
    r = np.zeros(n)
    for v in seeds["ppr"]:
        r[ix[v]] = 1.0 / len(seeds["ppr"])
    ppr = r.copy()
    for _ in range(ITERS):  # dangling mass restarts on the seeds
        dm = ppr[outdeg == 0].sum()
        ppr = (1 - DAMPING) * r + DAMPING * (push(ppr) + dm * r)
    g = nx.DiGraph()
    g.add_edges_from(edges.tolist())
    scc = {v: min(c) for c in nx.strongly_connected_components(g) for v in c}
    ug = g.to_undirected()
    cc = {v: min(c) for c in nx.connected_components(ug) for v in c}
    core = nx.k_core(ug, K_CORE)
    bfs = {
        (src, v, dist)
        for src in seeds["bfs"]
        for v, dist in nx.single_source_shortest_path_length(g, src, cutoff=BFS_HOPS).items()
    }
    return {
        "pagerank": dict(zip(nodes.tolist(), rank)),
        "ppr": dict(zip(nodes.tolist(), ppr)),
        "scc": scc,
        "cc": cc,
        "k_core": dict(core.degree()),
        "bfs": bfs,
    }


def _close(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(abs(got[k] - want[k]) <= RANK_TOL for k in want)


class Analytics(Workload):
    def setup(self) -> None:
        """Generate the graph and stage it as parquet.  No warm-up: a batch
        job starts a fresh JVM, so its users pay the cold JIT and
        code-generation cost on every run, and the window measures it."""
        self.edges_np, self.seeds = make_graph(self.seed)
        path = os.path.join(self.work, f"graph-{self.n_setups}.parquet")
        self.n_setups += 1
        pq.write_table(pa.table({"src": self.edges_np[:, 0], "dst": self.edges_np[:, 1]}), path)
        self.edges = self.spark.read.parquet(path)

    def run_pass(self, tracer) -> list[Op]:
        from pyspark.sql import functions as F

        from advanced_technologies_of_china_graph_database_construction_spark.operators import (
            analytics as A,
            connected_components as C,
        )

        e, seeds = self.edges, self.seeds
        stats: dict = {}

        def kcore():
            pairs = (
                e.select(F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"))
                .distinct()
            )
            return A.k_core(A.symmetric_edges(pairs), k=K_CORE, until_converged=True).collect()

        calls = [
            (OPS[0], lambda: A.pagerank(e, n_iter=ITERS).collect()),
            (OPS[1], lambda: A.personalized_pagerank(e, seeds["ppr"], n_iter=ITERS).collect()),
            (OPS[2], lambda: A.strongly_connected_components(e, stats=stats).collect()),
            (OPS[3], lambda: C.connected_components(e, driver_threshold=0).collect()),
            (OPS[4], kcore),
            (OPS[5], lambda: A.multi_source_bfs(e, seeds["bfs"], max_hops=BFS_HOPS).collect()),
        ]
        ops = []
        for name, fn in calls:
            ops.append(run_op(name, tracer, self.watchdog, fn))
            if name == OPS[2]:
                sp = tracer.spans(name)
                if sp:
                    sp[-1].attrs["rounds"] = sum(v for k, v in stats.items() if k.endswith("_rounds"))
        return ops

    def verify(self, ops: list[Op]) -> list[str]:
        ref = references(self.edges_np, self.seeds)
        bad = []
        for op in ops:
            if op.error is not None or op.name not in OPS:
                continue
            rows = op.result
            if op.name == OPS[0]:
                ok = _close({r.node: r.pagerank for r in rows}, ref["pagerank"])
            elif op.name == OPS[1]:
                ok = _close({r.node: r.ppr for r in rows}, ref["ppr"])
            elif op.name == OPS[2]:
                ok = {r.node: r.component for r in rows} == ref["scc"]
            elif op.name == OPS[3]:
                ok = {r.id: r.component for r in rows} == ref["cc"]
            elif op.name == OPS[4]:
                ok = {r.node: r.degree for r in rows} == ref["k_core"]
            else:
                ok = {(r.seed, r.node, r.dist) for r in rows} == ref["bfs"] and len(rows) == len(ref["bfs"])
            if not ok:
                op.error = "result differs from the reference"
                bad.append(f"{op.name}: result differs from the reference")
        return bad

    def layer_metrics(self, tracer, ops: list[Op]) -> dict:
        m = {}
        for name in OPS:
            m.update(per_call(tracer, name, SUFFIXES))
        m["analytics.suite_s"] = phase_s(tracer, OPS[0], OPS[-1])
        scc = tracer.spans(OPS[2])
        m[f"{OPS[2]}.rounds"] = (
            sum(sp.attrs.get("rounds", 0) for sp in scc) / len(scc) if scc else 0)
        return m
