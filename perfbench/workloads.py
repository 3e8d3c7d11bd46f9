"""The workloads: seeded inputs, the operations each runs, and the
oracle check of every reply or result.

An operation is ``Op(kind, run, check)``: ``run`` drives the package's
public functions and returns what a client would see; ``check`` gets
that value afterwards, outside the timed window, and returns one of
``OK``, ``FAULT`` (the reply is wrong in exactly the way a named program
fault predicts) or ``WRONG``.
"""

from __future__ import annotations

import heapq
import math
import os
import random
import time
from dataclasses import dataclass
from typing import Any, Callable

import oracles

OK, FAULT, WRONG = "ok", "fault", "wrong"

REQUEST_SCHEMA = "seq_no int, op_no int, graph_name string, start_vertex int"
QUEUE_REQUEST_SCHEMA = REQUEST_SCHEMA + ", graph_id int"

N_ASSIGNMENT_TREES = 14
N_RANDOM_TREES = 2  # seeded trees in the starting catalog, beside the 14
# Sizes of the seeded trees: within the reference's cap of N = 30 and the
# assignment corpus's envelope of 4..20, so all graphs share vertices 1..20.
TREE_SIZES = (10, 20)
BFS_DEPTH = 3  # every single BFS request has exactly this eccentricity
UNION_DEPTH = 2  # drains: BFS eccentricity bound in the union of all graphs
DRAIN_K = 32  # requests per drain
# (op, graph, start) in every drain: BFS of G1 from 1.  A reply that
# ignores the graph id reaches at least the 20 vertices of the assignment
# trees' union instead of G1's 5, whatever the seed.
FAULT_PROBE = (4, 1, 1)

ANALYTICS_VERTICES = 5_000
ANALYTICS_PAIRS = 25_000  # raw undirected pairs; about 5e4 symmetric rows
KCORE_K = 3
PAGERANK_ITERS = 5
ANALYTICS_ECC = 5  # a common eccentricity at this size and degree (5 or 6)
SSSP_HOPS = 9  # the commonest depth of the shortest-path trees


@dataclass
class Op:
    kind: str
    run: Callable[[], Any]
    check: Callable[[Any], str]


def random_tree(rng: random.Random, n: int) -> list[tuple[int, int]]:
    """A random recursive tree on vertices 1..n with shuffled labels."""
    order = rng.sample(range(1, n + 1), n)
    return [(order[i], order[rng.randrange(i)]) for i in range(1, n)]


def weight(u: int, v: int) -> int:
    """Symmetric integer edge weight in 1..5 for sssp."""
    lo, hi = min(u, v), max(u, v)
    return (lo * 7 + hi * 13) % 5 + 1


def shortest_path_hops(adj: dict[int, set[int]], source: int) -> int:
    """Hops of the deepest shortest path from ``source`` under ``weight``,
    each vertex reached by its fewest-hop shortest path: the number of
    relaxation rounds a frontier-based sssp needs before it converges."""
    best = {source: (0, 0)}
    heap = [(0, 0, source)]
    while heap:
        d, k, v = heapq.heappop(heap)
        if (d, k) > best[v]:
            continue
        for w in adj[v]:
            cand = (d + weight(v, w), k + 1)
            if cand < best.get(w, (math.inf, 0)):
                best[w] = cand
                heapq.heappush(heap, (*cand, w))
    return max(k for _, k in best.values())


class Workload:
    """Shared plumbing: the engine modules, the recorder, the catalog."""

    kinds: tuple[str, ...] = ()

    def __init__(self, eng, spark, rec, seed: int, tmp: str, tree_dir: str):
        self.eng, self.spark, self.rec, self.seed = eng, spark, rec, seed
        self.tree_dir = tree_dir
        self.cat = eng.catalog.GraphCatalog(spark, os.path.join(tmp, "catalog"))
        self.parse_ms = 0.0

    def rng(self, *tag) -> random.Random:
        return random.Random(":".join(map(str, (self.seed, type(self).__name__) + tag)))

    def setup(self) -> None:
        """Build the inputs: the catalog and the oracles' view of it."""
        raise NotImplementedError

    def catalog_ok(self) -> bool:
        """Read the catalog back after set-up and compare with the inputs."""
        raise NotImplementedError

    def round_ops(self, r: int) -> list[Op]:
        raise NotImplementedError

    # -- catalog helpers ----------------------------------------------------

    def _write(self, kind: str, gid: int, pairs, *, modify: bool) -> None:
        df = self.spark.createDataFrame(pairs, "src long, dst long")
        if modify:
            with self.rec.call("catalog.modify_graph", kind):
                self.cat.modify_graph(gid, df)
        else:
            with self.rec.call("catalog.add_graph", kind):
                self.cat.add_graph(gid, df)

    def _read_back_ok(self, gid: int, expected: set) -> bool:
        got = self.cat.edges(gid).select("src", "dst").collect()
        return len(got) == len(expected) and {(r[0], r[1]) for r in got} == expected


class Serve(Workload):
    """One client replays the reference's interactive session at the
    reference's scale: single BFS (op 4) and DFS-leaves (op 3) requests,
    modify (op 2) and add (op 1), each the way ``scripts/client_repl.py``
    runs it, plus the load balancer draining a queue of K read requests
    over many graphs, once by the batch dispatch and once by the
    streaming server."""

    kinds = ("bfs", "dfs", "write", "drain", "stream")
    # The batch drain goes first: it carries both request kinds, so it
    # pays the read path's one-off costs and the single requests after it
    # measure a warm path.
    plan = ("drain", "bfs", "modify", "dfs", "add", "stream")

    def setup(self) -> None:
        """Add the 14 assignment trees (parsed by ``sources.matrix_io``)
        and the seeded random trees to the catalog, one by one."""
        self.seq = 0
        self.next_gid = N_ASSIGNMENT_TREES + N_RANDOM_TREES + 1
        self.graphs: dict[int, set] = {}
        rng = self.rng("catalog")
        for gid in range(1, N_ASSIGNMENT_TREES + N_RANDOM_TREES + 1):
            if gid <= N_ASSIGNMENT_TREES:
                t0 = time.perf_counter()
                with self.rec.call("matrix_io.parse_adjacency_text", "setup"):
                    rows = self.eng.matrix_io.parse_adjacency_text(
                        os.path.join(self.tree_dir, f"G{gid}.txt"), graph_id=gid
                    )
                self.parse_ms += (time.perf_counter() - t0) * 1000.0
                pairs = [(s, d) for _, s, d in rows]
            else:
                pairs = random_tree(rng, rng.randint(*TREE_SIZES))
            self._write("setup", gid, pairs, modify=False)
            self.graphs[gid] = oracles.normalized_edges(pairs)
        self.loaded = dict(self.graphs)

    def catalog_ok(self) -> bool:
        rows = self.cat.edges().collect()
        got: dict[int, set] = {}
        for gid, src, dst in rows:
            got.setdefault(gid, set()).add((src, dst))
        return len(rows) == sum(map(len, self.loaded.values())) and got == self.loaded

    # -- request planning over a (simulated) catalog state --------------------

    @staticmethod
    def starts_by_ecc(graphs: dict[int, set]) -> dict[int, list[tuple[int, int]]]:
        out: dict[int, list[tuple[int, int]]] = {}
        for gid in sorted(graphs):
            adj = oracles.adjacency(graphs[gid])
            for v in sorted(adj):
                out.setdefault(oracles.eccentricity(adj, v), []).append((gid, v))
        return out

    @staticmethod
    def all_starts(graphs: dict[int, set]) -> list[tuple[int, int]]:
        return [(g, v) for g in sorted(graphs) for v in sorted(oracles.adjacency(graphs[g]))]

    def round_ops(self, r: int) -> list[Op]:
        """One round of ``plan``.  Ops are planned in order against a
        model of the catalog, so each read sees the writes before it."""
        rng = self.rng("round", r)
        ops = []
        for step in self.plan:
            if step in ("bfs", "dfs"):
                by_ecc = self.starts_by_ecc(self.graphs)
                starts = by_ecc[BFS_DEPTH] if step == "bfs" else self.all_starts(self.graphs)
                gid, v = rng.choice(starts)
                ops.append(self._request_op(step, [(4 if step == "bfs" else 3, gid, v)]))
            elif step in ("drain", "stream"):
                ops.append(self._request_op(step, self._drain_requests(rng)))
            else:
                # Writes go to the benchmark's own graphs only; the 14
                # assignment trees stay as loaded (see FAULT_PROBE).
                if step == "modify":
                    gid = rng.choice([g for g in sorted(self.graphs) if g > N_ASSIGNMENT_TREES])
                else:
                    gid, self.next_gid = self.next_gid, self.next_gid + 1
                pairs = random_tree(rng, rng.randint(*TREE_SIZES))
                self.graphs[gid] = oracles.normalized_edges(pairs)
                ops.append(self._write_op(gid, pairs, step == "modify"))
        return ops

    def _drain_requests(self, rng: random.Random) -> list[tuple[int, int, int]]:
        """(op, graph, start) x K: the fixed fault probe, one BFS of
        exactly BFS_DEPTH, then a seeded mix of BFS and DFS requests.
        Every BFS start reaches at most BFS_DEPTH in its own graph and at
        most UNION_DEPTH in the union of all graphs, so every drain runs
        the same supersteps, both on the batch path and on the streaming
        path that reads the union (the graph-identity fault)."""
        union = oracles.adjacency(set().union(*self.graphs.values()))
        near = {v for v in union if oracles.eccentricity(union, v) <= UNION_DEPTH}
        by_ecc = self.starts_by_ecc(self.graphs)
        deep = [gv for gv in by_ecc[BFS_DEPTH] if gv[1] in near]
        shallow = [gv for d, gvs in by_ecc.items() if d <= BFS_DEPTH for gv in gvs if gv[1] in near]
        starts = self.all_starts(self.graphs)
        reqs = [FAULT_PROBE, (4, *rng.choice(deep))]
        ops = [4] * (DRAIN_K // 2 - 2) + [3] * (DRAIN_K // 2)
        rng.shuffle(ops)
        reqs += [(op, *rng.choice(shallow if op == 4 else starts)) for op in ops]
        return reqs

    def _request_op(self, kind: str, reqs) -> Op:
        """Single requests (bfs, dfs) take the client_repl path: one
        graph's edges, no graph_id column.  Drains carry graph_id and run
        over the whole catalog."""
        adj = {g: oracles.adjacency(e) for g, e in self.graphs.items()}
        union_adj = oracles.adjacency(set().union(*self.graphs.values()))
        rows = []
        for op, gid, start in reqs:
            self.seq += 1
            rows.append((self.seq, op, f"G{gid}.txt", start, gid))
        d, s = self.eng.dispatch, self.eng.streaming
        single = kind in ("bfs", "dfs")

        def run():
            if single:
                df = self.spark.createDataFrame([r[:4] for r in rows], REQUEST_SCHEMA)
                res_in, edges = df, self.cat.edges(rows[0][4])
            else:
                df = self.spark.createDataFrame(rows, QUEUE_REQUEST_SCHEMA)
                edges = self.cat.edges()
            if kind == "stream":
                with self.rec.call("streaming.serve_requests_available_now", kind):
                    res = s.serve_requests_available_now(self.spark, df, edges)
            else:
                if kind == "drain":
                    with self.rec.call("dispatch.schedule_requests", kind):
                        res_in = d.schedule_requests(df).drop("service_order")
                with self.rec.call("dispatch.run_requests", kind):
                    res = d.run_requests(res_in, edges)
            with self.rec.call("dispatch.reply", kind):
                out = d.format_reply(res).collect()
            return {row["seq_no"]: row["reply"] for row in out}

        def check(replies) -> str:
            verdict = OK
            for seq, op, _, start, gid in rows:
                reply = replies.get(seq, "")
                if _matches(reply, op, _expected(adj[gid], op, start)):
                    continue
                if kind == "stream" and _matches(reply, op, _fault_expected(union_adj, op, start)):
                    verdict = FAULT
                    continue
                return WRONG
            return verdict

        return Op(kind, run, check)

    def _write_op(self, gid: int, pairs, modify: bool) -> Op:
        expected = oracles.normalized_edges(pairs)

        def run():
            self._write("write", gid, pairs, modify=modify)

        return Op("write", run, lambda _: OK if self._read_back_ok(gid, expected) else WRONG)


def _expected(adj, op: int, start: int):
    if op == 4:
        return oracles.bfs_levels(adj, start)
    return oracles.tree_leaves(adj, start)


def _fault_expected(union_adj, op: int, start: int):
    """What a request gets when its graph id is ignored and the whole
    edge table is read as one graph: BFS over the union of all graphs,
    and the tree rule's leaves (degree-1 vertices other than the start)
    of that union."""
    if op == 4:
        return oracles.bfs_levels(union_adj, start)
    return {v for v, ns in union_adj.items() if len(ns) == 1} - {start}


def _matches(reply: str, op: int, expected) -> bool:
    if op == 4:
        return oracles.check_bfs_reply(reply, expected)
    return oracles.check_set_reply(reply, expected)


class Analytics(Workload):
    """Whole-graph operators on one seeded sparse random graph, written
    once through the catalog."""

    kinds = ("pagerank", "cc", "sssp", "kcore", "bfs_levels")

    def setup(self) -> None:
        import numpy as np
        import pandas as pd

        gen = np.random.default_rng([self.seed, 2718])
        raw = gen.integers(1, ANALYTICS_VERTICES + 1, (2, ANALYTICS_PAIRS))
        adj = oracles.adjacency(oracles.normalized_edges(zip(*raw.tolist())))
        # Seeded choice of the loops' start points, each with the same
        # depth on every seed, so every seed runs the same supersteps:
        # vertex 1 (the label connected components converge to) and the
        # BFS start sit ANALYTICS_ECC hops from their farthest vertex, and
        # the sssp source's shortest paths are SSSP_HOPS hops deep.
        order = self.rng("starts").sample(sorted(adj), len(adj))
        deep = (v for v in order if oracles.eccentricity(adj, v) == ANALYTICS_ECC)
        hub, bfs_start = next(deep), next(deep)
        source = next(v for v in order if shortest_path_hops(adj, v) == SSSP_HOPS)
        swap = {hub: 1, 1: hub}
        raw = np.where(raw == hub, -1, raw)
        raw = np.where(raw == 1, hub, raw)
        raw = np.where(raw == -1, 1, raw)
        self.bfs_start, self.sssp_source = (swap.get(v, v) for v in (bfs_start, source))
        pdf = pd.DataFrame({"src": raw[0].astype("int64"), "dst": raw[1].astype("int64")})
        with self.rec.call("catalog.add_graph", "setup"):
            self.cat.add_graph(1, self.spark.createDataFrame(pdf))
        self.edge_set = oracles.normalized_edges(zip(*raw.tolist()))
        self.adj = oracles.adjacency(self.edge_set)
        self._oracle: dict[str, dict] = {}

    def catalog_ok(self) -> bool:
        return self._read_back_ok(1, self.edge_set)

    def oracle(self, kind: str) -> dict:
        if kind not in self._oracle:
            e = self.edge_set
            self._oracle[kind] = {
                "pagerank": lambda: oracles.pagerank_scaled(e, iters=PAGERANK_ITERS),
                "cc": lambda: oracles.min_id_components(e),
                "sssp": lambda: oracles.dijkstra(
                    ((u, v, weight(u, v)) for u, v in e), self.sssp_source
                ),
                "kcore": lambda: oracles.kcore(self.adj, KCORE_K),
                "bfs_levels": lambda: oracles.bfs_distances(self.adj, self.bfs_start),
            }[kind]()
        return self._oracle[kind]

    def round_ops(self, r: int) -> list[Op]:
        return [self._op(kind) for kind in self.kinds]

    def _op(self, kind: str) -> Op:
        from pyspark.sql import functions as F

        tr, ga = self.eng.traverse, self.eng.graphalgs
        call, value = {
            "pagerank": (
                ("graphalgs.pagerank_fixed", lambda e: ga.pagerank_fixed(e, iters=PAGERANK_ITERS)),
                "rank_scaled",
            ),
            "cc": (("traverse.connected_components", tr.connected_components), "component"),
            "sssp": (
                (
                    "graphalgs.sssp",
                    lambda e: ga.sssp(
                        e.withColumn(
                            "w",
                            (F.least("src", "dst") * 7 + F.greatest("src", "dst") * 13) % 5 + 1,
                        ),
                        self.sssp_source,
                    ),
                ),
                "dist",
            ),
            "kcore": (("graphalgs.kcore", lambda e: ga.kcore(e, KCORE_K)), "core_degree"),
            "bfs_levels": (
                ("traverse.bfs_levels", lambda e: tr.bfs_levels(e, self.bfs_start)),
                "level",
            ),
        }[kind]
        name, fn = call

        def run():
            edges = self.cat.edges(1)
            with self.rec.call(name, kind):
                df = fn(edges)
            with self.rec.call("result.collect", kind):
                pdf = df.select("vertex", value).toPandas()
            return dict(zip(pdf["vertex"].tolist(), pdf[value].tolist()))

        return Op(kind, run, lambda got: OK if got == self.oracle(kind) else WRONG)


WORKLOADS = {"serve": Serve, "analytics": Analytics}
