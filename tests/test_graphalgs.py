"""Whole-graph analytics: triangle counting + fixed-point PageRank."""

import pytest
from pyspark.sql import functions as F

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
    canonical_edges,
    pagerank_fixed,
    triangle_counts,
)

def _df(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")

class TestTriangles:
    def test_k4_plus_pendant(self, spark):
        # K4: every vertex is in C(3,2)=3 triangles; pendant vertex in none.
        edges = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b] + [(1, 5)]
        for strategy in ("adjacency", "wedge"):
            got = {
                r.vertex: r.triangles
                for r in triangle_counts(_df(spark, edges), strategy=strategy).collect()
            }
            assert got == {1: 3, 2: 3, 3: 3, 4: 3}, strategy

    def test_strategies_agree_on_random_graph(self, spark):
        # Deterministic pseudo-random graph with hubs (xxhash-derived).
        base = spark.range(600).select(
            (F.xxhash64("id") % 50).alias("src"), (F.xxhash64("id", F.lit(1)) % 50).alias("dst")
        )
        a = {
            (r.vertex, r.triangles)
            for r in triangle_counts(base, strategy="adjacency").collect()
        }
        w = {
            (r.vertex, r.triangles)
            for r in triangle_counts(base, strategy="wedge").collect()
        }
        assert a == w and len(a) > 0

    def test_input_orientation_irrelevant(self, spark):
        # Triangle given as a mix of orientations + duplicate edges.
        tri = [(1, 2), (2, 1), (3, 2), (1, 3), (3, 1)]
        got = triangle_counts(_df(spark, tri)).collect()
        assert {(r.vertex, r.triangles) for r in got} == {(1, 1), (2, 1), (3, 1)}

    def test_unknown_strategy_raises(self, spark):
        with pytest.raises(ValueError):
            triangle_counts(_df(spark, [(1, 2)]), strategy="nope")

class TestPageRank:
    def test_cycle_uniform(self, spark):
        # Directed 3-cycle: symmetric by rotation -> exactly uniform.
        pr = pagerank_fixed(_df(spark, [(1, 2), (2, 3), (3, 1)]), iters=5).collect()
        assert len({r.rank_scaled for r in pr}) == 1
        assert abs(sum(r.rank for r in pr) - 1.0) < 1e-6

    def test_matches_float_reference(self, spark):
        edges = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (2, 4)]
        got = {r.vertex: r.rank for r in pagerank_fixed(_df(spark, edges), iters=20).collect()}
        verts = sorted({v for e in edges for v in e})
        out = {v: [d for s, d in edges if s == v] for v in verts}
        rank = {v: 1.0 / len(verts) for v in verts}
        for _ in range(20):
            nxt = {v: 0.15 / len(verts) for v in verts}
            for s in verts:
                for d in out[s]:
                    nxt[d] += 0.85 * rank[s] / len(out[s])
            rank = nxt
        for v in verts:
            assert got[v] == pytest.approx(rank[v], abs=1e-8)

    def test_mass_conserved_on_symmetric_graph(self, spark):
        # Symmetric edge list -> no dangling vertices -> total mass stays
        # 1 up to the bounded floor-division loss (< n*(outdeg+2) units).
        pairs = [(a, b) for a in range(10) for b in range(10) if a != b and (a + b) % 3]
        pr = pagerank_fixed(_df(spark, pairs), iters=8).agg(F.sum("rank_scaled")).collect()[0][0]
        assert 10**12 - 10 * 20 <= pr <= 10**12

    def test_star_center_dominates(self, spark):
        star = [(c, 0) for c in range(1, 8)] + [(0, c) for c in range(1, 8)]
        got = {r.vertex: r.rank_scaled for r in pagerank_fixed(_df(spark, star), iters=10).collect()}
        assert got[0] > max(v for k, v in got.items() if k != 0) * 3

class TestSkewedGraphs:
    """Scale-story evidence: the graph loops must survive maximal key
    skew — a star graph puts the ENTIRE edge set on one join key (the
    hub), the worst case for the frontier/label shuffles that AQE skew
    handling and degree-ordered orientation are claimed to absorb."""

    def _star(self, spark, n_spokes):
        # hub 0 <-> spokes 1..n, symmetric edge list
        half = spark.range(1, n_spokes + 1).select(
            F.lit(0).cast("long").alias("src"), F.col("id").cast("long").alias("dst")
        )
        return half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )

    def test_triangles_on_10k_star(self, spark):
        # Degree-ordered orientation gives the hub out-degree ZERO, so
        # neither strategy materializes the 10k^2 wedge set; a star has
        # no triangles and both strategies must return empty.
        edges = self._star(spark, 10_000)
        for strategy in ("adjacency", "wedge"):
            assert triangle_counts(edges, strategy=strategy).count() == 0, strategy

    def test_triangles_on_star_with_one_chord(self, spark):
        # One spoke-spoke chord makes exactly one triangle (0, 1, 2);
        # the hub's 10k-wide adjacency must not inflate the count.
        edges = self._star(spark, 10_000).unionAll(
            spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
        )
        for strategy in ("adjacency", "wedge"):
            got = {
                r.vertex: r.triangles
                for r in triangle_counts(edges, strategy=strategy).collect()
            }
            assert got == {0: 1, 1: 1, 2: 1}, strategy

    def test_connected_components_on_10k_star(self, spark):
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (
            connected_components,
        )

        labels = connected_components(self._star(spark, 10_000))
        assert labels.where(F.col("component") != 0).count() == 0
        assert labels.count() == 10_001


def test_canonical_edges_dedup(spark):
    e = canonical_edges(
        spark.createDataFrame([(2, 1), (1, 2), (1, 1), (3, 2)], "src long, dst long")
    ).collect()
    assert {(r.src, r.dst) for r in e} == {(1, 2), (2, 3)}


def test_degree_histogram_buckets(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        degree_histogram,
    )

    # Star K(1,5): center degree 5 (bucket 3), leaves degree 1 (bucket 1).
    star = spark.createDataFrame([(0, c) for c in range(1, 6)], "src long, dst long")
    got = {r.bucket: r for r in degree_histogram(star).collect()}
    assert got[1].n_vertices == 5 and got[1].min_degree == got[1].max_degree == 1
    assert got[3].n_vertices == 1 and got[3].max_degree == 5

def test_common_neighbors_scores(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        common_neighbors,
    )

    # Square 1-2-3-4-1: (1,3) and (2,4) are the non-adjacent diagonals,
    # each with 2 common neighbors and jaccard 2/(2+2-2)=1.0.
    sq = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long")
    got = {(r.u, r.v): r for r in common_neighbors(sq, min_common=2).collect()}
    assert set(got) == {(1, 3), (2, 4)}
    assert got[(1, 3)].common == 2 and got[(1, 3)].jaccard == 1.0

def test_common_neighbors_hub_guard(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        common_neighbors,
    )

    # Hub 0 connects 1..5; with the hub allowed, (i,j) leaf pairs share
    # neighbor 0; capping center degree below 5 removes those wedges.
    star = spark.createDataFrame([(0, c) for c in range(1, 6)], "src long, dst long")
    assert common_neighbors(star, min_common=1).count() == 10
    assert common_neighbors(star, min_common=1, max_center_degree=4).count() == 0

def test_triangle_auto_strategy_degrades_to_wedge(spark):
    """Graceful degradation: with the broadcast threshold squeezed
    below the adjacency payload, strategy='auto' must take the wedge
    path on a hub-clique graph — and produce exactly the adjacency
    strategy's counts (each triangle closed once either way)."""
    import itertools

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        triangle_counts,
    )

    # 20-clique (a planted promotional-bundle hub) plus a sparse tail.
    clique = list(itertools.combinations(range(20), 2))
    tail = [(19 + i, 20 + i) for i in range(1, 30)]
    g = spark.createDataFrame(clique + tail, "src long, dst long")
    adjacency = {
        (r.vertex, r.triangles) for r in triangle_counts(g, strategy="adjacency").collect()
    }
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "1024")  # 190 oriented edges * 16 > 1 KiB
        auto_df = triangle_counts(g, strategy="auto")
        # The wedge path closes with a join, never the adjacency
        # path's array_intersect — prove auto actually degraded.
        plan = auto_df._jdf.queryExecution().executedPlan().toString()
        assert "array_intersect" not in plan
        auto = {(r.vertex, r.triangles) for r in auto_df.collect()}
    finally:
        spark.conf.set(key, prev)
    assert auto == adjacency
    # every clique member sits on C(19,2) triangles
    assert (0, 171) in auto and len(auto) == 20


def test_clustering_coefficient_values(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        clustering_coefficient,
    )

    # Triangle 1-2-3 plus pendant 3-4: vertices 1,2 have coeff 1.0
    # (deg 2, one closed wedge); vertex 3 has deg 3 and one of three
    # wedges closed -> 1/3; vertex 4 (deg 1) is excluded.
    g = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    got = {r.vertex: r for r in clustering_coefficient(g).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1].coeff == 1.0 and got[1].triangles == 1 and got[1].degree == 2
    assert got[3].degree == 3 and got[3].triangles == 1
    assert abs(got[3].coeff - 1 / 3) < 1e-15


def test_resource_allocation_scores(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        resource_allocation,
    )

    # Square 1-2-3-4-1: diagonals share 2 neighbors, each of degree 2,
    # so ra_scaled = 2 * (10^9 div 2) exactly.
    sq = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 1)], "src long, dst long")
    got = {(r.u, r.v): r for r in resource_allocation(sq, min_common=2).collect()}
    assert set(got) == {(1, 3), (2, 4)}
    assert got[(1, 3)].common == 2
    assert got[(1, 3)].ra_scaled == 10**9
    assert got[(1, 3)].ra == 1.0
    # hub guard: same knob as common_neighbors
    star = spark.createDataFrame([(0, c) for c in range(1, 6)], "src long, dst long")
    assert resource_allocation(star, min_common=1).count() == 10
    assert resource_allocation(star, min_common=1, max_center_degree=4).count() == 0


def test_kcore_peels_tail(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        kcore,
    )

    # Triangle 1-2-3 with a path 3-4-5 hanging off: the 2-core is the
    # triangle (peeling 5 then 4 takes two rounds), each with degree 2.
    g = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r.vertex: r.core_degree for r in kcore(g, 2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}
    # k=3: nothing survives (empty DataFrame, converged fixpoint).
    assert kcore(g, 3).count() == 0

def test_kcore_nonconvergence_raises(spark):
    import pytest as _pytest

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        kcore,
    )

    # A 12-vertex path needs ~6 peel rounds for k=2; max_iters=2 must raise.
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore(path, 2, max_iters=2)

def test_ktruss_peels_pendant_triangle(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        ktruss,
    )

    # K4 on 1-4 (every edge in 2 triangles) plus a pendant triangle
    # 4-5-6 (each of its edges in exactly 1 triangle).
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    pend = [(4, 5), (5, 6), (4, 6)]
    g = spark.createDataFrame(k4 + pend, "src long, dst long")
    # 3-truss: every edge is in >=1 triangle, so everything survives.
    got3 = {(r.src, r.dst): r.support for r in ktruss(g, 3).collect()}
    assert set(got3) == set(k4 + pend)
    # 4-truss: the pendant triangle peels away; K4 survives with
    # support 2 on every edge.
    got4 = {(r.src, r.dst): r.support for r in ktruss(g, 4).collect()}
    assert got4 == {e: 2 for e in k4}
    # 5-truss of K4 is empty (needs support 3).
    assert ktruss(g, 5).count() == 0


def test_ktruss_cascade_and_nonconvergence(spark):
    import pytest as _pytest

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        ktruss,
    )

    # Triangle strip (1,2,3),(2,3,4),(3,4,5): only the spine edges
    # 2-3 and 3-4 start with support 2, but once the rest peel they
    # close no triangle — the 4-truss is empty via a CASCADE (two
    # peel rounds), which max_iters=1 must surface as non-convergence.
    strip = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (3, 5), (4, 5)],
        "src long, dst long",
    )
    assert ktruss(strip, 4).count() == 0
    with _pytest.raises(RuntimeError, match="did not converge"):
        ktruss(strip, 4, max_iters=1)
    with _pytest.raises(ValueError):
        ktruss(strip, 2)


def test_four_cliques_k5_fixture(spark):
    from itertools import combinations

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        four_clique_counts,
    )

    # K5 on 1..5: C(5,4)=5 4-cliques, every vertex in C(4,3)=4 of
    # them; the square 10-11-12-13 has triangles... no, no triangles
    # and certainly no 4-clique — it must not appear at all.
    k5 = list(combinations(range(1, 6), 2))
    sq = [(10, 11), (11, 12), (12, 13), (10, 13)]
    g = spark.createDataFrame(k5 + sq, "src long, dst long")
    got = {r.vertex: r.cliques4 for r in four_clique_counts(g).collect()}
    assert got == {v: 4 for v in range(1, 6)}


def test_closeness_sampled_path_fixture(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        closeness_sampled,
    )

    # Path 1-2-3 (symmetric), sources {1, 2}: from 1 the levels are
    # {2:1, 3:2} -> sum_dist 3, harmonic 1e9 + 5e8; from the center 2
    # both neighbors sit at level 1 -> sum 2, harmonic 2e9.
    canon = [(1, 1, 2), (1, 2, 3)]
    sym = canon + [(g, d, s) for g, s, d in canon]
    g = spark.createDataFrame(sym, "graph_id int, src long, dst long")
    srcs = spark.createDataFrame([(1, 1), (1, 2)], "graph_id int, start long")
    got = {r.start: (r.n_reached, r.sum_dist, r.harmonic_scaled)
           for r in closeness_sampled(g, srcs).collect()}
    assert got == {1: (2, 3, 1_500_000_000), 2: (2, 2, 2_000_000_000)}


def test_max_spanning_forest_fixture(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        max_spanning_forest,
    )

    # Triangle 1-2-3 (weights 3, 2, 1) + disconnected edge 8-9: the
    # max forest keeps the two heaviest triangle edges and the
    # separate component's edge.  True tie case: square 4-5-6-7 all
    # weight 5 — Kruskal under the (w DESC, src, dst) total order
    # takes (4,5), (4,7), (5,6) and rejects (6,7) as the cycle edge.
    rows = [
        (1, 2, 3), (2, 3, 2), (1, 3, 1),
        (8, 9, 7),
        (4, 5, 5), (5, 6, 5), (6, 7, 5), (4, 7, 5),
    ]
    g = spark.createDataFrame(rows, "src long, dst long, cnt long")
    got = {(r.src, r.dst, r.cnt) for r in max_spanning_forest(g).collect()}
    assert got == {
        (1, 2, 3), (2, 3, 2),
        (8, 9, 7),
        (4, 5, 5), (4, 7, 5), (5, 6, 5),
    }


def test_betweenness_diamond(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        betweenness_sampled,
    )

    # Diamond + tail: 1-2, 1-3, 2-4, 3-4, 4-5 (symmetric), source 1.
    # sigma(4)=2; hand-traced integer dependencies: delta(4)=1e9
    # (pair (1,5)), delta(2)=delta(3)=1e9 (half of (1,4) + half of
    # (1,5) each); 5 has zero dependency and is dropped.
    canon = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5)]
    sym = canon + [(b, a) for a, b in canon]
    g = spark.createDataFrame(sym, "src long, dst long")
    srcs = spark.createDataFrame([(1,)], "start long")
    got = {r.vertex: r.bc_scaled for r in betweenness_sampled(g, srcs).collect()}
    assert got == {2: 10**9, 3: 10**9, 4: 10**9}


def test_mis_independent_and_maximal(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        maximal_independent_set,
    )

    # Petersen-ish mix: a path, a star, and a triangle.  The exact MIS
    # depends on the hash priorities; the CONTRACT is independence +
    # maximality + determinism, so assert those.
    edges = (
        [(i, i + 1) for i in range(1, 6)]
        + [(10, c) for c in range(11, 16)]
        + [(20, 21), (21, 22), (20, 22)]
    )
    g = spark.createDataFrame(edges, "src long, dst long")
    mis1 = {r.vertex for r in maximal_independent_set(g).collect()}
    mis2 = {r.vertex for r in maximal_independent_set(g).collect()}
    assert mis1 == mis2  # hash priorities, not an RNG
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    # independence: no edge inside the set
    assert all(not (adj[v] & mis1) for v in mis1)
    # maximality: every outside vertex has a neighbor inside
    assert all(adj[v] & mis1 for v in adj if v not in mis1)


def test_label_propagation_fixed_rounds(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        label_propagation,
    )

    # Two disconnected triangles: after 4 synchronous rounds each
    # collapses to its minimum vertex id (hand-traced fixpoint).
    g = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6)],
        "src long, dst long",
    )
    got = {r.vertex: r.label for r in label_propagation(g, rounds=4).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4}
    # Bipartite oscillation: a single edge swaps labels every round;
    # the fixed-round contract makes the (non-converged) output
    # deterministic — after an EVEN round count labels are back home.
    p = spark.createDataFrame([(1, 2)], "src long, dst long")
    got_even = {r.vertex: r.label for r in label_propagation(p, rounds=4).collect()}
    assert got_even == {1: 1, 2: 2}
    got_odd = {r.vertex: r.label for r in label_propagation(p, rounds=3).collect()}
    assert got_odd == {1: 2, 2: 1}


def test_copurchase_shipdate_pushdown_and_single_scan(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.graphs import (
        copurchase_edges,
    )

    e = copurchase_edges(
        spark, "/root/testdata/sf0.001", ship_range=("1995-01-01", "1996-01-01")
    )
    plan = e._jdf.queryExecution().executedPlan().toString()
    # The ship-date range must reach the parquet scan as a data filter...
    assert "l_shipdate" in plan and ">= 1995-01-01" in plan
    # ...and the fact table must be scanned exactly once (the naive
    # distinct + basket-join + self-join formulation scans it 4x).
    assert plan.count("FileScan parquet") == 1

def test_triangle_adjacency_plan_broadcasts(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        triangle_counts,
    )

    df = spark.createDataFrame([(1, 2), (2, 3), (1, 3)], "src long, dst long")
    plan = (
        triangle_counts(df, strategy="adjacency")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan

class TestSSSP:
    def _w(self, spark, rows):
        return spark.createDataFrame(rows, "src long, dst long, w long")

    def test_weighted_path_beats_hop_path(self, spark):
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
            sssp,
        )

        # Direct 1->4 costs 10; the 3-hop detour costs 3.
        rows = [(1, 4, 10), (1, 2, 1), (2, 3, 1), (3, 4, 1)]
        got = {r.vertex: r.dist for r in sssp(self._w(spark, rows), 1).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 3}

    def test_unreached_vertices_absent(self, spark):
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
            sssp,
        )

        rows = [(1, 2, 5), (3, 4, 1)]  # 3,4 unreachable from 1
        got = {r.vertex: r.dist for r in sssp(self._w(spark, rows), 1).collect()}
        assert got == {1: 0, 2: 5}

    def test_matches_python_dijkstra_random(self, spark):
        import heapq
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
            sssp,
        )

        # Deterministic pseudo-random weighted digraph.
        rows = [
            (a, b, 1 + (a * 7 + b * 13) % 9)
            for a in range(1, 12)
            for b in range(1, 12)
            if a != b and (a * 31 + b * 17) % 4 == 0
        ]
        got = {r.vertex: r.dist for r in sssp(self._w(spark, rows), 1).collect()}
        adj = {}
        for s, d, w in rows:
            adj.setdefault(s, []).append((d, w))
        dist = {1: 0}
        pq = [(0, 1)]
        while pq:
            dd, u = heapq.heappop(pq)
            if dd > dist.get(u, 1 << 60):
                continue
            for v, w in adj.get(u, []):
                nd = dd + w
                if nd < dist.get(v, 1 << 60):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        assert got == dist

    def test_loop_partitions_scoped_restore(self, spark):
        from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
            sssp,
        )

        before = spark.conf.get("spark.sql.shuffle.partitions")
        sssp(self._w(spark, [(1, 2, 1)]), 1, loop_shuffle_partitions=4).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

def test_cooccurrence_pairs_general(spark):
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.graphs import (
        cooccurrence_pairs,
    )

    rows = [
        ("u1", 3), ("u1", 1), ("u1", 2), ("u1", 1),  # dup (u1,1) collapses
        ("u2", 1), ("u2", 2),
        ("u3", 9),                                    # singleton: no pairs
    ] + [("hub", i) for i in range(100)]              # over max_group: dropped
    df = spark.createDataFrame(rows, "user string, item long")
    pairs = cooccurrence_pairs(df, "user", "item", max_group=12)
    got = sorted((r.src, r.dst) for r in pairs.collect())
    # u1 -> (1,2),(1,3),(2,3); u2 -> (1,2); hub dropped entirely.
    assert got == [(1, 2), (1, 2), (1, 3), (2, 3)]
    # Weighted form: multiplicity is the co-occurrence count.
    w = {(r.src, r.dst): r["count"] for r in pairs.groupBy("src", "dst").count().collect()}
    assert w[(1, 2)] == 2 and w[(1, 3)] == 1

def test_pagerank_weighted(spark):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        pagerank_fixed,
    )

    # 1 splits to 2 and 3; with weight 9-vs-1 almost all of 1's mass
    # flows to 2.  2 and 3 return to 1 (keeps the chain irreducible).
    rows = [(1, 2, 9), (1, 3, 1), (2, 1, 1), (3, 1, 1)]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    got = {r.vertex: r.rank for r in pagerank_fixed(df, iters=20, weight_col="w").collect()}
    assert got[2] > got[3] * 3
    # All-equal weights reduce exactly to the unweighted result.
    eq = spark.createDataFrame([(s, d, 7) for s, d, _ in rows], "src long, dst long, w long")
    un = spark.createDataFrame([(s, d) for s, d, _ in rows], "src long, dst long")
    a = {r.vertex: r.rank_scaled for r in pagerank_fixed(eq, iters=6, weight_col="w").collect()}
    b = {r.vertex: r.rank_scaled for r in pagerank_fixed(un, iters=6).collect()}
    # Same splits up to floor-division granularity: (r*7) div (7*deg)
    # vs r div deg differ by at most 1 unit per round.
    for v in a:
        assert abs(a[v] - b[v]) <= 6


def test_pagerank_fixed_both_matches_single_runs(spark):
    # The fused two-rule loop must be value-identical to running
    # pagerank_fixed twice (integer ops never interact across the two
    # measure columns).
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        pagerank_fixed,
        pagerank_fixed_both,
        pagerank_prepare,
    )

    rows = [(1, 2, 9), (1, 3, 1), (2, 1, 1), (3, 1, 1), (3, 2, 4)]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    g = pagerank_prepare(df, weight_col="w")
    both = {r.vertex: r for r in pagerank_fixed_both(g, iters=7).collect()}
    uni = {r.vertex: r.rank_scaled for r in pagerank_fixed(prepared=g, iters=7).collect()}
    wei = {
        r.vertex: r.rank_scaled
        for r in pagerank_fixed(prepared=g, iters=7, weight_col="w").collect()
    }
    assert set(both) == set(uni) == set(wei)
    for v, r in both.items():
        assert r.rank_scaled_u == uni[v]
        assert r.rank_scaled_w == wei[v]


def test_pagerank_co_partitioned_loop_and_symmetric_prepare_identical(spark):
    # r13: (a) assume_symmetric prepare (vertex set derived from the
    # out-degree aggregation) and (b) the width-set co-partitioned
    # loop (edge/deg repartition+persist, SHUFFLE_HASH, eager final
    # checkpoint) are pure plan changes — both must be value-identical
    # to the generic prepare + lazy broadcast loop on a symmetric
    # input.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        pagerank_fixed_both,
        pagerank_prepare,
        personalized_pagerank_fixed,
    )

    half = [(1, 2, 9), (1, 3, 1), (2, 3, 4), (3, 4, 2)]
    rows = half + [(b, a, w) for a, b, w in half]
    df = spark.createDataFrame(rows, "src long, dst long, w long")
    g_gen = pagerank_prepare(df, weight_col="w")
    g_sym = pagerank_prepare(df, weight_col="w", assume_symmetric=True)
    base = {r.vertex: r for r in pagerank_fixed_both(g_gen, iters=6).collect()}
    for g in (g_gen, g_sym):
        got = {
            r.vertex: r
            for r in pagerank_fixed_both(
                g, iters=6, loop_shuffle_partitions=2
            ).collect()
        }
        assert set(got) == set(base)
        for v, r in base.items():
            assert got[v].rank_scaled_u == r.rank_scaled_u
            assert got[v].rank_scaled_w == r.rank_scaled_w
    srcs = spark.createDataFrame([(1,), (4,)], "start long")
    p_base = {
        r.vertex: r.rank_scaled
        for r in personalized_pagerank_fixed(df, srcs, iters=6).collect()
    }
    p_co = {
        r.vertex: r.rank_scaled
        for r in personalized_pagerank_fixed(
            df, srcs, iters=6, loop_shuffle_partitions=2, assume_symmetric=True
        ).collect()
    }
    assert p_base == p_co


def test_betweenness_co_partitioned_loop_identical(spark):
    # r13: the width-set forward loop pre-shuffles the edge table and
    # hints SHUFFLE_HASH — bc_scaled must match the width-None
    # broadcast loop exactly.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        betweenness_sampled,
    )

    half = [(1, 2), (2, 3), (2, 4), (3, 5), (4, 5), (5, 6)]
    rows = half + [(b, a) for a, b in half]
    df = spark.createDataFrame(rows, "src long, dst long")
    srcs = spark.createDataFrame([(1,), (6,)], "start long")
    base = {
        r.vertex: r.bc_scaled for r in betweenness_sampled(df, srcs).collect()
    }
    got = {
        r.vertex: r.bc_scaled
        for r in betweenness_sampled(
            df, srcs, loop_shuffle_partitions=2, probe_every=3
        ).collect()
    }
    assert base == got


def test_parse_byte_conf_units():
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        _parse_byte_conf,
    )

    assert _parse_byte_conf("10485760b") == 10 * 1024 * 1024
    assert _parse_byte_conf("10m") == 10 * 1024 * 1024
    assert _parse_byte_conf("64MB") == 64 * 1024 * 1024
    assert _parse_byte_conf("2g") == 2 << 30
    assert _parse_byte_conf("3K") == 3072
    # t/tb and p/pb are valid Spark byte-conf spellings too — a '1t'
    # threshold must not break triangle auto-strategy (round-5 advice).
    assert _parse_byte_conf("1t") == 1 << 40
    assert _parse_byte_conf("2TB") == 2 << 40
    assert _parse_byte_conf("1p") == 1 << 50
    assert _parse_byte_conf("1pb") == 1 << 50
    assert _parse_byte_conf("-1") == -1
    assert _parse_byte_conf("1024") == 1024
    import pytest

    with pytest.raises(ValueError):
        _parse_byte_conf("ten megabytes")


def test_betweenness_probe_chaining_same_result(spark):
    # Chained forward probes must not change the dependency sums —
    # any probe factor reaches the same levels (a frontier can never
    # be empty then non-empty), including when the chain boundary
    # straddles the last level.
    from conftest import make_edges
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        betweenness_sampled,
    )

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (2, 6), (6, 4)]
    edges = make_edges(spark, pairs).select("src", "dst")
    sources = spark.createDataFrame([(1,), (5,)], "start long")
    base = {
        (r["vertex"], r["bc_scaled"])
        for r in betweenness_sampled(edges, sources).collect()
    }
    for probe in (2, 3, 5):
        got = {
            (r["vertex"], r["bc_scaled"])
            for r in betweenness_sampled(
                edges, sources, probe_every=probe
            ).collect()
        }
        assert got == base, probe


def test_msf_contract_selection_chain_and_cycle(spark):
    # The Borůvka merge labels via pointer doubling on the FUNCTIONAL
    # selection relation: a depth-9 pointer chain hanging off a
    # mutual-best 2-cycle (0 <-> 1) plus a separate mutual pair
    # (20 <-> 21).  Every component must map to its component's root
    # (the min endpoint of the 2-cycle), exercising cycle-break and
    # multiple doubling rounds.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        _contract_selection,
    )
    from pyspark.sql import functions as F  # noqa: F401

    rows = (
        [(i, 0, i - 1, 0, i - 1) for i in range(1, 10)]
        + [(0, 0, 1, 0, 1)]
        + [(20, -1, 20, 21, 21), (21, -1, 20, 21, 20)]
    )
    sel = spark.createDataFrame(
        [(c, (nw, s, d, oc)) for c, nw, s, d, oc in rows],
        "c long, k struct<nw:long,src:long,dst:long,oc:long>",
    )
    got = {(r["pc"], r["p"]) for r in _contract_selection(sel).collect()}
    assert got == {(i, 0) for i in range(10)} | {(20, 20), (21, 20)}


def test_max_spanning_forest_long_chain(spark):
    # A weight-monotone path: every component's best edge points DOWN
    # the chain, so the first selection graph is one long pointer
    # chain — the shape that needs O(log n) doubling rounds (and that
    # the replaced hash-min CC walked one hop per round).  The max
    # forest of a path is the path itself.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.graphalgs import (
        max_spanning_forest,
    )

    rows = [(i, i + 1, 100 - i) for i in range(1, 17)]
    g = spark.createDataFrame(rows, "src long, dst long, cnt long")
    got = {(r.src, r.dst, r.cnt) for r in max_spanning_forest(g).collect()}
    assert got == set(rows)
