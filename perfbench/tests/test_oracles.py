"""The oracles on the reference cases of FIXTURES.md, against networkx,
and on replies they must reject."""

import random

import networkx as nx
import pytest

import oracles
from workloads import _fault_expected, random_tree, weight

REF_G1 = [(1, 2), (2, 3), (3, 4), (4, 5)]
REF_G2_MODIFIED = [(1, 2), (2, 3)]
REF_G3 = [(1, 2), (2, 3), (2, 4), (2, 5)]
SIO_G1 = [(1, 2), (2, 3), (2, 4), (4, 5)]
SIO_G2 = [(1, 2), (1, 4), (2, 5), (2, 7), (3, 4), (6, 7)]


def adj(pairs):
    return oracles.adjacency(oracles.normalized_edges(pairs))


@pytest.mark.parametrize(
    "pairs,start,leaves",
    [
        (SIO_G1, 1, {3, 5}),
        (SIO_G1, 2, {1, 3, 5}),
        (SIO_G1, 4, {1, 3, 5}),
        (REF_G1, 1, {5}),
        (REF_G1, 3, {1, 5}),
        (REF_G3, 3, {1, 4, 5}),
        (REF_G2_MODIFIED, 2, {1, 3}),
    ],
)
def test_dfs_leaves_reference_cases(pairs, start, leaves):
    assert oracles.tree_leaves(adj(pairs), start) == leaves


@pytest.mark.parametrize(
    "pairs,start,levels",
    [
        (SIO_G1, 1, [{1}, {2}, {3, 4}, {5}]),
        (SIO_G1, 2, [{2}, {1, 3, 4}, {5}]),
        (SIO_G2, 1, [{1}, {2, 4}, {3, 5, 7}, {6}]),
        (REF_G1, 1, [{1}, {2}, {3}, {4}, {5}]),
        (REF_G3, 2, [{2}, {1, 3, 4, 5}]),
    ],
)
def test_bfs_levels_reference_cases(pairs, start, levels):
    assert oracles.bfs_levels(adj(pairs), start) == levels


def test_bfs_reply_order_within_level_is_free():
    levels = oracles.bfs_levels(adj(SIO_G1), 1)
    assert oracles.check_bfs_reply("1 2 3 4 5", levels)
    assert oracles.check_bfs_reply("1 2 4 3 5", levels)


@pytest.mark.parametrize(
    "reply",
    [
        "1 4 2 3 5 7 8",  # the Sample IO doc's typo: 8 for 6
        "1 2 4 3 5 7",  # a vertex missing
        "1 3 2 4 5 7 6",  # 3 (level 2) before 2 (level 1)
        "1 2 4 3 5 7 6 6",  # a vertex twice
        "",
    ],
)
def test_bfs_checker_rejects_wrong_replies(reply):
    assert not oracles.check_bfs_reply(reply, oracles.bfs_levels(adj(SIO_G2), 1))


@pytest.mark.parametrize("reply", ["1 4", "1 4 5 2", "1 4 5 5", "4 5", ""])
def test_dfs_checker_rejects_wrong_replies(reply):
    assert not oracles.check_set_reply(reply, oracles.tree_leaves(adj(REF_G3), 3))
    assert oracles.check_set_reply("5 1 4", oracles.tree_leaves(adj(REF_G3), 3))


def test_normalized_edges():
    assert oracles.normalized_edges([(1, 2), (2, 1), (3, 3), (2, 3)]) == {
        (1, 2), (2, 1), (2, 3), (3, 2)
    }


def test_fault_model_reproduces_the_graph_identity_fault():
    """G1 = path 1-2-3 and G2 = star at 1 in one catalog: a request that
    ignores its graph id gets BFS '1 2 3 4' and DFS-leaves '4' for G1."""
    g1, g2 = [(1, 2), (2, 3)], [(1, 2), (1, 3), (1, 4)]
    union = oracles.adjacency(oracles.normalized_edges(g1 + g2))
    assert oracles.check_bfs_reply("1 2 3 4", _fault_expected(union, 4, 1))
    assert not oracles.check_bfs_reply("1 2 3 4", oracles.bfs_levels(adj(g1), 1))
    assert oracles.check_set_reply("4", _fault_expected(union, 3, 1))
    assert oracles.tree_leaves(adj(g1), 1) == {3}


def test_tree_leaves_are_degree_one_vertices_other_than_the_root():
    rng = random.Random(5)
    for _ in range(50):
        a = adj(random_tree(rng, rng.randint(2, 30)))
        start = rng.choice(sorted(a))
        assert oracles.tree_leaves(a, start) == {v for v, ns in a.items() if len(ns) == 1} - {start}


def test_tree_leaves_rejects_a_cycle():
    with pytest.raises(ValueError):
        oracles.tree_leaves(adj([(1, 2), (2, 3), (3, 1)]), 1)


@pytest.fixture(scope="module")
def graph():
    g = nx.gnm_random_graph(300, 900, seed=3)
    g.remove_edges_from(nx.selfloop_edges(g))
    rows = oracles.normalized_edges(g.edges())
    return g, rows


def test_graph_oracles_match_networkx(graph):
    g, rows = graph
    a = oracles.adjacency(rows)
    src = min(a)
    assert oracles.bfs_distances(a, src) == nx.single_source_shortest_path_length(g, src)
    comps = oracles.min_id_components(rows)
    for comp in nx.connected_components(g):
        if len(comp) > 1:
            assert {comps[v] for v in comp} == {min(comp)}
    for u, v in g.edges():
        g[u][v]["w"] = weight(u, v)
    want = nx.single_source_dijkstra_path_length(g, src, weight="w")
    assert oracles.dijkstra(((u, v, weight(u, v)) for u, v in rows), src) == want
    core = nx.k_core(g, 3)
    assert oracles.kcore(a, 3) == dict(core.degree())


def test_pagerank_replays_the_integer_rule():
    scale = 10**12
    # Two vertices joined by one edge: every round keeps each at scale div 2.
    assert oracles.pagerank_scaled([(1, 2), (2, 1)], iters=5, scale=scale) == {1: scale // 2, 2: scale // 2}
    # Star at 1 with 3 leaves, one round by hand.
    rows = oracles.normalized_edges([(1, 2), (1, 3), (1, 4)])
    r0, tele = scale // 4, (15 * scale // 100) // 4
    want = {1: tele + 85 * (3 * r0) // 100}
    want.update({v: tele + 85 * (r0 // 3) // 100 for v in (2, 3, 4)})
    assert oracles.pagerank_scaled(rows, iters=1, scale=scale) == want


def test_pagerank_tracks_networkx_on_a_symmetric_graph(graph):
    """Fixed point of the integer rule = stationary vector of networkx's
    Google matrix, up to the floor divisions."""
    import numpy as np

    g, _ = graph
    g = g.subgraph(max(nx.connected_components(g), key=len))
    nodes = list(g)
    google = nx.google_matrix(g, alpha=0.85, nodelist=nodes)
    want = np.full(len(nodes), 1 / len(nodes))
    for _ in range(200):
        want = want @ google
    got = oracles.pagerank_scaled(oracles.normalized_edges(g.edges()), iters=100)
    for v, r in zip(nodes, want):
        assert abs(got[v] / 10**12 - r) < 1e-6
