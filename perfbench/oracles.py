"""Independent oracles for the benchmark: pure Python over the inputs the
benchmark generated, never over engine output.

Every function takes plain edge data (an adjacency dict or a set of
directed pairs) and returns the expected result; the ``check_*``
helpers compare an engine reply against it.
"""

from __future__ import annotations

import heapq
from collections import defaultdict, deque


def normalized_edges(pairs) -> set[tuple[int, int]]:
    """The symmetric edge set the catalog must store for raw undirected
    ``pairs``: self-loops dropped, duplicates merged, both directions."""
    out: set[tuple[int, int]] = set()
    for u, v in pairs:
        if u != v:
            out.add((u, v))
            out.add((v, u))
    return out


def adjacency(edge_set) -> dict[int, set[int]]:
    """Neighbour sets of a symmetric directed edge set."""
    adj: dict[int, set[int]] = defaultdict(set)
    for u, v in edge_set:
        adj[u].add(v)
    return adj


def bfs_levels(adj: dict[int, set[int]], start: int) -> list[set[int]]:
    """Vertex sets per hop distance from ``start`` (level 0 = {start})."""
    seen = {start}
    levels = [{start}]
    while True:
        nxt = {w for v in levels[-1] for w in adj.get(v, ()) if w not in seen}
        if not nxt:
            return levels
        seen |= nxt
        levels.append(nxt)


def bfs_distances(adj: dict[int, set[int]], start: int) -> dict[int, int]:
    return {v: lvl for lvl, vs in enumerate(bfs_levels(adj, start)) for v in vs}


def eccentricity(adj: dict[int, set[int]], start: int) -> int:
    return len(bfs_levels(adj, start)) - 1


def tree_leaves(adj: dict[int, set[int]], start: int) -> set[int]:
    """Leaves of the tree rooted at ``start``: every reached vertex other
    than the root that has no child (no neighbour besides its parent)."""
    leaves: set[int] = set()
    parent = {start: None}
    stack = [start]
    while stack:
        v = stack.pop()
        children = [w for w in adj.get(v, ()) if w != parent[v]]
        if not children and v != start:
            leaves.add(v)
        for w in children:
            if w in parent:
                raise ValueError(f"not a tree: cycle through {w}")
            parent[w] = v
            stack.append(w)
    return leaves


def pagerank_scaled(
    edge_rows, *, iters: int = 5, damping_pct: int = 85, scale: int = 10**12
) -> dict[int, int]:
    """Integer PageRank, replaying the update rule documented in
    ``graphalgs.pagerank_fixed`` exactly::

        r0       = scale div n
        teleport = ((100 - damping_pct) * scale div 100) div n
        r_{k+1}(v) = teleport + (damping_pct * sum_{u->v} (r_k(u) div outdeg(u))) div 100

    ``edge_rows`` are directed (src, dst) rows; the vertex set is every
    endpoint and ``outdeg`` counts rows."""
    outdeg: dict[int, int] = defaultdict(int)
    verts: set[int] = set()
    rows = list(edge_rows)
    for u, v in rows:
        outdeg[u] += 1
        verts.add(u)
        verts.add(v)
    n = len(verts)
    if n == 0:
        return {}
    teleport = ((100 - damping_pct) * scale // 100) // n
    rank = dict.fromkeys(verts, scale // n)
    for _ in range(iters):
        share = {u: rank[u] // d for u, d in outdeg.items()}
        sums: dict[int, int] = defaultdict(int)
        for u, v in rows:
            sums[v] += share[u]
        rank = {v: teleport + (damping_pct * sums.get(v, 0)) // 100 for v in verts}
    return rank


def min_id_components(edge_rows) -> dict[int, int]:
    """Union-find: each vertex mapped to the smallest vertex id of its
    connected component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edge_rows:
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            # Keep the smaller id as the root, so the root IS the answer.
            if ru < rv:
                parent[rv] = ru
            else:
                parent[ru] = rv
    return {v: find(v) for v in parent}


def dijkstra(weighted_rows, source: int) -> dict[int, int]:
    """Shortest-path distances from ``source`` over directed
    (src, dst, weight) rows with non-negative integer weights."""
    adj: dict[int, list[tuple[int, int]]] = defaultdict(list)
    for u, v, w in weighted_rows:
        adj[u].append((v, w))
    dist = {source: 0}
    heap = [(0, source)]
    while heap:
        d, v = heapq.heappop(heap)
        if d > dist[v]:
            continue
        for w, cost in adj.get(v, ()):
            nd = d + cost
            if nd < dist.get(w, nd + 1):
                dist[w] = nd
                heapq.heappush(heap, (nd, w))
    return dist


def kcore(adj: dict[int, set[int]], k: int) -> dict[int, int]:
    """k-core by peeling: repeatedly remove vertices of degree < k.
    Returns each surviving vertex with its degree inside the core."""
    deg = {v: len(ns) for v, ns in adj.items()}
    alive = set(adj)
    queue = deque(v for v, d in deg.items() if d < k)
    removed: set[int] = set()
    while queue:
        v = queue.popleft()
        if v in removed:
            continue
        removed.add(v)
        alive.discard(v)
        for w in adj[v]:
            if w in alive:
                deg[w] -= 1
                if deg[w] < k:
                    queue.append(w)
    return {v: sum(1 for w in adj[v] if w in alive) for v in alive}


# --- reply checkers -------------------------------------------------------


def reply_vertices(reply: str) -> list[int]:
    return [int(tok) for tok in reply.split()]


def check_bfs_reply(reply: str, levels: list[set[int]]) -> bool:
    """A BFS reply is correct when it lists the oracle's levels in
    order; order within a level is free (the reference's Sample IO
    rule)."""
    got = reply_vertices(reply)
    if len(got) != sum(len(lv) for lv in levels):
        return False
    pos = 0
    for lv in levels:
        if set(got[pos : pos + len(lv)]) != lv:
            return False
        pos += len(lv)
    return True


def check_set_reply(reply: str, expected: set[int]) -> bool:
    """A DFS-leaves reply is correct when it names exactly the expected
    vertex set, each once, in any order."""
    got = reply_vertices(reply)
    return len(got) == len(expected) and set(got) == expected
