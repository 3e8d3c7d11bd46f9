"""Graph traversal operators: level-synchronous BFS and DFS-leaves.

Reference semantics being reproduced:

* BFS (op 4, ``parallel_bfs`` secondary_server.c:94-140): traverse from
  a start vertex, output all reached vertices in level order; order
  within a level is unspecified ("Order of vertices do not matter for
  vertices at the same distance" — Sample IO doc).  The reference's
  one-pthread-per-frontier-vertex with a join barrier per level
  (secondary_server.c:110-132) is exactly a bulk-synchronous superstep:
  here each level is one Spark stage and the shuffle is the barrier.

* DFS (op 3, ``parallel_dfs`` secondary_server.c:185-213): for a tree
  rooted at the start vertex, output the set of LEAF vertices — "a node
  should appear in the output iff it becomes a leaf node when the tree
  is rooted at the starting vertex" (Sample IO doc).  A vertex emits
  itself iff it spawns zero child traversals (secondary_server.c:171-178).

Documented deviation: for disconnected inputs the reference emits
uninitialized memory (it assumes connectedness, SURVEY.md §1.1); this
engine returns only reached vertices.

Scale posture (100 TB): the frontier join shuffles on the vertex key;
AQE right-sizes each level (frontiers vary by orders of magnitude).
``localCheckpoint`` truncates lineage each level so plans stay O(1)
deep instead of O(depth); the lazy-checkpoint-then-count idiom gives
each superstep one probe action (the count materializes the checkpoint
AND detects the empty frontier — no separate isEmpty probe).  AQE
splits that action into several Spark jobs, one per query stage:
measured about 40 jobs for 6 supersteps at 5e4 edge rows.
Visited-set dedup: with ``undirected=True`` (the engine's canonical
edge lists are symmetric, sources/graphs.py ``edges_from_pairs``) a
neighbor of a level-L vertex can only sit at level L-1, L, or L+1, so
the anti-join needs only the LAST TWO frontiers — genuinely
frontier-sized, independent of how many vertices were reached.  With
``undirected=False`` (directed inputs) the anti-join's build side is
the full accumulated visited set — the inherent cost of
level-synchronous BFS on directed graphs — kept as ONE
incrementally-checkpointed table (one union + lazy localCheckpoint
per level), never an O(depth) union tree.  Edges are scanned and
filtered by the join but never re-shuffled when AQE broadcasts the
small frontier side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .loopstats import LOOP_STATS

def _edges_only(edges: DataFrame, graph_id: int | None) -> DataFrame:
    e = edges
    if graph_id is not None and "graph_id" in e.columns:
        e = e.where(F.col("graph_id") == graph_id)  # partition-prunable predicate
    return e.select(F.col("src").cast("long").alias("src"), F.col("dst").cast("long").alias("dst"))

def _frontier_loop(
    e: DataFrame,
    frontier: DataFrame,
    keys: list[str],
    *,
    undirected: bool,
    probe_every: int,
    shuffle_hash: bool = False,
) -> tuple[DataFrame, int]:
    """The level-synchronous superstep loop shared by ``bfs_levels``
    and ``bfs_levels_multi``: expand ``frontier`` (columns ``*keys,
    vertex, level``, level 0, materialized) over ``e`` (``src, dst``
    plus any of ``keys``) until a level comes back empty.  ``keys``
    separates traversals: ``[]`` for one, ``[graph_id, start]`` for
    many; only the keys ``e`` also carries join the expansion.

    Returns the union of every reached level and the superstep count
    (non-empty expansion rounds + the final empty probe round).

    ``probe_every`` chains that many levels between probe actions;
    every chained level keeps its lazy localCheckpoint, so nothing
    re-executes combinatorially and only the probe ACTION is amortized.
    A frontier can never be empty then non-empty, so a non-empty chain
    tail proves every chained level non-empty, and a zero tail is
    resolved by recounting the chain's already-materialized frames.
    ``shuffle_hash`` hints the expansion join SHUFFLE_HASH (for an edge
    side already partitioned on its join keys)."""
    cols = [*keys, "vertex"]
    join_keys = [k for k in keys if k in e.columns]
    visited_levels = [frontier]
    # Directed mode only: running union of all frontier keys seen.
    seen_keys = frontier.select(*cols)
    prev_keys: DataFrame | None = None
    level = 0
    probe = max(1, int(probe_every))
    pending: list[DataFrame] = []
    while True:
        level += 1
        # Superstep: expand frontier one hop, drop already-visited.
        flhs = frontier.hint("shuffle_hash") if shuffle_hash else frontier
        neighbors = (
            flhs.join(e, [flhs[k] == e[k] for k in join_keys] + [flhs["vertex"] == e["src"]])
            .select(*[flhs[k] for k in keys], e["dst"].alias("vertex"))
            .distinct()
        )
        if undirected:
            dedup = frontier.select(*cols)
            if prev_keys is not None:
                dedup = dedup.unionAll(prev_keys)
        else:
            dedup = seen_keys
        # Lazy checkpoint; the chain's probe count is the ONE action
        # that materializes every chained level in sequence (truncating
        # lineage, giving AQE exact stats for the next join) and
        # detects the empty frontier.
        new = (
            neighbors.join(dedup, on=cols, how="left_anti")
            .select(*cols, F.lit(level).cast("int").alias("level"))
            .localCheckpoint(eager=False)
        )
        pending.append(new)
        prev_keys = frontier.select(*cols)
        if not undirected:
            # Incrementally-checkpointed running visited set: ONE union
            # + lazy localCheckpoint per level.  Within a probe chain the
            # checkpoints stay unmaterialized until the probe action, so
            # the anti-join build side is an O(probe_every) union tree —
            # flat again after each probe, never O(depth).
            seen_keys = seen_keys.unionAll(new.select(*cols)).localCheckpoint(eager=False)
        frontier = new
        if len(pending) < probe:
            continue  # chain more levels before the probe action
        if pending[-1].count() > 0:
            visited_levels.extend(pending)
            pending = []
            continue
        # Zero tail: keep the non-empty prefix (recounts read the
        # chain's already-materialized checkpoint blocks).
        for df in pending[:-1]:
            if df.count() == 0:
                break
            visited_levels.append(df)
        break
    out = visited_levels[0]
    for v in visited_levels[1:]:
        out = out.unionAll(v)
    return out, len(visited_levels)


def bfs_levels(
    edges: DataFrame,
    start_vertex: int,
    *,
    graph_id: int | None = None,
    undirected: bool = True,
    include_unreached: bool = False,
    probe_every: int = 1,
) -> DataFrame:
    """Hop distance from ``start_vertex`` over a symmetric edge list.

    ``include_unreached`` is the strict-compat rendering of the
    reference's "emit exactly n vertices" contract
    (secondary_server.c:96-97 assumes connectivity; on a disconnected
    graph it emits uninitialized memory for unreached vertices): every
    graph vertex appears in the output, unreached ones with level NULL
    — a deterministic stand-in for the reference's garbage rows.  The
    default (False) emits reached vertices only (SURVEY.md §1.1
    documented deviation).

    Returns ``(vertex: long, level: int)`` for every reached vertex.
    Level-synchronous iterative frontier expansion — the Spark-native
    rendering of the reference's per-level thread fan-out + join
    barrier (secondary_server.c:110-132).

    Raises for a start vertex absent from the graph (FIXTURES.md: the
    reference indexes row -1 on out-of-range input, e.g. inp.txt:36-39
    start=0; the engine raises instead).  The check is one
    src-pushdown filter probe.

    ``undirected`` (default True, matching the engine's canonical
    symmetric edge lists and the reference's symmetric adjacency
    matrices) enables frontier-sized dedup: the anti-join sees only the
    last two frontiers.  Pass False for directed edge lists — the
    last-two-frontiers property does not hold there (a directed edge
    may jump back to a much shallower vertex) and the full visited set
    must be retained.

    ``probe_every`` chains that many expansion levels between
    convergence-probe actions (see ``_frontier_loop``).  Identical
    result for any chaining factor; worth it on DEEP traversals where
    the per-action scheduling floor dominates (shallow dispatch BFS
    measured a regression from chaining — leave 1 there).
    """
    spark = edges.sparkSession
    # The edge list is scanned once per level by the frontier join; if
    # it is itself a derived pipeline (unions, normalization) that
    # whole pipeline would re-execute every superstep.  Persist it for
    # the loop's lifetime — the standard iterative-algorithm posture
    # (GraphX caches the graph the same way); MEMORY_AND_DISK so a
    # 100 TB graph partition spills instead of OOMing.
    e = _edges_only(edges, graph_id).persist()
    try:
        if e.where(F.col("src") == int(start_vertex)).limit(1).isEmpty():
            raise ValueError(
                f"start vertex {start_vertex} not present in graph"
                + (f" {graph_id}" if graph_id is not None else "")
            )
        frontier = spark.createDataFrame([(int(start_vertex), 0)], "vertex long, level int")
        out, supersteps = _frontier_loop(
            e,
            frontier.localCheckpoint(eager=True),
            [],
            undirected=undirected,
            probe_every=probe_every,
        )
        LOOP_STATS["bfs_levels"] = {"supersteps": supersteps}
        if include_unreached:
            # Symmetric edge list: the src side alone covers every vertex.
            all_vertices = e.select(F.col("src").alias("vertex")).distinct()
            out = all_vertices.join(out, on="vertex", how="left")
        return out
    finally:
        e.unpersist(blocking=False)

def bfs_levels_multi(
    edges: DataFrame,
    sources: DataFrame,
    *,
    undirected: bool = True,
    probe_every: int = 1,
    co_partition: bool = False,
) -> DataFrame:
    """Multi-source BFS: one level-synchronous loop for ANY number of
    (graph_id, start) traversals at once — the set-oriented form of the
    reference's many-concurrent-requests workload (one pthread per
    request, secondary_server.c:374-377, becomes one frontier carrying
    every traversal).

    ``sources`` needs columns (graph_id, start); returns
    (graph_id, start, vertex, level) for every reached vertex of every
    traversal.  Starts absent from their graph yield no rows (the
    reference reads out-of-bounds memory there; callers wanting a hard
    error use single-source ``bfs_levels``).

    Scale: the frontier is keyed (graph_id, start, vertex) so distinct
    traversals never interfere; the edge join shuffles on
    (graph_id, src) — co-partitioned with a graph_id-bucketed edge
    table; supersteps = the deepest requested traversal, not the sum.
    One probe action per superstep (lazy checkpoint + count), which AQE
    splits into several Spark jobs — measured about 40 jobs for 6
    supersteps at 5e4 edge rows — or one per CHAIN of ``probe_every``
    supersteps (the ``bfs_levels`` chaining contract: identical result,
    probe action amortized; use on deep traversals) — and, with
    ``undirected`` (default — canonical edge lists are symmetric),
    last-two-frontiers dedup per traversal (see ``bfs_levels``).
    """
    spark = edges.sparkSession
    # ``co_partition`` (r13, guide §2.4 — the betweenness_sampled /
    # pagerank_fixed_both posture): shuffle the edge side ONCE into the
    # session's current shuffle width keyed on (graph_id, src) and hint
    # the expansion join SHUFFLE_HASH, so each superstep shuffles only
    # the frontier instead of collecting it to the driver for a
    # broadcast build per level.  Worth it on DEEP loops (A/B at
    # sf0.1: the 18-superstep assignment replay −8%, shallow 4-6-level
    # dispatch traversals neutral — leave False there).
    e = edges.select(
        F.col("graph_id").cast("int").alias("graph_id"),
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    if co_partition:
        _w = int(spark.conf.get("spark.sql.shuffle.partitions"))
        e = e.repartition(_w, "graph_id", "src")
    e = e.persist()
    try:
        src0 = sources.select(
            F.col("graph_id").cast("int").alias("graph_id"),
            F.col("start").cast("long").alias("start"),
        ).distinct()
        # Keep only starts that exist in their graph (semi join).
        frontier = (
            src0.join(
                e.select("graph_id", F.col("src").alias("start")),
                on=["graph_id", "start"],
                how="left_semi",
            )
            .select("graph_id", "start", F.col("start").alias("vertex"),
                    F.lit(0).cast("int").alias("level"))
            .localCheckpoint(eager=True)
        )
        out, supersteps = _frontier_loop(
            e,
            frontier,
            ["graph_id", "start"],
            undirected=undirected,
            probe_every=probe_every,
            shuffle_hash=co_partition,
        )
        LOOP_STATS["bfs_levels_multi"] = {"supersteps": supersteps}
        return out
    finally:
        e.unpersist(blocking=False)


def serve_graphs_whole(edges: DataFrame, reads: DataFrame, *, tree_leaves: bool = True) -> DataFrame:
    """Answer read requests one WHOLE graph per task — the reference's
    secondary server, which loads a graph into memory and traverses it
    there (``parallel_bfs`` / ``parallel_dfs``, secondary_server.c:94-140,
    185-213).  One cogroup Arrow UDF over (edges by graph_id, requests
    by graph_id) runs, per graph, a plain queue BFS for op 4, and for
    op 3 the tree leaf rule R1 (``tree_leaves``: degree-1 vertices minus
    the start, as ``dfs_leaves_multi``) or the BFS-tree rule R2 (reached
    vertices with no neighbor one level deeper, as
    ``dfs_leaves_multi_general``).

    ``edges``: (graph_id, src, dst), symmetric per graph; ``reads``:
    (seq_no, op_no, graph_id, start).  Returns (seq_no, op_no, graph_id,
    vertex, level) with level NULL on op-3 rows — the rows the
    superstep branches of ``dispatch.run_requests`` return, with no
    superstep loop: the Spark work is the two grouping shuffles, and
    a graph's whole edge list must fit one Python worker (the caller
    bounds it, ``dispatch.WHOLE_GRAPH_BOUND``).  Starts absent from
    their graph, NULL graph ids and graph ids without edges yield no
    rows."""
    e = edges.select(
        F.col("graph_id").cast("int").alias("graph_id"),
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    return e.groupBy("graph_id").cogroup(reads.groupBy("graph_id")).applyInArrow(
        lambda e, r: _serve_graph(e, r, tree_leaves),
        "seq_no int, op_no int, graph_id int, vertex long, level int",
    )


def _serve_graph(e, r, tree_leaves: bool):
    """One graph of ``serve_graphs_whole``: its edge rows ``e`` (src,
    dst) and read requests ``r`` (seq_no, op_no, graph_id, start), both
    Arrow tables, to the reply rows as an Arrow table.

    The requests are taken start by start, so one start's level map is
    alive at a time, and the reply is held as five column lists that
    share the map's vertex objects, not as row tuples."""
    import pyarrow as pa

    adj: dict[int, set[int]] = {}
    for s, d in zip(e.column("src").to_pylist(), e.column("dst").to_pylist()):
        adj.setdefault(s, set()).add(d)
    deg1 = [v for v, ns in adj.items() if len(ns) == 1]

    by_start: dict[int, list[tuple[int, int, int]]] = {}
    reads = zip(*(r.column(c).to_pylist() for c in ("seq_no", "op_no", "graph_id", "start")))
    for seq, op, gid, start in reads:
        if gid is not None and start in adj:
            by_start.setdefault(start, []).append((seq, op, gid))

    seqs, ops, gids, vertex, level = cols = ([], [], [], [], [])
    for start, reqs in by_start.items():
        lv, frontier = {start: 0}, [start]
        # R1 reads degrees only; a traversal serves op 4 and rule R2.
        if tree_leaves and all(op == 3 for _, op, _ in reqs):
            frontier = []
        while frontier:
            nxt = []
            for v in frontier:
                for w in adj.get(v, ()):
                    if w not in lv:
                        lv[w] = lv[v] + 1
                        nxt.append(w)
            frontier = nxt
        if tree_leaves:
            leaves = [v for v in deg1 if v != start]
        else:
            leaves = [
                v for v, k in lv.items()
                if v != start and not any(lv.get(w) == k + 1 for w in adj.get(v, ()))
            ]
        for seq, op, gid in reqs:
            vs = lv if op == 4 else leaves
            seqs += [seq] * len(vs)
            ops += [op] * len(vs)
            gids += [gid] * len(vs)
            vertex += vs
            level += lv.values() if op == 4 else [None] * len(vs)
    types = (pa.int32(), pa.int32(), pa.int32(), pa.int64(), pa.int32())
    return pa.table(
        [pa.array(c, t) for c, t in zip(cols, types)],
        names=["seq_no", "op_no", "graph_id", "vertex", "level"],
    )


def dfs_leaves_multi(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Batched tree DFS-leaves (planner rule R1 applied set-wise): for
    every (graph_id, start) request at once, the leaf set is the
    degree-1 vertices of that graph minus the start — ONE degree
    aggregation joined against all requests, regardless of request
    count.  Returns (graph_id, start, leaf).

    ``sources`` is assumed CONTROL-PLANE SIZED (a request batch, the
    ``dispatch.run_requests`` contract) and is broadcast unconditionally
    to keep the degree table from being shuffled per request; callers
    with a data-plane-sized source set (millions of rows) should not
    use this operator as-is — the broadcast would be collected to the
    driver and shipped whole to every executor."""
    e = edges.select("graph_id", "src", "dst")
    # Degree 1 <=> every row of src names the same neighbor: one hash
    # aggregation, where count_distinct plans a two-level distinct
    # aggregation (one exchange more); equal on duplicated edge rows.
    deg1 = e.groupBy("graph_id", "src").agg((F.min("dst") == F.max("dst")).alias("deg1"))
    src0 = sources.select(
        F.col("graph_id").cast("int").alias("graph_id"),
        F.col("start").cast("long").alias("start"),
    ).distinct()
    valid = src0.join(
        deg1.select("graph_id", F.col("src").alias("start")),
        on=["graph_id", "start"],
        how="left_semi",
    )
    # Requests are control-plane sized (dispatch.run_requests contract)
    # — broadcast them so the degree table is never shuffled by
    # graph_id just to be fanned out per request.
    return (
        F.broadcast(valid).join(deg1.where(F.col("deg1")), on="graph_id")
        .where(F.col("src") != F.col("start"))
        .select("graph_id", "start", F.col("src").alias("leaf"))
    )


def dfs_leaves_multi_general(edges: DataFrame, sources: DataFrame) -> DataFrame:
    """Batched GENERAL (non-tree) DFS-leaves: orient every
    (graph_id, start) traversal at once with ``bfs_levels_multi``,
    then a reached vertex is a leaf iff it has no neighbor one level
    deeper in ITS traversal (i.e. no children in that BFS tree) and is
    not the start.

    This is the set-oriented replacement for the former per-request
    driver loop in ``dispatch.run_requests`` (one plan, two iterative
    jobs total, for ANY request count); ``dfs_leaves(...,
    assume_tree=False)`` is a one-source call of it.  Starts absent
    from their graph yield no rows (multi-request contract).  Returns
    (graph_id, start, leaf).
    """
    e = edges.select(
        F.col("graph_id").cast("int").alias("graph_id"),
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
    )
    levels = bfs_levels_multi(edges, sources)
    nbr = (
        levels.alias("s")
        .join(
            e.alias("ed"),
            (F.col("s.graph_id") == F.col("ed.graph_id"))
            & (F.col("s.vertex") == F.col("ed.src")),
        )
        .join(
            levels.alias("d"),
            (F.col("d.graph_id") == F.col("s.graph_id"))
            & (F.col("d.start") == F.col("s.start"))
            & (F.col("d.vertex") == F.col("ed.dst")),
        )
        .where(F.col("d.level") == F.col("s.level") + 1)
        .select(
            F.col("s.graph_id").alias("graph_id"),
            F.col("s.start").alias("start"),
            F.col("s.vertex").alias("vertex"),
        )
        .distinct()
    )
    return (
        levels.join(nbr, on=["graph_id", "start", "vertex"], how="left_anti")
        .where(F.col("vertex") != F.col("start"))
        .select("graph_id", "start", F.col("vertex").alias("leaf"))
    )


def bfs_level_order(
    edges: DataFrame,
    start_vertex: int,
    *,
    graph_id: int | None = None,
    levels: DataFrame | None = None,
    n_blocks: int = 32,
) -> DataFrame:
    """BFS output contract of the reference (O4+O12): reached vertices
    in level order.  Within-level order is unspecified in the reference;
    we make it deterministic with the (level, vertex) sort and expose the
    1-based rank as ``pos`` (the reference's position in the space-joined
    reply string, secondary_server.c:311-329).

    The global rank is a THREE-term two-pass decomposition, every
    window of which is bounded (round-5 verdict: a per-level
    ``row_number`` window puts each BFS level in ONE partition, and on
    a real graph a single level can hold most of the vertices):

    1. local rank within (level, block) — block = an order-preserving
       value-range bucket of the vertex id (``(vertex - min) //
       width``, ``n_blocks`` buckets), so each window group carries
       ~|level|/n_blocks rows, not |level|;
    2. block offset within the level — a window over the per-(level,
       block) COUNTS: at most depth x n_blocks metadata rows;
    3. level offset — the running count of shallower levels, one row
       per level.

    Value-range blocking rather than ``repartitionByRange`` because it
    is deterministic with NO sampling pass: range-partitioner
    boundaries are estimated from a sample, and the block column here
    feeds two plan branches (the local ranks and the counts) that must
    agree bit-for-bit even if the exchange is recomputed.  The id
    bounds cost one O(1)-row action on the (checkpointed) levels.
    Trade-off: heavily CLUSTERED vertex ids would unbalance blocks
    (bounded by |level| either way, never worse than the old plan);
    the ingest's dense ids make blocks near-uniform.

    ``levels``: pass a precomputed ``bfs_levels`` result to rank it
    without re-running the frontier loop (the BFS family of queries
    shares one traversal this way)."""
    from pyspark.sql.window import Window

    if levels is None:
        levels = bfs_levels(edges, start_vertex, graph_id=graph_id)
    bounds = levels.agg(
        F.min("vertex").alias("lo"), F.max("vertex").alias("hi")
    ).first()
    vmin = bounds["lo"] if bounds["lo"] is not None else 0
    vmax = bounds["hi"] if bounds["hi"] is not None else 0
    width = max(1, (vmax - vmin + n_blocks) // n_blocks)
    blocked = levels.select(
        "vertex",
        "level",
        # Integral DIV (not float /): exact for 64-bit ids at any scale.
        F.expr(f"(vertex - {int(vmin)}L) DIV {int(width)}L").alias("_blk"),
    )
    local = blocked.select(
        "vertex",
        "level",
        "_blk",
        F.row_number()
        .over(Window.partitionBy("level", "_blk").orderBy("vertex"))
        .alias("_rn"),
    )
    counts = blocked.groupBy("level", "_blk").agg(F.count("*").alias("_n"))
    block_off = counts.select(
        "level",
        "_blk",
        F.sum("_n")
        .over(
            Window.partitionBy("level")
            .orderBy("_blk")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        .alias("_boff"),
    ).fillna({"_boff": 0})
    level_off = (
        counts.groupBy("level")
        .agg(F.sum("_n").alias("_n"))
        .select(
            "level",
            F.sum("_n")
            .over(
                Window.orderBy("level").rowsBetween(Window.unboundedPreceding, -1)
            )
            .alias("_offset"),
        )
        .fillna({"_offset": 0})
    )
    return (
        local.join(block_off, on=["level", "_blk"])
        .join(level_off, on="level")
        .select(
            "vertex",
            "level",
            (F.col("_offset") + F.col("_boff") + F.col("_rn")).cast("int").alias("pos"),
        )
    )

def dfs_leaves(
    edges: DataFrame,
    start_vertex: int,
    *,
    graph_id: int | None = None,
    assume_tree: bool = True,
) -> DataFrame:
    """Leaf set of the graph rooted at ``start_vertex`` (op 3).

    Tree fast path (the engine's one planner rewrite, SURVEY.md §4):
    for a tree, the leaves when rooted at s are exactly the degree-1
    vertices excluding s — no traversal needed, one aggregation.  The
    reference itself leans on the tree assumption ("Since the graph is
    a tree, there are no race conditions", secondary_server.c:82).

    General path (``assume_tree=False``): orient the graph by BFS from
    the root; a reached vertex is a leaf iff it has no neighbor one
    level deeper (no children in the BFS tree) and is not the root.
    For trees both paths agree; the general path also handles
    disconnected inputs by only considering reached vertices.

    Returns ``(leaf: long)``.
    """
    e = _edges_only(edges, graph_id)
    if e.where(F.col("src") == int(start_vertex)).limit(1).isEmpty():
        raise ValueError(
            f"start vertex {start_vertex} not present in graph"
            + (f" {graph_id}" if graph_id is not None else "")
        )
    if assume_tree:
        # Degree 1 as in ``dfs_leaves_multi``: one hash aggregation.
        deg1 = e.groupBy("src").agg((F.min("dst") == F.max("dst")).alias("deg1"))
        return deg1.where(F.col("deg1") & (F.col("src") != int(start_vertex))).select(
            F.col("src").alias("leaf")
        )
    # One-source call of the batched general path (graph_id 0 over the
    # already-filtered edges); it returns no rows for an absent start,
    # which the check above turns into the error.
    src = e.sparkSession.createDataFrame([(0, int(start_vertex))], "graph_id int, start long")
    return dfs_leaves_multi_general(e.select(F.lit(0).alias("graph_id"), "src", "dst"), src).select("leaf")

def connected_components(
    edges: DataFrame,
    *,
    graph_id: int | None = None,
    max_iters: int = 50,
    pointer_jumping: bool = False,
    probe_every: int = 1,
    co_partition: bool = False,
) -> DataFrame:
    """Connected components by hash-min label propagation (the
    canonical Pregel algorithm; GraphX `connectedComponents` computes
    the same fixpoint): every vertex starts labeled with its own id
    and repeatedly adopts the minimum label in its closed neighborhood
    until no label changes.  Returns ``(vertex, component)`` where
    component is the minimum vertex id of the component.

    Extension beyond the reference's BFS/DFS (SURVEY.md §2.2 "graph
    ops beyond BFS/DFS") — the connectivity assumption the reference
    silently makes (secondary_server.c:96-97), checked instead of
    assumed.

    ``pointer_jumping`` adds the path-doubling term: each round also
    adopts ``L(L(v))`` (the label of the vertex its label points at),
    via one extra labels-to-labels join per round — label-chain depth
    halves per round, so convergence drops from O(diameter) rounds to
    O(log diameter).  Same unique fixpoint (min id per component; the
    extra term only ever propagates an existing smaller label), so
    any SQL oracle for the plain form holds verbatim.  Worth the
    ~1.7x per-round cost exactly when the diameter is non-trivial —
    the 100-TB long-chain regime; leave False for shallow graphs.

    Scale: each round is one (labels ⋈ edges) shuffle keyed on the
    vertex + a min-aggregation — both partial-aggregated (+ the
    doubling join when enabled); rounds ≈ diameter (or its log),
    labels are localCheckpointed so lineage stays flat.  Convergence
    is a ``_changed`` flag summed in the SAME action that materializes
    the round's checkpoint — one probe action per round, no separate
    old-vs-new join probe.  AQE splits that action into several Spark
    jobs, one per query stage: measured 39 jobs for 6 rounds at 5e4
    edge rows.  ``probe_every`` chains that many rounds
    between probes (the sssp contract: every chained round keeps its
    lazy localCheckpoint, only the probe ACTION is amortized; a round
    past the fixpoint is a no-op whose _changed sums to 0, so any
    chaining factor reaches the identical fixpoint, paying at most
    probe_every - 1 no-op rounds of plan overhead after convergence —
    worth it where the per-action scheduling floor dominates, e.g.
    the component-pair merge graphs inside max_spanning_forest).
    Exhausting ``max_iters`` without
    convergence raises rather than silently returning wrong labels
    (a path graph longer than ``max_iters`` would otherwise get
    incorrect components with no signal).
    """
    # ``co_partition`` (r13, the bfs_levels_multi posture): shuffle the
    # edge side ONCE into the session's current shuffle width keyed on
    # src and hint the label joins SHUFFLE_HASH — each round then
    # shuffles only the V-sized label table instead of collecting it
    # for a broadcast build per round.
    e = _edges_only(edges, graph_id)
    if co_partition:
        _w = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        e = e.repartition(_w, "src")
    e = e.persist()
    converged = False
    try:
        labels = (
            e.select(F.col("src").alias("vertex"))
            .distinct()
            .select("vertex", F.col("vertex").alias("component"))
            .localCheckpoint(eager=False)  # materialized by round 1's action
        )
        probe = max(1, int(probe_every))
        rounds_since_probe = 0
        for i in range(max_iters):
            llhs = labels.hint("shuffle_hash") if co_partition else labels
            nbr_min = (
                llhs.join(e, llhs["vertex"] == e["src"])
                .groupBy(e["dst"].alias("vertex"))
                .agg(F.min("component").alias("nbr_component"))
            )
            cand = llhs.join(nbr_min, on="vertex", how="left").select(
                "vertex",
                "component",
                F.coalesce("nbr_component", "component").alias("_nc"),
            )
            if pointer_jumping:
                # L(L(v)): every label IS a vertex id present in
                # labels, so the lookup join is total; coalesce is
                # belt only.
                anc = labels.select(
                    F.col("vertex").alias("_av"),
                    F.col("component").alias("_ac"),
                )
                cand = cand.join(
                    anc, cand["component"] == anc["_av"], "left"
                ).select(
                    "vertex",
                    "component",
                    F.least("_nc", F.coalesce("_ac", "component")).alias("_nc"),
                )
            new_labels = cand.select(
                "vertex",
                F.least("component", "_nc").alias("component"),
                (F.col("_nc") < F.col("component")).cast("int").alias("_changed"),
            ).localCheckpoint(eager=False)
            labels = new_labels.drop("_changed")
            rounds_since_probe += 1
            if rounds_since_probe < probe and i < max_iters - 1:
                continue  # chain: probe only every ``probe`` rounds
            rounds_since_probe = 0
            n_changed = new_labels.agg(F.sum("_changed")).collect()[0][0] or 0
            if n_changed == 0:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} rounds "
                "(graph diameter exceeds max_iters); raise max_iters"
            )
        LOOP_STATS["connected_components"] = {"rounds": i + 1}
        return labels
    finally:
        e.unpersist(blocking=False)


def connected_count(
    edges: DataFrame,
    start_vertex: int,
    *,
    graph_id: int | None = None,
    levels: DataFrame | None = None,
) -> DataFrame:
    """Number of vertices reachable from ``start_vertex`` — the
    connectivity invariant the reference silently assumes (its BFS
    reports exactly n vertices, secondary_server.c:96-97).
    ``levels``: reuse a precomputed ``bfs_levels`` result."""
    if levels is None:
        levels = bfs_levels(edges, start_vertex, graph_id=graph_id)
    return levels.agg(F.count("*").cast("long").alias("n_reachable"))
