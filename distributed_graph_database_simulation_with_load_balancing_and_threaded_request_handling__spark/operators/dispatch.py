"""Request routing (O5), scheduling (O6), and batch dispatch.

Reference semantics:
* Routing (load_balancer.c:59-76): ops 1,2 -> primary server; ops 3,4 ->
  secondary-1 if ``seq_no % 2 == 0`` else secondary-2 (parity hash).
* Scheduling (load_balancer.c:49): ``msgrcv(..., -100, 0)`` — the
  kernel delivers the lowest pending mtype first, i.e. requests are
  serviced in ascending seq_no order among those pending.

Spark-native rendering: routing is a single CASE projection (Spark's
HashPartitioning is the cluster-scale generalization of the parity
split); scheduling is a window rank over seq_no.  Both are
whole-stage-codegen'd expressions — no shuffles except the window sort
for the service order.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

ROUTE_PRIMARY = "primary"
ROUTE_SS1 = "ss1"
ROUTE_SS2 = "ss2"

def route_expr() -> F.Column:
    """The load balancer's decision (load_balancer.c:65-70) as one
    column expression."""
    return (
        F.when(F.col("op_no").isin(1, 2), F.lit(ROUTE_PRIMARY))
        .when(F.col("seq_no") % 2 == 0, F.lit(ROUTE_SS1))
        .otherwise(F.lit(ROUTE_SS2))
    )

def route_requests(requests: DataFrame) -> DataFrame:
    """Tag each request with its destination server (O5).

    Returns the request columns plus ``route``.
    """
    return requests.withColumn("route", route_expr())

def route_counts(requests: DataFrame) -> DataFrame:
    """Per-server request load — the observable effect of the balancer.
    Map-side partial aggregation; one small shuffle."""
    return (
        route_requests(requests)
        .groupBy("route")
        .agg(F.count("*").cast("long").alias("n_requests"))
    )

def schedule_requests(
    requests: DataFrame, *, bucket_width: int | None = 8192
) -> DataFrame:
    """Lowest-seq_no-first service order (O6): rank requests the way the
    kernel's ``msgrcv(-100)`` would drain them.

    The global rank is computed WITHOUT a single-partition sort of the
    whole log: requests are bucketed by seq_no range
    (``floor(seq_no / bucket_width)`` — order-preserving), ranked
    inside each bucket with a partitioned (parallel) window, and offset
    by the running count of lower buckets — a window over the per-bucket
    counts, one row per bucket, so its sort is O(n_buckets) not O(rows).
    The offsets join is broadcast.  Same pattern as
    ``traverse.bfs_level_order``.

    ``bucket_width=None`` keeps the legacy whole-log global window
    (Exchange SinglePartition) for plan-comparison/debugging.
    """
    if bucket_width is None:
        w = Window.orderBy("seq_no")
        return requests.select(
            "*", F.row_number().over(w).cast("int").alias("service_order")
        )
    tagged = requests.withColumn(
        "_bucket", F.floor(F.col("seq_no") / F.lit(int(bucket_width)))
    )
    in_bucket = F.row_number().over(Window.partitionBy("_bucket").orderBy("seq_no"))
    offsets = (
        tagged.groupBy("_bucket")
        .agg(F.count("*").alias("_n"))
        .select(
            "_bucket",
            F.sum("_n")
            .over(Window.orderBy("_bucket").rowsBetween(Window.unboundedPreceding, -1))
            .alias("_offset"),
        )
        .fillna({"_offset": 0})
    )
    return (
        tagged.select("*", in_bucket.alias("_rn"))
        .join(F.broadcast(offsets), on="_bucket")
        .select(
            *requests.columns,
            (F.col("_offset") + F.col("_rn")).cast("int").alias("service_order"),
        )
    )


# Largest (edge rows x read requests) of one graph that
# ``run_requests`` answers in one task (``serve_graphs_whole``); above
# it the graph's requests take the superstep loop.  CPU seconds of the
# process tree, whole vs loop (4-core VM, Spark 4.1.2, local[2], one
# random graph of average degree 8 read from parquet, T BFS requests,
# best of 2 repetitions):
#   1e4 rows x 1: 1.4 vs 4.3 s    1e4 x 512: 2.2 vs 13.6 s
#   1e5 x 8:      2.7 vs 6.7 s    1e5 x 256: 9.9 vs 56.1 s
#   1e6 x 1:      4.8 vs 15.7 s   1e6 x 8:   8.2 vs 28.4 s
# No CPU crossover up to 3e7: the bound comes from memory instead, as
# one task holds the whole graph.  Peak RSS of ``_serve_graph`` alone
# over its input tables: 1e6 x 1 +163 MB, 1e6 x 8 +235 MB, 2e6 x 1
# +342 MB, 2.5e5 x 8 +57 MB, 1e5 x 20 +25 MB.  The graph costs more
# than the reply rows, so one request is the costliest shape per unit,
# and the bound keeps any graph under ~350 MB.
WHOLE_GRAPH_BOUND = 2_000_000


def run_requests(requests: DataFrame, edges: DataFrame, *, assume_tree: bool = True) -> DataFrame:
    """Batch dispatch: execute every read request (ops 3/4) of a batch,
    returning ``(seq_no, op_no, graph_id, vertex, level)`` — BFS rows
    carry their hop distance, DFS-leaf rows carry level NULL.

    This is the engine's analogue of the server loop.  The batch is
    read by ONE action before any operator runs: it materializes the
    projected read requests into a lazy local checkpoint, so no later
    job re-runs the caller's request plan (a scheduling window, a
    Python-built frame), and returns, per requested graph, its number
    of read requests, its edge rows and the op kinds asked of it.  A
    batch without read requests returns the five columns with no rows.

    Each requested graph then takes one of two paths:

    * **Whole graph** (edge rows x read requests at most
      ``WHOLE_GRAPH_BOUND``): every such graph is answered in ONE
      grouped pass, ``traverse.serve_graphs_whole`` — one cogroup Arrow
      UDF that loads each graph into one task and runs a plain BFS and
      the DFS leaf rule there, as the reference's secondary server
      does.  No superstep loop runs; the Spark work is the pass's two
      grouping shuffles.
    * **Superstep loop** (larger graphs): every op-4 request rides a
      single multi-source BFS (one frontier loop for all of them,
      supersteps = the deepest traversal requested), and every op-3
      request shares one degree aggregation (planner rule R1) when
      ``assume_tree``, or one multi-source BFS orientation +
      child-detection join (``dfs_leaves_multi_general``) otherwise.
      Only the branches the large graphs' op kinds need are built.

    A mixed batch unions both; the rows are the same whichever path a
    graph takes (for symmetric edge lists, the engine's canonical
    form).  Requests whose start vertex is absent from the graph, or
    whose graph_id is NULL, produce no rows (the reference reads
    out-of-bounds memory there, SURVEY.md §2.1; single-source
    ``bfs_levels`` offers the hard-error variant).

    Without a ``graph_id`` request column the whole edge set is
    treated as one graph (the output's graph_id is NULL), matching the
    name-keyed request shape of the reference client.
    """
    from ..plans.planner import plan_request
    from .traverse import bfs_levels_multi, dfs_leaves_multi, dfs_leaves_multi_general, serve_graphs_whole

    dfs_plan = plan_request(3, assume_tree=assume_tree)
    has_gid = "graph_id" in requests.columns
    if has_gid:
        e = edges.select("graph_id", "src", "dst")
        req_gid = F.col("graph_id").cast("int")
        out_gid = F.col("graph_id").cast("int")
    else:
        e = edges.select(F.lit(0).alias("graph_id"), "src", "dst")
        req_gid = F.lit(0)
        out_gid = F.lit(None).cast("int")

    reads = (
        requests.where(F.col("op_no").isin(3, 4))
        .select(
            F.col("seq_no").cast("int").alias("seq_no"),
            F.col("op_no").cast("int").alias("op_no"),
            req_gid.alias("graph_id"),
            F.col("start_vertex").cast("long").alias("start"),
        )
        .localCheckpoint(eager=False)
    )
    # The batch's one read action: materializes the checkpoint and
    # sizes every requested graph.  The broadcast join keeps only the
    # requested graphs' edge rows before they are counted; a graph
    # without edge rows (or a NULL graph id) drops out here, as it has
    # no reply rows on either path.
    requested = reads.groupBy("graph_id").agg(
        F.count("*").alias("n_reads"), F.collect_set("op_no").alias("ops")
    )
    graphs = (
        e.join(F.broadcast(requested), "graph_id")
        .groupBy("graph_id")
        .agg(F.count("*").alias("n_edges"), F.first("n_reads").alias("n_reads"), F.first("ops").alias("ops"))
        .collect()
    )
    whole, looped, kinds = [], [], set()
    for g in graphs:
        if g["n_edges"] * g["n_reads"] <= WHOLE_GRAPH_BOUND:
            whole.append(g["graph_id"])
        else:
            looped.append(g["graph_id"])
            kinds.update(g["ops"])

    outs = []
    if whole:
        rows = serve_graphs_whole(
            e.where(F.col("graph_id").isin(whole)),
            reads.where(F.col("graph_id").isin(whole)),
            tree_leaves=dfs_plan.rule == "R1",
        )
        outs.append(rows.select("seq_no", "op_no", out_gid.alias("graph_id"), "vertex", "level"))
    if looped:
        e = e.where(F.col("graph_id").isin(looped))
        reads = reads.where(F.col("graph_id").isin(looped))

    # The requests side of each fan-out join is CONTROL-PLANE sized
    # (bounded by client count — the reference's msgq depth), while the
    # traversal output is data-plane sized; without the hint both joins
    # planned as SortMergeJoin (plans/r12/q_request_replies_before.txt:
    # 2 SortMergeJoin, 4 Exchange), i.e. the BFS/leaf output was
    # shuffled by (graph_id, start) just to be stamped with seq_nos.
    # Broadcasting the requests makes the stamp exchange-free.
    if 4 in kinds:
        op4 = reads.where(F.col("op_no") == 4)
        bfs = bfs_levels_multi(e, op4.select("graph_id", "start"))
        outs.append(
            F.broadcast(op4).join(bfs, on=["graph_id", "start"]).select(
                "seq_no",
                F.lit(4).alias("op_no"),
                out_gid.alias("graph_id"),
                "vertex",
                "level",
            )
        )

    if 3 in kinds:
        op3 = reads.where(F.col("op_no") == 3)
        if dfs_plan.rule == "R1":
            leaves = dfs_leaves_multi(e, op3.select("graph_id", "start"))
        else:
            # General (non-tree) path: the same set-oriented shape — one
            # multi-source BFS orientation + child-detection join for the
            # whole batch (no per-request driver loop, no collect()).
            leaves = dfs_leaves_multi_general(e, op3.select("graph_id", "start"))
        outs.append(
            F.broadcast(op3).join(leaves, on=["graph_id", "start"]).select(
                "seq_no",
                F.lit(3).alias("op_no"),
                out_gid.alias("graph_id"),
                F.col("leaf").alias("vertex"),
                F.lit(None).cast("int").alias("level"),
            )
        )

    if not outs:
        # No read request of a graph: the empty five-column reply
        # frame, typed like the branches above.
        return reads.limit(0).select(
            "seq_no",
            "op_no",
            out_gid.alias("graph_id"),
            F.col("start").alias("vertex"),
            F.lit(None).cast("int").alias("level"),
        )
    return reduce(DataFrame.unionByName, outs)


def format_reply(result: DataFrame) -> DataFrame:
    """O12 compat: space-joined vertex list per request in (level,
    vertex) order — the reference's reply string
    (secondary_server.c:311-329; level order per the BFS contract,
    within-level order made deterministic by vertex id).

    collect_list order is not defined after a shuffle, so the ordering
    is imposed INSIDE the aggregate: collect (level, vertex) structs,
    array_sort, then project the vertex out — deterministic under any
    partitioning.  DFS rows carry NULL level; coalescing to 0 keeps
    the struct comparison null-free (all rows of a request share an
    op, so the coalesce never mixes orderings within a group)."""
    pair = F.struct(F.coalesce("level", F.lit(0)).alias("l"), F.col("vertex").alias("v"))
    return result.groupBy("seq_no").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(pair)), lambda s: s["v"].cast("string")
            ),
            " ",
        ).alias("reply")
    )
