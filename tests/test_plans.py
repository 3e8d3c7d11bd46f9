"""Explain-plan regression tests: SCALE.md's claims about the
physical plans of the headline declared queries, pinned in pytest so a
refactor that silently loses a pushdown, a broadcast, a top-k
pushdown, or partition pruning fails CI instead of only showing up as
a bench regression.

The assertions read the pre-execution physical plan string (the same
surface `.explain()` prints; under AQE this is the initial plan, which
is where scan pushdown and join-strategy choices are recorded).
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry

SF_DIR = "/root/testdata/sf0.001"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(SF_DIR), reason="driver testdata not present"
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushes_filter_and_prunes_columns(spark):
    df = entry.queries()["q_pricing_summary"](spark, SF_DIR)
    plan = _plan(df)
    # The ship-date predicate must reach the parquet scan…
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters", 1)[1][:300]
    assert "l_shipdate" in pushed
    # …and the scan must not read columns the query never touches.
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "l_partkey" not in read_schema
    assert "l_orderkey" not in read_schema


def test_brand_revenue_broadcasts_the_dim_side(spark):
    df = entry.queries()["q_brand_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dim join must not degrade


def test_bpe_tokenize_broadcasts_the_vocabulary(spark):
    # The merged vocabulary must broadcast back to the exploded
    # (doc, word) stream — the big side never shuffles for the join
    # (round 9; the fertility query shares the shape).
    df = entry.queries()["q_bpe_tokenize"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sim_topk_uses_take_ordered(spark):
    # Top-k must be TakeOrderedAndProject (per-partition heaps, k rows
    # to the driver), never a global sort followed by a limit.
    df = entry.queries()["q_sim_topk"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "GlobalLimit" not in plan


def test_ivf_partitioned_probe_prunes_partitions(spark, tmp_path):
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        ivf_topk_partitioned,
        save_ivf_partitioned,
    )

    emb = spark.createDataFrame(
        [(i, [float(i % 7), float(i % 5), float(i % 3), 1.0]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    centroids = [
        [6.0, 4.0, 2.0, 1.0],
        [0.0, 0.0, 0.0, 1.0],
        [3.0, 2.0, 1.0, 1.0],
        [6.0, 0.0, 2.0, 1.0],
    ]
    path = str(tmp_path / "ivf")
    save_ivf_partitioned(emb, path, centroids)
    probed = ivf_topk_partitioned(
        spark, path, [5.9, 4.1, 2.0, 1.0], centroids, 5, n_probe=2
    )
    plan = _plan(probed)
    # The probe predicate must be a PARTITION filter (metadata prune at
    # file listing), not a post-scan row filter.
    assert "PartitionFilters" in plan
    part = plan.split("PartitionFilters", 1)[1][:200]
    assert "cell" in part
    assert probed.count() == 5


def test_catalog_bfs_level_join_no_exchange_on_bucketed_edges(spark, tmp_path):
    """SCALE.md's bucketed-edge-table claim, demonstrated: with the
    graph saved ``bucketBy(n, src)`` (bucket keys must equal the join
    keys — adding graph_id to the bucketing would break src-only join
    alignment), a BFS-style frontier⋈edges level join repartitions
    only the (small) frontier — the edge side is read pre-partitioned,
    with NO Exchange above its scan."""
    import uuid

    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.catalog import (
        GraphCatalog,
    )

    cat = GraphCatalog(spark, str(tmp_path / "gdb"))
    cat.add_graph(
        1, spark.createDataFrame([(i, i + 1) for i in range(1, 60)], "src long, dst long")
    )
    name = f"edges_bfs_bucketed_{uuid.uuid4().hex[:8]}"
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        cat.save_bucketed(name, n_buckets=4)
        # Scoped: force the shuffle-join path a cluster-scale edge
        # table would take (broadcast would hide the exchange question).
        spark.conf.set(key, "-1")
        edges = spark.table(name).where(F.col("graph_id") == 1)
        frontier = spark.createDataFrame([(1, 0)], "v long, level int")
        level_join = (
            frontier.hint("shuffle_hash")
            .join(edges, frontier["v"] == edges["src"])
            .select(edges["dst"].alias("v"), (frontier["level"] + 1).alias("level"))
        )
        plan = _plan(level_join)
        # Exactly ONE exchange: the frontier side.  The edge scan is
        # bucketed on (graph_id, src), so its side must have none.
        assert plan.count("Exchange hashpartitioning") == 1
        assert level_join.count() == 1
    finally:
        spark.conf.set(key, prev)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_nation_volume_broadcasts_dims_one_fact_shuffle(spark):
    df = entry.queries()["q_nation_volume"](spark, SF_DIR)
    plan = _plan(df)
    # nation-filtered supplier/customer dims ride broadcasts; the only
    # sort-merge-eligible join is the lineitem-orders fact-fact one.
    assert "BroadcastHashJoin" in plan
    # ship-date window reaches the lineitem scan
    assert "PushedFilters" in plan
    assert "l_shipdate" in plan.split("PushedFilters", 1)[1][:400]


def test_cust_order_dist_preaggregates_orders(spark):
    df = entry.queries()["q_cust_order_dist"](spark, SF_DIR)
    plan = _plan(df)
    # The aggregation must sit BELOW the join (orders pre-aggregated
    # to (custkey, n) before joining customers): >= 3 HashAggregates
    # (partial + final pre-agg, plus the distribution agg) and a join
    # present.  The JOIN STRATEGY is size-dependent — at fixture scale
    # the (custkey, n) side is tiny and AQE broadcasts it, which is
    # exactly what pre-aggregation buys; at cluster scale it becomes a
    # shuffle join on narrow rows.  Either is acceptable here.
    assert plan.count("HashAggregate") >= 3
    assert "Join" in plan


def test_returned_revenue_topk_and_pushdown(spark):
    df = entry.queries()["q_returned_revenue"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan  # top-k, not global sort
    # return-flag predicate reaches the lineitem scan
    assert "PushedFilters" in plan
    assert "l_returnflag" in plan


def test_order_priority_semi_join_with_pushed_flag(spark):
    # Q4 shape: EXISTS must compile to a semi join (never a row-
    # multiplying inner join + distinct), with the return-flag and
    # date predicates pushed to their scans.
    df = entry.queries()["q_order_priority"](spark, SF_DIR)
    plan = _plan(df)
    assert "LeftSemi" in plan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "o_orderdate" in plan.split("PushedFilters", 1)[1][:400]


def test_disjunctive_rev_pushes_or_predicate_both_sides(spark):
    # Q19 shape: the OR-of-ANDs must split — part-side disjuncts
    # evaluated before the broadcast, and the lineitem scan still
    # receives the quantity disjunction as a pushed Or(...) filter.
    df = entry.queries()["q_disjunctive_rev"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # PushedFilters follow the Location(...lineitem.parquet) marker on
    # the lineitem FileScan line.
    li_scan = plan.split("lineitem.parquet", 1)[1].split("ReadSchema", 1)[0]
    assert "Or(" in li_scan and "l_quantity" in li_scan


def test_big_orders_aggregates_before_joins_with_topk(spark):
    # Q18 shape: the HAVING aggregation must sit BELOW both joins
    # (lineitem collapses to (orderkey, qty) first) and the top-k must
    # be TakeOrderedAndProject.
    df = entry.queries()["q_big_orders"](spark, SF_DIR)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    agg_pos = plan.index("HashAggregate")
    join_pos = plan.index("Join")
    assert join_pos < agg_pos  # joins appear above the agg in the tree


def test_filtered_topk_pushes_label_predicate(spark):
    # Filtered vector search must use the PRE-filter strategy: the
    # label predicate reaches the parquet scan, scoring runs on
    # survivors only.
    df = entry.queries()["q_filtered_topk"](spark, SF_DIR)
    plan = _plan(df)
    assert "In(label, [1,3])" in plan


def test_group_topk_uses_window_group_limit(spark):
    # The per-group rank<=k filter must compile to WindowGroupLimit
    # (per-partition top-k heaps BEFORE the window shuffle), so the
    # exchange carries O(groups*k) rows, not O(rows).
    df = entry.queries()["q_group_topk"](spark, SF_DIR)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan


def test_no_query_plan_has_cartesian_or_row_udf(spark):
    """Engine-wide plan lint over EVERY declared query: no
    CartesianProduct (each crossJoin in the codebase is a broadcast of
    a 1-row aggregate, which compiles to BroadcastNestedLoopJoin — a
    genuine cartesian would mean an unkeyed join slipped in) and no
    BatchEvalPython (a row-at-a-time Python UDF in a hot path; all
    Python boundaries must be Arrow-batched: ArrowEvalPython /
    mapInPandas / FlatMapGroupsInPandas)."""
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dispatch import (
        format_reply,
        run_requests,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.temporal import (
        interval_join,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.graphs import (
        derived_tree_edges,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.sources.tables import (
        load_table,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.ingest import (
        corpus_stats_stream,
        event_rollup_stream,
    )

    def _attrib_twin():
        ev = load_table(spark, SF_DIR, "events")
        purchases = ev.where(F.col("event_type") == "purchase").select(
            "user_id", F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("start"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
        )
        clicks = ev.where(F.col("event_type") == "click").select(
            "user_id", F.col("event_id").alias("click_id"), "ts"
        )
        return interval_join(clicks, purchases, keys=["user_id"])

    def _requests_twin():
        edges = derived_tree_edges(spark, SF_DIR, symmetric=True)
        nation = load_table(spark, SF_DIR, "nation")
        reqs = nation.select(
            (F.col("n_nationkey") + 1).cast("int").alias("seq_no"),
            F.when(F.col("n_nationkey") % 2 == 0, 4).otherwise(3)
            .cast("int").alias("op_no"),
            F.lit("G1.txt").alias("graph_name"),
            (F.col("n_nationkey") + 100).cast("int").alias("start_vertex"),
        )
        return format_reply(run_requests(reqs, edges))

    offenders = {}
    # The eagerly-driven streaming queries return the memory-sink (or
    # accumulated-parquet) RESULT table — linting that would be
    # vacuous and would run a full availableNow job just to read a
    # trivial plan — so each is linted via its batch twin: the same
    # transformation applied to a batch read (which is also the
    # equivalence every one of them is oracle-checked against).
    streaming_twins = {
        "q_stream_rollup": lambda: event_rollup_stream(
            spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        ),
        "q_stream_corpus": lambda: corpus_stats_stream(
            spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
        ),
        "q_stream_attrib": _attrib_twin,
        "q_stream_requests": _requests_twin,
        "q_stream_sessions": lambda: __import__(
            "distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.ingest",
            fromlist=["sessionize_stream"],
        ).sessionize_stream(
            spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
            .withColumn("ts", F.col("ts").cast("timestamp"))
        ),
    }
    for name, fn in entry.queries().items():
        df = streaming_twins[name]() if name in streaming_twins else fn(spark, SF_DIR)
        plan = _plan(df)
        hits = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, f"plan lint failures: {offenders}"


def test_no_query_plan_has_unbounded_global_window(spark):
    """Round-11 verdict #6: every GLOBAL (empty-partition-spec) window
    must be bounded by its child subtree — a limit/top-k, an
    aggregate, or a literal relation below it.  A global window whose
    subtree reaches a data scan with no bounding node serializes the
    whole relation through one task at 100 TB; this lint makes the
    by-construction boundedness argument a checked property."""
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.plans.audit import (
        global_windows,
    )

    offenders = {}
    skip = {
        # eagerly-driven streaming queries: memory-sink result tables
        # (vacuous LocalTableScan plans); their transformations are
        # linted via batch twins in the cartesian/row-udf lint above.
        "q_stream_rollup", "q_stream_corpus", "q_stream_attrib",
        "q_stream_requests", "q_stream_sessions",
    }
    for name, fn in entry.queries().items():
        if name in skip:
            continue
        gws = global_windows(_plan(fn(spark, SF_DIR)))
        bad = [g for g in gws if not g["bounded"]]
        if bad:
            offenders[name] = [g["reason"] for g in bad]
    assert not offenders, f"unbounded global windows: {offenders}"


def test_global_window_guard_flags_the_bad_shape(spark):
    """The guard itself must FIRE on the shape it exists to catch: a
    global rank directly over a raw file scan."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.plans.audit import (
        global_windows,
    )

    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    bad = docs.withColumn("r", F.row_number().over(Window.orderBy("doc_id")))
    gws = global_windows(_plan(bad))
    assert gws and not gws[0]["bounded"], gws
    # ...and stay quiet once a limit bounds the input
    ok = docs.limit(10).withColumn(
        "r", F.row_number().over(Window.orderBy("doc_id"))
    )
    gws_ok = global_windows(_plan(ok))
    assert gws_ok and gws_ok[0]["bounded"], gws_ok


def test_exact_dedup_on_digest_bucketed_table_no_exchange(spark, tmp_path):
    """SCALE.md's dedup layout claim, demonstrated: with the corpus
    saved ``bucketBy(n, text_hash)`` (digest precomputed at ingest),
    the exact-dedup groupBy consumes the table's bucketing — ZERO
    exchanges in the aggregation plan.  At 100 TB this turns every
    digest-keyed dedup pass over a stable corpus into a scan-only job."""
    import uuid

    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(100)], "doc_id long, text string"
    ).withColumn("text_hash", F.md5("text"))
    name = f"docs_digest_bucketed_{uuid.uuid4().hex[:8]}"
    try:
        docs.write.bucketBy(4, "text_hash").saveAsTable(name)
        agg = (
            spark.table(name)
            .groupBy("text_hash")
            .agg(F.count("*").alias("n_dups"), F.min("doc_id").alias("keep_id"))
        )
        plan = _plan(agg)
        assert "Exchange" not in plan
        assert agg.count() == 7
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_sssp_relax_join_no_exchange_on_bucketed_edges(spark, tmp_path):
    """SCALE.md's bucketed-loop claim for the SSSP relaxation
    (graphalgs.sssp): with the weighted edge table saved
    ``bucketBy(n, src)``, the per-round frontier⋈edges relax join
    repartitions only the frontier — the edge side reads
    pre-partitioned with NO Exchange above its scan, so every
    superstep of the loop skips the graph-sized shuffle."""
    import uuid

    from pyspark.sql import functions as F

    name = f"edges_sssp_bucketed_{uuid.uuid4().hex[:8]}"
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.createDataFrame(
            [(i, i + 1, 1 + i % 3) for i in range(1, 80)], "src long, dst long, w long"
        ).write.bucketBy(4, "src").sortBy("src").saveAsTable(name)
        spark.conf.set(key, "-1")
        edges = spark.table(name)
        frontier = spark.createDataFrame([(1, 0)], "v long, d long")
        relax = (
            frontier.hint("shuffle_hash")
            .join(edges, frontier["v"] == edges["src"])
            .select(edges["dst"].alias("v"), (frontier["d"] + edges["w"]).alias("d"))
        )
        plan = _plan(relax)
        assert plan.count("Exchange hashpartitioning") == 1
        assert relax.count() == 1
    finally:
        spark.conf.set(key, prev)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_cc_label_join_no_exchange_on_bucketed_edges(spark, tmp_path):
    """The same proof for connected_components' hash-min round
    (traverse.connected_components): labels⋈edges keyed on the vertex
    consumes the table bucketing (1 exchange: labels side), and the
    full round INCLUDING the min-aggregation on dst plans exactly 2
    exchanges — labels repartition + the unavoidable dst-keyed agg —
    never a third for the edge scan."""
    import uuid

    from pyspark.sql import functions as F

    name = f"edges_cc_bucketed_{uuid.uuid4().hex[:8]}"
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    try:
        spark.createDataFrame(
            [(i, i + 1) for i in range(1, 80)], "src long, dst long"
        ).write.bucketBy(4, "src").sortBy("src").saveAsTable(name)
        spark.conf.set(key, "-1")
        e = spark.table(name)
        labels = spark.createDataFrame(
            [(i, i) for i in range(1, 10)], "vertex long, component long"
        )
        nbr_min = (
            labels.hint("shuffle_hash")
            .join(e, labels["vertex"] == e["src"])
            .groupBy(e["dst"].alias("vertex"))
            .agg(F.min("component").alias("nbr_component"))
        )
        plan = _plan(nbr_min)
        assert plan.count("Exchange hashpartitioning") == 2
        assert nbr_min.count() == 9
    finally:
        spark.conf.set(key, prev)
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_declared_bucketed_table_query_plans_zero_exchanges(spark):
    """The DECLARED q_bucketed_table query (not just the synthetic
    layout demo above): its dedup aggregation must consume the
    published table's text_hash bucketing — zero exchanges anywhere in
    the plan."""
    df = entry.queries()["q_bucketed_table"](spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange hashpartitioning" not in plan
    assert df.count() > 0


def test_forecast_rev_all_predicates_pushed_no_join(spark):
    """Q6's entire value is the plan: no joins anywhere, and the
    ship-date/discount/quantity predicates all reach the lineitem
    scan as pushed filters over a 3-column ReadSchema."""
    df = entry.queries()["q_forecast_rev"](spark, SF_DIR)
    plan = _plan(df)
    assert "Join" not in plan
    pushed = plan.split("PushedFilters", 1)[1][:400]
    assert "l_shipdate" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema", 1)[1][:300]
    assert "l_orderkey" not in read_schema and "l_partkey" not in read_schema


def test_small_qty_rev_broadcasts_brand_and_preaggregates(spark):
    """Q17 shape: the brand dim must broadcast, and the decorrelated
    per-part average must sit BELOW the final join (>= 2 aggregates:
    the per-part pre-agg pair plus the final sum)."""
    df = entry.queries()["q_small_qty_rev"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 3
    assert df.count() == 1


def test_bfs_order_rank_windows_are_all_bounded(spark):
    """Round-5 verdict #3: the in-level rank must NOT be a window
    partitioned by `level` alone — a single BFS level can hold most of
    a real graph's vertices, making that one task sort billions of
    rows at 100x scale.  The two-pass decomposition partitions every
    full-row row_number window by (level, _blk); the only windows
    without _blk run over per-level COUNT rows (depth-bounded
    metadata).  Values are unchanged — pinned against the naive
    global rank on a fixture with one wide level."""
    from pyspark.sql import functions as F

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.traverse import (
        bfs_level_order,
    )

    # Star-plus-tail fixture: level 1 holds 500 of the 503 vertices
    # (the "one wide level" shape the old plan serialized).
    pairs = [(0, v) for v in range(1, 501)] + [(77, 1000), (1000, 2000)]
    edges = spark.createDataFrame(
        [(1, s, d) for s, d in pairs] + [(1, d, s) for s, d in pairs],
        "graph_id int, src long, dst long",
    )
    got = bfs_level_order(edges, 0, graph_id=1)
    plan = _plan(got)
    # Every row_number window spec must include the _blk block key.
    specs = plan.split("row_number()")[1:]
    assert specs, "expected a row_number window in the plan"
    for spec in specs:
        ws = spec.split("windowspecdefinition(", 1)[1][:200]
        assert "_blk" in ws, f"row_number window partitioned without _blk: {ws}"
    # Value contract: identical to the naive global (level, vertex) rank.
    rows = sorted(
        ((r["level"], r["vertex"]), r["pos"]) for r in got.collect()
    )
    assert [p for (_, p) in rows] == list(range(1, len(rows) + 1))
    assert len(rows) == 503


def test_pq_scoring_is_code_only_jvm_with_topk(spark):
    """PQ ADC contract: ONE Arrow batch pass (the encode UDF) and a
    TakeOrderedAndProject top-k; the scoring itself is LUT-literal
    JVM codegen — no row-at-a-time Python, no cartesian, no second
    Python pass, no global sort."""
    # Exactly ONE ArrowEvalPython each: without the asNondeterministic
    # marker on the IVF-PQ encode UDF, Catalyst pushes the probe-cell
    # filter below the code projection and extracts a second
    # evaluation — the encode would run twice per row.  Pinned on the
    # OPERATOR build plans directly: the declared queries return a
    # persisted materialization, whose InMemoryRelation plan text
    # duplicates the cached tree.
    import os as _os

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        ivf_pq_topk,
        pq_topk,
    )

    emb = spark.read.parquet(_os.path.join(SF_DIR, "embeddings.parquet"))
    qvec = [
        float(x)
        for x in emb.where(emb["vec_id"] == 0).first()["embedding"]
    ]
    # k=9, not the declared k=10: the declared queries persist their
    # k=10 builds, and Spark's CacheManager substitutes ANY
    # canonically-equal plan with the InMemoryRelation (whose printed
    # text duplicates the tree) — a non-matching k pins the raw build
    # plan regardless of test order.
    builds = {
        "pq_topk": pq_topk(emb, qvec, 9, m=16, n_codes=128),
        "ivf_pq_topk": ivf_pq_topk(emb, qvec, 9, n_codes=128),
    }
    for name, df in builds.items():
        plan = _plan(df)
        assert plan.count("ArrowEvalPython") == 1, name
        assert "BatchEvalPython" not in plan, name
        assert "CartesianProduct" not in plan, name
        assert "TakeOrderedAndProject" in plan, name


def test_pq_plan_size_constant_in_codebook_size(spark):
    """Round-6 verdict #5: ADC LUTs must ride as broadcast-relation
    DATA, not as 2*m*n_codes float literals in the expression tree —
    the literal form is a Catalyst plan-size / codegen cliff at
    production codebook sizes.  Pin it structurally: growing n_codes
    8x must leave the plan TEXT essentially unchanged (the LUT values
    live in the broadcast row, which the plan prints by schema, not
    by value), and the LUT arrives via a broadcast join."""
    import os as _os

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.similarity import (
        ivf_pq_topk,
        pq_topk,
    )

    emb = spark.read.parquet(_os.path.join(SF_DIR, "embeddings.parquet"))
    qvec = [float(x) for x in emb.where(emb["vec_id"] == 0).first()["embedding"]]
    for build in (
        lambda n: pq_topk(emb, qvec, 9, m=16, n_codes=n),
        lambda n: ivf_pq_topk(emb, qvec, 9, m=16, n_codes=n),
    ):
        small, large = _plan(build(16)), _plan(build(128))
        # identical modulo plan-id noise: an 8x codebook may not grow
        # the plan text more than a few percent (literals would 8x it)
        assert len(large) < len(small) * 1.10, (len(small), len(large))
        assert "BroadcastExchange" in large
        # scoring reads only the code column + broadcast LUT row: no
        # embedding column in any projection above the encode UDF
        assert large.count("ArrowEvalPython") == 1


def test_ann_batch_one_scan_window_group_limit(spark):
    # Batched retrieval contract: the per-query top-k must compile to
    # WindowGroupLimit (partial per-partition top-k per query), the
    # query set must ride a broadcast — and the corpus must be
    # scanned ONCE, never once per query.
    df = entry.queries()["q_ann_batch"](spark, SF_DIR)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("embeddings.parquet") <= 2  # corpus scan + query-set scan


def test_range_search_is_pure_predicate_no_exchange(spark):
    # Radius search is a scan-side filter: no aggregation, no window,
    # no shuffle — the only non-scan operator is the broadcast of the
    # tiny query batch.
    df = entry.queries()["q_range_search"](spark, SF_DIR)
    plan = _plan(df)
    assert "Exchange hashpartitioning" not in plan
    assert "Window" not in plan


def test_bm25_single_token_pass_topk(spark):
    # All term tfs must come from ONE conditional aggregation over the
    # exploded tokens (no per-term scan), the corpus-stats branch must
    # REUSE the per-doc exchange (so the corpus is physically scanned
    # once, not once per consumer), and the top-k must be
    # TakeOrderedAndProject.
    df = entry.queries()["q_bm25"](spark, SF_DIR)
    df.collect()  # ReuseExchange is visible in the final adaptive plan
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "ReusedExchange" in plan
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_zorder_value_is_codegen_arithmetic(spark):
    # The Morton interleave must stay in whole-stage codegen (pure
    # integer arithmetic, no Python, no expensive fallback), and the
    # rollup must be a single hash aggregate pair around one exchange.
    df = entry.queries()["q_zorder"](spark, SF_DIR)
    df.collect()  # codegen stars are visible in the final adaptive plan
    plan = _plan(df)
    # "*(n)" prefixes mark whole-stage-codegen spans in the plan string;
    # the scan-side project computing the interleave must carry one.
    assert "*(1) HashAggregate" in plan or "*(1) Project" in plan
    assert "BatchEvalPython" not in plan
    # The executed-plan string prints Final AND Initial plans; count
    # exchanges in the final section only.
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_compaction_window_is_partitioned_by_source(spark):
    # The running-sum window must be keyed on the source directory —
    # a global (empty-key) window would serialize the whole table
    # through one task at scale.
    df = entry.queries()["q_compaction"](spark, SF_DIR)
    plan = _plan(df)
    assert "Window" in plan
    import re

    w = re.search(r"Window \[.*?windowspecdefinition\((.*?)\)", plan)
    assert w is not None and "source" in w.group(1)


def test_transitions_window_keyed_on_user_and_totals_broadcast(spark):
    # The LEAD window must be keyed on user_id (bounded rows per key —
    # never a bounded-cardinality key carrying unbounded rows), and
    # the row-totals join must broadcast the tiny aggregate.
    df = entry.queries()["q_transitions"](spark, SF_DIR)
    plan = _plan(df)
    import re

    w = re.search(r"windowspecdefinition\((.*?)\)", plan)
    assert w is not None and "user_id" in w.group(1)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_skyline_broadcasts_and_never_self_joins_the_fact(spark):
    # Two-phase skyline: dominance pruning and the fact re-join must
    # both be broadcast (candidates are dimension-sized); the naive
    # all-pairs dominance join would show a fact-side SortMergeJoin or
    # a CartesianProduct.
    df = entry.queries()["q_skyline"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 1
    assert "BroadcastNestedLoopJoin" in plan or plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_trailing_spend_range_frame_keyed_on_custkey(spark):
    # RANGE frame (value-based), keyed on o_custkey; the frame bound
    # must appear as a RANGE specification, not ROWS.
    df = entry.queries()["q_trailing_spend"](spark, SF_DIR)
    plan = _plan(df)
    import re

    w = re.search(r"windowspecdefinition\((.*?)\)", plan)
    assert w is not None and "o_custkey" in w.group(1)
    assert "RANGE" in plan.upper()


def test_grouping_sets_single_exchange(spark):
    # All three grouping sets expand below ONE map-side-combined
    # shuffle — a plan with one exchange per set would triple-scan.
    df = entry.queries()["q_grouping_sets"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Expand" in plan


def test_cube_single_exchange_with_expand(spark):
    # CUBE's four grains expand BEFORE one map-side-combined shuffle
    # (the q_grouping_sets contract extended to the power set).
    df = entry.queries()["q_cube"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Expand" in plan


def test_edit_dedup_no_cartesian_no_row_udf(spark):
    # Blocking must keep the similarity self-join out of product
    # space, and the levenshtein verify must stay JVM-side.
    df = entry.queries()["q_edit_dedup"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "levenshtein" in plan


def test_deciles_population_count_is_broadcast(spark):
    # The one-row population count joins as a broadcast, never a
    # shuffle; no single-partition data window (the rank comes from
    # blocked_global_rank's bounded windows).
    df = entry.queries()["q_deciles"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_heavy_hitters_sketch_lookups_are_broadcast(spark):
    # All four per-row cell lookups and the totals row join as
    # broadcasts — the prune is map-side, no pre-aggregation shuffle
    # of the raw rows before the candidate filter.
    df = entry.queries()["q_heavy_hitters"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_time_travel_versions_are_broadcast(spark):
    # The bounded version list must broadcast against the event log.
    df = entry.queries()["q_time_travel"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_assortativity_single_row_no_window(spark):
    # Degree stamping is two hash joins + one global aggregate; no
    # window, no cartesian, output is one row.
    df = entry.queries()["q_assortativity"](spark, SF_DIR)
    plan = _plan(df)
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_also_bought_window_group_limit_caps_per_src(spark):
    # The k-cutoff must push into the sort (WindowGroupLimit) so no
    # vertex materializes more than its edge list.
    df = entry.queries()["q_also_bought"](spark, SF_DIR)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_column_profile_is_one_scan_with_expand(spark):
    # The multi-distinct must compile to a single Expand over ONE
    # parquet scan — n_cols passes over in-memory rows, never n_cols
    # scans of the table.
    df = entry.queries()["q_profile"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_integrity_audit_broadcasts_dim_parents(spark):
    # customer/part/nation parents broadcast into the left-anti
    # joins; only lineitem->orders may shuffle.
    df = entry.queries()["q_integrity_audit"](spark, SF_DIR)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan


def test_knn_graph_no_cartesian_and_bucket_window_blocks(spark):
    # LSH blocking must keep the pair generation an equi join on
    # (table, sig) — an all-pairs cross join is the failure mode.
    df = entry.queries()["q_knn_graph"](spark, SF_DIR)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan  # per-source top-k cutoff


def test_winsorize_thresholds_ride_a_broadcast(spark):
    # The p5/p95 row must come back as a broadcast over the clamp
    # scan, never a shuffle of the fact against a 1-row side.
    df = entry.queries()["q_winsorize"](spark, SF_DIR)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_new_users_window_partitioned_by_type(spark):
    # The running sum must be partitioned by event_type — a global
    # unpartitioned window over day rows is the bounded-but-weaker
    # fallback this query deliberately avoids.
    import re

    df = entry.queries()["q_new_users"](spark, SF_DIR)
    plan = _plan(df)
    # The Window operator prints "[<frame exprs>], [<partition exprs>],
    # [<order exprs>]" — the partition list must be event_type.
    w = re.search(r"Window \[sum\(new_users#\d+L?\)[^\]]*\], \[(\w+)#", plan)
    assert w is not None and w.group(1) == "event_type", plan
