"""Tests for the Structured Streaming request loop and the planner
layer."""

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F

from conftest import SIO_G1, make_edges
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dispatch import (
    run_requests,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.plans.planner import (
    explain_requests,
    plan_request,
)
from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming import (
    read_request_stream,
    request_load,
    route_stream,
    run_request_stream,
    running_route_totals,
)

# Request rows: G1 of the Sample-IO doc; op 3 from 1 -> leaves {3, 5},
# op 4 from 1 -> levels 0:{1} 1:{2} 2:{3,4} 3:{5}.
REQS = [
    {"seq_no": 1, "op_no": 3, "graph_name": "G1.txt", "start_vertex": 1,
     "event_time": "2026-08-13T10:00:01"},
    {"seq_no": 2, "op_no": 4, "graph_name": "G1.txt", "start_vertex": 1,
     "event_time": "2026-08-13T10:00:02"},
    {"seq_no": 3, "op_no": 1, "graph_name": "G2.txt", "start_vertex": None,
     "event_time": "2026-08-13T10:00:12"},
    {"seq_no": 4, "op_no": 4, "graph_name": "G1.txt", "start_vertex": 2,
     "event_time": "2026-08-13T10:00:13"},
]


@pytest.fixture()
def request_dir(tmp_path):
    d = tmp_path / "queue"
    d.mkdir()
    # Two files = two ingestable chunks.
    (d / "batch0.json").write_text("\n".join(json.dumps(r) for r in REQS[:2]))
    (d / "batch1.json").write_text("\n".join(json.dumps(r) for r in REQS[2:]))
    return str(d)


def test_route_stream_is_streaming_and_matches_batch(spark, request_dir):
    stream = route_stream(read_request_stream(spark, request_dir))
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("routed")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r["seq_no"]: r["route"] for r in spark.table("routed").collect()}
    # op 1 -> primary; reads: even seq -> ss1, odd -> ss2.
    assert got == {1: "ss2", 2: "ss1", 3: "primary", 4: "ss1"}


def test_request_load_windowed_counts(spark, request_dir):
    stream = request_load(
        read_request_stream(spark, request_dir),
        window_duration="10 seconds",
        watermark="30 seconds",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("load_by_window")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("load_by_window").collect()
    by_key = {
        (r["window"]["start"].second, r["route"]): r["n_requests"] for r in rows
    }
    # 10:00:00-10 window: seq 1 (ss2), seq 2 (ss1); 10:00:10-20: seq 3
    # (primary), seq 4 (ss1).
    assert by_key == {(0, "ss2"): 1, (0, "ss1"): 1, (10, "primary"): 1, (10, "ss1"): 1}


def test_run_request_stream_matches_batch_dispatch(spark, request_dir, tmp_path):
    edges = make_edges(spark, SIO_G1)
    collected = []

    def sink(df, batch_id):
        collected.extend(df.collect())

    q = run_request_stream(
        read_request_stream(spark, request_dir),
        edges,
        sink,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)

    batch_reqs = spark.createDataFrame(
        [(r["seq_no"], r["op_no"], r["graph_name"], r["start_vertex"]) for r in REQS],
        "seq_no int, op_no int, graph_name string, start_vertex int",
    )
    expected = {
        (r["seq_no"], r["vertex"], r["level"])
        for r in run_requests(batch_reqs, edges).collect()
    }
    got = {(r["seq_no"], r["vertex"], r["level"]) for r in collected}
    assert got == expected
    # Spot-check reference golden outputs: DFS(1) leaves {3,5}; BFS(1)
    # levels: vertex 5 at level 3.
    assert {(v) for (s, v, l) in got if s == 1} == {3, 5}
    assert (2, 5, 3) in got


def test_serve_requests_available_now_equals_batch(spark):
    # The full streamed lifecycle (queue files -> scheduled drain
    # cycles -> dispatch -> accumulated replies) must equal the
    # one-shot batch dispatch row-for-row, for any cycle split — the
    # contract the declared q_stream_requests puts under the oracle.
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dispatch import (
        format_reply,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming import (
        serve_requests_available_now,
    )

    sio = make_edges(spark, SIO_G1)
    sio_reqs = spark.createDataFrame(
        [(1, 3, "G1.txt", 1), (2, 4, "G1.txt", 1), (3, 4, "G1.txt", 2),
         (4, 3, "G1.txt", 2), (5, 4, "G1.txt", 5)],
        "seq_no int, op_no int, graph_name string, start_vertex int",
    )
    # Two graphs in one edge table, requests keyed by graph_id: G1 =
    # path 1-2-3, G2 = star at 1.  Each reply reads its own graph only
    # (BFS of G1 from 1 is "1 2 3", not the union's "1 2 3 4").
    two = make_edges(spark, [(1, 2), (2, 3)], graph_id=1).unionByName(
        make_edges(spark, [(1, 2), (1, 3), (1, 4)], graph_id=2)
    )
    two_reqs = spark.createDataFrame(
        [(1, 4, "G1.txt", 1, 1), (2, 3, "G1.txt", 1, 1),
         (3, 4, "G2.txt", 2, 2), (4, 3, "G2.txt", 1, 2)],
        "seq_no int, op_no int, graph_name string, start_vertex int, graph_id int",
    )
    cases = [
        # Sample-IO G1 golden outputs: DFS(1) -> 3 5; BFS(1) level order.
        (sio, sio_reqs, {1: "3 5", 2: "1 2 3 4 5"}),
        (two, two_reqs, {1: "1 2 3", 2: "3", 3: "2 1 3 4", 4: "2 3 4"}),
    ]
    for edges, reqs, golden in cases:
        for n_cycles in (1, 3):
            served = serve_requests_available_now(spark, reqs, edges, n_cycles=n_cycles)
            got = {
                (r["seq_no"], r["vertex"], r["level"]) for r in served.collect()
            }
            want = {
                (r["seq_no"], r["vertex"], r["level"])
                for r in run_requests(reqs, edges).collect()
            }
            assert got == want
        replies = {r["seq_no"]: r["reply"] for r in format_reply(served).collect()}
        for seq, reply in golden.items():
            assert replies[seq] == reply


def test_running_route_totals_stateful(spark, request_dir):
    stream = running_route_totals(read_request_stream(spark, request_dir))
    collected = []
    q = (
        stream.writeStream.foreachBatch(lambda df, bid: collected.extend(df.collect()))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    finals = {}
    for r in collected:
        finals[r["route"]] = max(finals.get(r["route"], 0), r["n_total"])
    assert finals == {"ss1": 2, "ss2": 1, "primary": 1}


# --- planner ---


def test_plan_request_rules():
    assert plan_request(3).rule == "R1"  # tree fast path is default
    assert plan_request(3, assume_tree=False).rule == "R2"
    assert plan_request(4).rule == "R2"
    assert plan_request(1).rule == "R3" and plan_request(2).rule == "R3"
    with pytest.raises(ValueError):
        plan_request(5)
    text = plan_request(3).explain()
    assert "degree-aggregation" in text and "R1" in text


def test_explain_requests_tags_all_ops(spark):
    reqs = spark.createDataFrame(
        [(i, i % 4 + 1, f"G{i}.txt", 1) for i in range(8)],
        "seq_no int, op_no int, graph_name string, start_vertex int",
    )
    tagged = {r["op_no"]: r["strategy"] for r in explain_requests(reqs).collect()}
    assert tagged[1] == "partition-append (errorifexists)"
    assert tagged[3] == "degree-aggregation"
    assert "frontier" in tagged[4]


def test_run_requests_non_tree_path_agrees_on_tree(spark):
    edges = make_edges(spark, SIO_G1)
    reqs = spark.createDataFrame(
        [(1, 3, "G1.txt", 2)], "seq_no int, op_no int, graph_name string, start_vertex int"
    )
    fast = {r["vertex"] for r in run_requests(reqs, edges).collect()}
    general = {r["vertex"] for r in run_requests(reqs, edges, assume_tree=False).collect()}
    assert fast == general == {1, 3, 5}  # Sample-IO: DFS from 2 -> 1 3 5


# --- streaming document ingestion (training-data pipeline twin) ---

from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming import (  # noqa: E402
    corpus_stream_stats,
    dedup_document_stream,
    read_document_stream,
)

DOCS = [
    {"doc_id": 1, "text": "alpha beta gamma", "lang": "en", "source": "web",
     "event_time": "2026-08-13T10:00:01"},
    {"doc_id": 2, "text": "uno dos tres", "lang": "es", "source": "web",
     "event_time": "2026-08-13T10:00:02"},
    # Same text as doc 1, same ingest cycle: in-batch duplicate.
    {"doc_id": 3, "text": "alpha beta gamma", "lang": "en", "source": "crawl",
     "event_time": "2026-08-13T10:00:03"},
    # Same text as doc 1, LATER ingest cycle: cross-batch duplicate —
    # only state carried between micro-batches can drop it.
    {"doc_id": 4, "text": "alpha beta gamma", "lang": "en", "source": "crawl",
     "event_time": "2026-08-13T10:00:11"},
    {"doc_id": 5, "text": "delta epsilon", "lang": "en", "source": "web",
     "event_time": "2026-08-13T10:00:12"},
]


@pytest.fixture()
def corpus_dir(tmp_path):
    d = tmp_path / "corpus"
    d.mkdir()
    b0, b1 = d / "batch0.json", d / "batch1.json"
    b0.write_text("\n".join(json.dumps(r) for r in DOCS[:3]))
    b1.write_text("\n".join(json.dumps(r) for r in DOCS[3:]))
    # The file source orders micro-batches by modification time; make
    # the order deterministic (batch0 strictly first).
    now = os.stat(b1).st_mtime
    os.utime(b0, (now - 60, now - 60))
    return str(d)


def test_dedup_document_stream_drops_cross_batch_duplicates(spark, corpus_dir):
    stream = dedup_document_stream(
        read_document_stream(spark, corpus_dir, max_files_per_trigger=1),
        watermark="1 hour",
    )
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("deduped_docs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = {r["doc_id"] for r in spark.table("deduped_docs").collect()}
    # Exactly one of the batch-0 in-batch duplicates {1, 3} survives
    # (which one is unspecified within a micro-batch); doc 4 — the
    # SAME text arriving in the NEXT micro-batch — must be dropped by
    # state carried across batches; unique docs 2 and 5 survive.
    assert len(kept & {1, 3}) == 1
    assert 4 not in kept
    assert {2, 5} <= kept
    assert len(kept) == 3


def test_corpus_stream_stats_windows(spark, corpus_dir):
    stream = corpus_stream_stats(
        read_document_stream(spark, corpus_dir),
        window_duration="10 seconds",
        watermark="30 seconds",
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("corpus_load")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {
        (r["window"].start.second, r["lang"]): (r["n_docs"], r["total_tokens"])
        for r in spark.table("corpus_load").collect()
    }
    # Window [10:00:00, 10:00:10): docs 1,3 en (3 tokens each), doc 2 es.
    assert rows[(0, "en")] == (2, 6)
    assert rows[(0, "es")] == (1, 3)
    # Window [10:00:10, 10:00:20): docs 4,5 en.
    assert rows[(10, "en")] == (2, 5)


def test_sessionize_stream_matches_batch(spark, tmp_path):
    import datetime

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.relational import (
        sessionize_events,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.ingest import (
        read_event_stream,
        sessionize_stream,
    )

    t0 = datetime.datetime(2026, 1, 1, 0, 0, 0)
    mins = lambda m: (t0 + datetime.timedelta(minutes=m)).isoformat()
    events = [
        {"event_id": 1, "ts": mins(0), "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": mins(10), "user_id": 7, "event_type": "view", "value": 2.0, "props": "{}"},
        {"event_id": 3, "ts": mins(50), "user_id": 7, "event_type": "click", "value": 3.0, "props": "{}"},
        {"event_id": 4, "ts": mins(55), "user_id": 8, "event_type": "click", "value": 4.0, "props": "{}"},
    ]
    d = tmp_path / "events"
    d.mkdir()
    (d / "batch0.json").write_text("\n".join(json.dumps(r) for r in events))

    stream = sessionize_stream(read_event_stream(spark, str(d)), gap="30 minutes")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in spark.table("stream_sessions").collect()
    }

    batch = sessionize_events(
        spark.createDataFrame(
            [(r["event_id"], datetime.datetime.fromisoformat(r["ts"]), r["user_id"],
              r["event_type"], r["value"], r["props"]) for r in events],
            "event_id long, ts timestamp, user_id long, event_type string,"
            "value double, props string",
        ),
        gap_minutes=30,
    ).collect()
    want = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in batch
    }
    # session_window's start == first event ts == batch session_start;
    # n_events/total_value must agree session by session.
    assert got == want and len(got) == 3


def test_attribution_stream_matches_batch_interval_join(spark, tmp_path):
    import datetime

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.temporal import (
        interval_join,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.ingest import (
        attribution_stream,
        read_event_stream,
    )

    t0 = datetime.datetime(2026, 1, 1, 12, 0, 0)
    mins = lambda m: (t0 + datetime.timedelta(minutes=m)).isoformat()
    rows = [
        {"event_id": 1, "ts": mins(0), "user_id": 7, "event_type": "purchase", "value": 9.0, "props": "{}"},
        {"event_id": 2, "ts": mins(30), "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": mins(119), "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 4, "ts": mins(120), "user_id": 7, "event_type": "click", "value": 1.0, "props": "{}"},  # == end: out
        {"event_id": 5, "ts": mins(30), "user_id": 8, "event_type": "click", "value": 1.0, "props": "{}"},   # other user
        {"event_id": 6, "ts": mins(600), "user_id": 9, "event_type": "click", "value": 1.0, "props": "{}"},  # watermark mover
    ]
    d = tmp_path / "attr_events"
    d.mkdir()
    (d / "b0.json").write_text("\n".join(json.dumps(r) for r in rows))

    stream = attribution_stream(read_event_stream(spark, str(d)), window="2 hours")
    assert stream.isStreaming
    q = (
        stream.writeStream.format("memory")
        .queryName("stream_attr")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.table("stream_attr").collect()
    }
    assert got == {(1, 2), (1, 3)}

    # batch twin over the same rows via interval_join
    ev = spark.createDataFrame(
        [(r["event_id"], datetime.datetime.fromisoformat(r["ts"]), r["user_id"],
          r["event_type"], r["value"], r["props"]) for r in rows],
        "event_id long, ts timestamp, user_id long, event_type string,"
        "value double, props string",
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    batch = {
        (r["purchase_id"], r["click_id"])
        for r in interval_join(clicks, purchases, keys=["user_id"]).collect()
    }
    assert batch == got


def test_event_rollup_stream_equals_batch_groupby(spark):
    # The availableNow-driven rollup must equal the batch GROUP BY
    # exactly — integer/decimal aggregates are order- and
    # batch-boundary-independent (this is what lets the declared
    # q_stream_rollup carry a full value oracle).
    import os

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.ingest import (
        run_event_rollup_batch,
    )

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    streamed = {
        (r["day"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in run_event_rollup_batch(
            spark, os.path.join(sf_dir, "events.parquet")
        ).collect()
    }
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    batch = {
        (r["day"], r["event_type"]): (r["n"], r["tv"])
        for r in ev.groupBy(
            F.to_date("ts").alias("day"), "event_type"
        )
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4).alias("tv"),
        )
        .collect()
    }
    assert streamed == batch


def test_enrich_stream_static_join_equals_batch(spark):
    # Stream-static broadcast join: the streamed purchases enriched
    # with the batch signup dim must equal the batch join + GROUP BY
    # exactly (stateless join, integer/decimal aggregates).
    import os

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.ingest import (
        run_enrich_batch,
    )

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    path = os.path.join(sf_dir, "events.parquet")
    streamed = {
        r["week_offset"]: (r["n_purchases"], r["total_value"])
        for r in run_enrich_batch(spark, path).collect()
    }
    ev = spark.read.parquet(path)
    signup = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    batch = {
        r["w"]: (r["n"], r["tv"])
        for r in ev.where(F.col("event_type") == "purchase")
        .join(signup, "user_id")
        .where(F.col("ts") >= F.col("t0"))
        .groupBy(F.expr("CAST(datediff(ts, t0) DIV 7 AS INT)").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("tv"),
        )
        .collect()
    }
    assert streamed == batch


def test_event_rollup_stream_timezone_independent(spark):
    # The testdata parquet stores zone-free micros (batch reads them as
    # TIMESTAMP_NTZ); the stream source must declare the same NTZ
    # schema, or the day labels shift with the session timezone and
    # diverge from the timezone-free SQL oracle on non-UTC hosts.
    import os

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming.ingest import (
        run_event_rollup_batch,
    )

    sf_dir = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_dir):
        pytest.skip("driver testdata not present")
    path = os.path.join(sf_dir, "events.parquet")
    ev = spark.read.parquet(path)
    batch = {
        (r["day"], r["event_type"]): r["n"]
        for r in ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    }
    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    try:
        # A UTC+14 zone maximizes the day-boundary shift an LTZ
        # misread would produce.
        spark.conf.set(key, "Pacific/Kiritimati")
        streamed = {
            (r["day"], r["event_type"]): r["n_events"]
            for r in run_event_rollup_batch(spark, path).collect()
        }
    finally:
        spark.conf.set(key, prev)
    assert streamed == batch


def test_run_dedup_batch_digest_set_equals_batch_keepers(spark, tmp_path):
    """run_dedup_batch (the q_stream_dedup driver): the streamed
    first-seen dedup's surviving DIGEST SET must equal batch
    exact_dedup's keeper hashes — the micro-batch-order-invariant
    contract the value oracle checks."""
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators.dedup import (
        exact_dedup,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming import (
        run_dedup_batch,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma", "en", "web", 16),
            (2, "uno dos tres", "es", "web", 12),
            (3, "alpha beta gamma", "en", "crawl", 16),
            (4, "alpha beta gamma", "en", "crawl", 16),
            (5, "delta epsilon", "en", "web", 13),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    path = str(tmp_path / "docs.parquet")
    docs.write.parquet(path)
    streamed = {r["text_hash"] for r in run_dedup_batch(spark, path).collect()}
    batch = {r["text_hash"] for r in exact_dedup(docs).select("text_hash").collect()}
    assert streamed == batch
    assert len(streamed) == 3


def test_stream_temp_dirs_removed_at_release_and_exit(spark, tmp_path):
    """The streaming drivers' temporary directories: the next call
    still reaps the previous drive's, the release sweep removes the
    last one, and a process that ends removes what it staged."""
    import subprocess
    import sys

    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.operators import (
        persists,
    )
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.streaming import (
        ingest,
    )

    src = tmp_path / "t.json"
    src.write_text("{}\n")
    code = (
        "from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark"
        ".streaming.ingest import _stream_source_dir\n"
        "import os\n"
        f"d = _stream_source_dir({str(src)!r})\n"
        "print(os.path.isdir(d), d)\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", code], cwd=repo, capture_output=True, text=True, check=True)
    existed, staged = out.stdout.split()
    assert existed == "True" and not os.path.exists(staged)

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert ingest.run_edge_ingest_batch(spark, pairs).count() == 4
    first = ingest._EDGE_INGEST_DIRS[-1]
    ingest.run_edge_ingest_batch(spark, pairs).count()
    last = ingest._EDGE_INGEST_DIRS[-1]
    assert not os.path.exists(first) and os.path.isdir(last)
    persists.release_operator_persists()
    assert not os.path.exists(last)
