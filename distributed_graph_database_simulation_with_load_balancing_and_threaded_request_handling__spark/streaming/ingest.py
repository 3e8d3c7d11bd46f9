"""Streaming document ingestion for the training-data pipeline:
exact dedup ON ARRIVAL and per-language windowed corpus statistics.

This is the streaming twin of the batch extension operators
(operators/dedup.exact_dedup, operators/textops.corpus_stats): a
continuously-fed corpus directory is the source, each micro-batch is
one ingest cycle, and duplicates are dropped incrementally so
downstream training-data consumers only ever see first occurrences.

Extension beyond the reference (its only long-running loop is the
request server, load_balancer.c:47); same Structured-Streaming posture
as streaming/requests.py.

Scale posture: the dedup state store holds one 32-char digest per
distinct document seen within the watermark horizon — NOT the text —
and ``dropDuplicatesWithinWatermark`` evicts state older than the
watermark, so state is bounded by arrival rate x horizon regardless of
total corpus size.  The windowed rollup's state is keyed
(window, lang) — dozens of rows.  Both are standard streaming shapes
that run identically on a 1000-executor cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from ..functions.textfns import token_count
from ..operators.persists import tracked_tmpdir

# The documents-table columns (FIXTURES.md) plus the arrival timestamp
# a stream needs for watermarks/windows.
DOCUMENT_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("event_time", TimestampType(), True),
    ]
)


def read_document_stream(
    spark: SparkSession,
    path: str,
    *,
    fmt: str = "json",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source corpus feed: every file dropped under ``path`` is a
    batch of crawled/ingested documents.  ``maxFilesPerTrigger`` bounds
    the ingest-cycle size."""
    reader = spark.readStream.schema(DOCUMENT_STREAM_SCHEMA).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def dedup_document_stream(
    documents: DataFrame, *, watermark: str = "1 hour"
) -> DataFrame:
    """Incremental exact dedup: emit a document iff its text digest has
    not been seen within the watermark horizon — the streaming form of
    ``exact_dedup``'s keep-list (first occurrence wins, here by arrival
    rather than by min doc_id).

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``)
    keys the state store on the md5 digest and EVICTS entries older
    than the watermark, so dedup state cannot grow without bound on an
    infinite stream.  The shuffle key and state key are the digest —
    text never enters the state store.
    """
    return (
        documents.withColumn("text_hash", F.md5(F.col("text")))
        .withWatermark("event_time", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )


def corpus_stream_stats(
    documents: DataFrame,
    *,
    window_duration: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Per-language corpus rollup over event-time windows with
    late-data tolerance — the streaming twin of
    ``textops.corpus_stats``.  Watermark finalizes and drops windows
    older than the horizon from the state store."""
    t = F.col("text")
    return (
        documents.withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_duration).alias("window"),
                 F.col("lang"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(F.length(t)).cast("long").alias("total_chars"),
            F.sum(token_count(t)).cast("long").alias("total_tokens"),
        )
    )


EVENT_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


# The events table exactly as the testdata parquet lays it out: the
# file stores plain micros with no zone (isAdjustedToUTC=false), which
# the BATCH reader surfaces as TIMESTAMP_NTZ (relational.py's
# timestamp_diff rationale).  The parquet STREAM source must declare
# the same — reading those micros through an LTZ TimestampType would
# reinterpret them in the session timezone and shift every
# window/to_date boundary off the (timezone-free) oracle on any
# non-UTC host.  The LTZ EVENT_STREAM_SCHEMA above stays for JSON
# feeds, where the wire format carries zoned instants.
EVENT_TABLE_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), True),
        StructField("ts", TimestampNTZType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
        StructField("props", StringType(), True),
    ]
)


def read_event_stream(spark: SparkSession, path: str, *, fmt: str = "json") -> DataFrame:
    """File-source event feed (schema of the batch ``events`` table)."""
    return spark.readStream.schema(EVENT_STREAM_SCHEMA).format(fmt).load(path)


def sessionize_stream(
    events: DataFrame, *, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Streaming gap-sessionization: ``session_window`` merges events
    separated by less than ``gap`` into one growing window per user —
    the streaming twin of ``relational.sessionize_events`` (same
    grouping semantics; a session's window END is last-event + gap by
    session_window's definition, where the batch form reports
    max(ts), so equivalence tests compare on session START).

    Scale posture: session state is keyed (user, open window) in the
    state store; the watermark closes and EVICTS sessions whose gap
    horizon has passed, so state is bounded by the number of
    concurrently-active users, not history.  Output mode must be
    append (sessions emit once, when finalized by the watermark) or
    complete in tests.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            # Exact DECIMAL sum -> order-independent: the rounded
            # total is bit-identical whatever the micro-batch split or
            # state-merge order (the event_rollup_stream posture).
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def attribution_stream(
    events: DataFrame, *, window: str = "2 hours", watermark: str = "3 hours"
) -> DataFrame:
    """Stream-stream time-interval join — the streaming twin of
    ``operators.temporal.interval_join``'s attribution query: each
    click joins the same user's purchase it follows within ``window``
    (half-open).  Returns
    ``(purchase_id, click_id, user_id, p_ts, ts)``.

    Scale posture: BOTH sides carry a watermark and the join condition
    bounds the time range, so the state store retains each side only
    for ``watermark`` + ``window`` — the canonical bounded-state
    stream-stream join (Spark's ad-monetization shape).  Without the
    range bound the state would grow forever; with it, eviction is
    automatic and the join runs identically on a cluster.
    """
    p = (
        events.where(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    c = (
        events.where(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), "ts")
        .withWatermark("ts", watermark)
    )
    return c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("ts") >= F.col("p_ts"))
        & (F.col("ts") < F.col("p_ts") + F.expr(f"INTERVAL {window}")),
        "inner",
    ).select("purchase_id", "click_id", "user_id", "p_ts", "ts")


def event_rollup_stream(
    events: DataFrame, *, window_duration: str = "1 day"
) -> DataFrame:
    """Per-(day, event_type) rollup of an event stream — count and an
    exact DECIMAL value sum (order-independent, so the result is
    bit-identical to the batch aggregation regardless of micro-batch
    boundaries or state-update order)."""
    return (
        events.groupBy(
            F.window("ts", window_duration).alias("win"), F.col("event_type")
        )
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("value_dec"),
        )
        .select(
            F.to_date(F.col("win.start")).alias("day"),
            "event_type",
            "n_events",
            F.round(F.col("value_dec").cast("double"), 4).alias("total_value"),
        )
    )


def run_event_rollup_batch(spark: SparkSession, path: str) -> DataFrame:
    """Drive ``event_rollup_stream`` over the files at ``path`` as a
    FINITE stream (``trigger(availableNow)``) and hand back the final
    rollup as a batch DataFrame — the batch-equivalence contract made
    executable: because every measure is an integer/decimal aggregate,
    the streamed result equals the batch GROUP BY exactly, which is
    what the declared query's SQL oracle checks.

    Sink posture: ``complete``-mode memory sink — correct ONLY because
    the rollup's cardinality is bounded (days x event types); the
    unbounded-output production path is update mode into a keyed store
    (same aggregation plan, different sink).  State is the same
    bounded set of (window, type) groups; availableNow processes the
    backlog in bounded batches then stops.
    """
    src = (
        spark.readStream.schema(EVENT_TABLE_SCHEMA)
        .format("parquet")
        .load(_stream_source_dir(path))
    )
    return _drive_complete_to_table(
        spark, event_rollup_stream(src), "stream_rollup", path
    )


def run_sessions_batch(
    spark: SparkSession, path: str, *, gap: str = "30 minutes"
) -> DataFrame:
    """Drive ``sessionize_stream``'s session-window aggregation over
    the event files at ``path`` as a finite stream (complete-mode
    memory sink) and return the final sessions as
    ``(user_id, session_start_us, n_events, total_value)``.

    Determinism contract: given ALL the data, session_window merging
    is order-independent (sessions are the connected components of
    the <gap adjacency on each user's timeline), counts are integers
    and the value sum is an exact DECIMAL — so the completed result
    equals a batch gap-sessionization whose boundary rule is
    session_window's (new session iff ts - prev_ts >= gap; note the
    >=: a gap of exactly ``gap`` CLOSES the window, where the batch
    ``sessionize_events`` uses >).  The oracle states the >= rule.

    Timezone posture: the q_stream_attrib trick — watermark/windows
    need the LTZ TimestampType, so the session timezone is pinned UTC
    for the drive and the session start is emitted as epoch
    MICROSECONDS (a long), keeping everything the driver reads
    timezone-free."""
    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        src = (
            spark.readStream.schema(EVENT_STREAM_SCHEMA)
            .format("parquet")
            .load(_stream_source_dir(path))
        )
        sessions = sessionize_stream(src, gap=gap).select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            "n_events",
            "total_value",
        )
        import re

        name = "stream_sessions_" + re.sub(r"\W+", "_", path).strip("_")
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.conf.set(tz_key, prev_tz)


def run_attribution_batch(spark: SparkSession, path: str) -> DataFrame:
    """Drive the STREAM-STREAM interval join (``attribution_stream``)
    over the event files at ``path`` as a finite stream and return the
    matched (purchase_id, click_id, user_id) set — deterministic
    because an inner stream-stream join's output is exactly the
    predicate's match set, which micro-batching cannot change while
    every match arrives within the watermark horizon (here: one
    availableNow batch).

    Timezone posture: watermarks require the LTZ TimestampType (Spark
    rejects TIMESTAMP_NTZ event time), but the parquet files store
    zone-free micros — so the session timezone is pinned to UTC for
    the DURATION of the drive, making the LTZ read bit-identical to
    the naive micros and the join arithmetic equal to the
    timezone-free SQL oracle on any host.  Only id columns are
    emitted, so nothing timezone-dependent leaves the query."""
    tz_key = "spark.sql.session.timeZone"
    prev_tz = spark.conf.get(tz_key)
    spark.conf.set(tz_key, "UTC")
    try:
        src = (
            spark.readStream.schema(EVENT_STREAM_SCHEMA)
            .format("parquet")
            .load(_stream_source_dir(path))
        )
        joined = attribution_stream(src).select(
            "purchase_id", "click_id", "user_id"
        )
        import re

        name = "stream_attrib_" + re.sub(r"\W+", "_", path).strip("_")
        try:
            spark.catalog.dropTempView(name)
        except Exception:
            pass
        q = (
            joined.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name)
    finally:
        spark.conf.set(tz_key, prev_tz)


# path -> staged dir, per process: mkdtemp gives a mode-0700 dir owned
# by THIS process, so a shared /tmp can never pre-seed the stream
# source with foreign files (or deny us the dir) the way a predictable
# world-shared name could.  ``tracked_tmpdir`` removes it at the next
# release sweep (the next call re-stages it) or at process exit.
_STAGED_SOURCE_DIRS: dict[str, str] = {}


def _stream_source_dir(path: str) -> str:
    """The file stream source only accepts a DIRECTORY (it manages its
    own basePath); the testdata lays each table out as one file, so
    stage a directory of symlinks to the same bytes — the exact
    "files land in a watched directory" production shape."""
    import os

    path = os.path.abspath(path)  # a relative target would dangle from /tmp
    if os.path.isdir(path):
        return path
    src_dir = _STAGED_SOURCE_DIRS.get(path)
    if src_dir is None or not os.path.isdir(src_dir):
        src_dir = tracked_tmpdir("stream_src_")
        os.symlink(path, os.path.join(src_dir, os.path.basename(path)))
        _STAGED_SOURCE_DIRS[path] = src_dir
    return src_dir


def _drive_complete_to_table(
    spark: SparkSession, df: DataFrame, prefix: str, path: str
) -> DataFrame:
    """Run a streaming aggregation to completion (availableNow) into a
    complete-mode memory sink and return the final table."""
    import re

    name = f"{prefix}_" + re.sub(r"\W+", "_", path).strip("_")
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


# The documents-table columns exactly as the driver's parquet lays
# them out (TESTDATA.md) — the streaming twin of the batch corpus
# reads the same files.
DOCUMENT_TABLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
        StructField("source", StringType(), True),
        StructField("n_chars", LongType(), True),
    ]
)


def corpus_stats_stream(documents: DataFrame) -> DataFrame:
    """Per-language corpus rollup of a document stream — the streaming
    twin of ``textops.corpus_stats``'s core measures.  Every measure
    is an integer aggregate, so the complete-mode result equals the
    batch GROUP BY exactly regardless of micro-batch boundaries."""
    t = F.col("text")
    return documents.groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.length(t)).cast("long").alias("total_chars"),
        F.sum(token_count(t)).cast("long").alias("total_tokens"),
    )


def enrich_purchases_stream(
    events: DataFrame, signup_dim: DataFrame
) -> DataFrame:
    """STREAM-STATIC broadcast enrichment join — the canonical "enrich
    a fact stream with a slowly-changing dimension" Structured
    Streaming shape: streamed purchase events join a STATIC per-user
    signup dimension (a plain batch DataFrame — no watermark, no join
    state; Spark re-plans the static side per micro-batch), then roll
    up into the weeks-since-signup revenue profile.  Returns
    ``(week_offset, n_purchases, total_value)``.

    Determinism contract: the join is stateless (every stream row
    matches against the complete static side in its own micro-batch),
    counts are integers and the value sum is an exact DECIMAL, so the
    completed complete-mode result equals the batch join + GROUP BY
    bit-exactly regardless of micro-batch boundaries.

    Scale posture: the static dim is user-cardinality and broadcast —
    the stream never shuffles for the join; aggregation state is one
    row per week offset (bounded).  All-NTZ timestamps: datediff is
    calendar arithmetic, no watermark — nothing timezone-dependent.
    """
    p = events.where(F.col("event_type") == "purchase")
    j = p.join(F.broadcast(signup_dim), "user_id").where(
        F.col("ts") >= F.col("t0")
    )
    return (
        j.groupBy(
            F.expr("CAST(datediff(ts, t0) DIV 7 AS INT)").alias("week_offset")
        )
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 4
            ).alias("total_value"),
        )
    )


def run_enrich_batch(spark: SparkSession, path: str) -> DataFrame:
    """Drive ``enrich_purchases_stream`` over the event files at
    ``path`` as a finite stream: the signup dimension is computed by
    the BATCH reader over the same files (the production shape — a
    static table the stream enriches against), the purchases arrive
    as the stream.  NTZ schema on both sides (no watermark, no
    windows), so no timezone pinning is needed."""
    signup = (
        spark.read.schema(EVENT_TABLE_SCHEMA)
        .parquet(path)
        .where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t0"))
    )
    src = (
        spark.readStream.schema(EVENT_TABLE_SCHEMA)
        .format("parquet")
        .load(_stream_source_dir(path))
    )
    return _drive_complete_to_table(
        spark, enrich_purchases_stream(src, signup), "stream_enrich", path
    )


def run_dedup_batch(spark: SparkSession, path: str) -> DataFrame:
    """Drive ``dedup_document_stream`` over the document files at
    ``path`` as a finite stream (append sink, availableNow) and return
    the surviving digest set as ``(text_hash)`` — exactly one row per
    distinct document text.

    Determinism contract (why only the digest column leaves the
    query): WHICH duplicate row wins inside a micro-batch is
    scheduler-order-dependent, exactly like the reference's
    shuffle-order-dependent replies (O12) — but the surviving KEY SET
    is invariant: it equals batch ``exact_dedup``'s keeper digests,
    which is what the SQL oracle (``SELECT DISTINCT md5(text)``)
    value-checks.  The parquet table carries no arrival timestamp, so
    event_time is pinned to one constant instant: every row is inside
    the watermark horizon and the drain is replay-stable (the
    arrival-staggered/late-data behavior is exercised separately in
    the streaming pytest suite).  Reference analogue: add-then-read
    idempotence under the RW-lock protocol (primary_server.c:138-153).
    """
    src = (
        spark.readStream.schema(DOCUMENT_TABLE_SCHEMA)
        .format("parquet")
        .load(_stream_source_dir(path))
    ).withColumn(
        "event_time", F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    kept = dedup_document_stream(src).select("text_hash")
    import re

    name = "stream_dedup_" + re.sub(r"\W+", "_", path).strip("_")
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    q = (
        kept.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


EDGE_STREAM_SCHEMA = StructType(
    [
        StructField("src", LongType(), True),
        StructField("dst", LongType(), True),
        StructField("event_time", TimestampType(), True),
    ]
)

# Completed edge-ingest drives' base dirs, reaped at the start of the
# next drive (the serve_requests_available_now supersession pattern:
# the returned DataFrame reads its memory table eagerly here, but the
# staged queue files still accumulate without this); the last one is
# removed by ``tracked_tmpdir`` at the next release sweep or at exit.
_EDGE_INGEST_DIRS: list[str] = []


def canonical_edge_stream(pairs: DataFrame, *, watermark: str = "1 hour") -> DataFrame:
    """Streaming graph-ingest normalization: in-flight
    canonicalization (drop self-loops, least/greatest orientation)
    plus watermarked first-seen dedup on the canonical pair — the
    streaming twin of ``edges_from_pairs``' ingest path (O1): each
    distinct undirected edge is emitted exactly once however the
    arrivals are batched or duplicated.

    Scale posture: state is one (lo, hi) key per distinct edge within
    the watermark horizon; the shuffle and state key is the canonical
    pair, and eviction is automatic — the unbounded-stream form of
    the batch ``distinct``."""
    canon = (
        pairs.where(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").cast("long").alias("lo"),
            F.greatest("src", "dst").cast("long").alias("hi"),
            "event_time",
        )
        .withWatermark("event_time", watermark)
    )
    return canon.dropDuplicatesWithinWatermark(["lo", "hi"])


def run_edge_ingest_batch(
    spark: SparkSession, pairs: DataFrame, *, graph_id: int = 1, n_files: int = 2
) -> DataFrame:
    """Drive ``canonical_edge_stream`` over ``pairs`` staged as
    ``n_files`` queue files (arrival batches) and return the
    accumulated graph as the canonical SYMMETRIC edge list — equal to
    batch ``add_graph`` row-for-row whatever the batch split, which
    is what the q_stream_edges oracle checks.  The symmetrization and
    graph_id stamp are stateless projections on the emitted canonical
    set, applied after the drive."""
    import os
    import re
    import shutil

    while _EDGE_INGEST_DIRS:
        shutil.rmtree(_EDGE_INGEST_DIRS.pop(), ignore_errors=True)
    base = tracked_tmpdir("edge_ingest_")
    _EDGE_INGEST_DIRS.append(base)
    qdir = os.path.join(base, "queue")
    (
        pairs.select(
            F.col("src").cast("long"),
            F.col("dst").cast("long"),
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("event_time"),
        )
        .repartition(n_files)
        .write.parquet(qdir)
    )
    src = (
        spark.readStream.schema(EDGE_STREAM_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(qdir)
    )
    kept = canonical_edge_stream(src).select("lo", "hi")
    name = "stream_edges_" + re.sub(r"\W+", "_", base).strip("_")
    try:
        spark.catalog.dropTempView(name)
    except Exception:
        pass
    q = (
        kept.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    canon = spark.table(name)
    gid = F.lit(int(graph_id)).cast("int").alias("graph_id")
    return canon.select(
        gid, F.col("lo").alias("src"), F.col("hi").alias("dst")
    ).unionAll(
        canon.select(gid, F.col("hi").alias("src"), F.col("lo").alias("dst"))
    )


def run_corpus_stats_batch(spark: SparkSession, path: str) -> DataFrame:
    """Drive ``corpus_stats_stream`` over the document files at
    ``path`` as a finite stream and return the final per-language
    rollup — same batch-equivalence contract as
    ``run_event_rollup_batch`` (stateful streaming aggregation whose
    state is one row per language)."""
    src = (
        spark.readStream.schema(DOCUMENT_TABLE_SCHEMA)
        .format("parquet")
        .load(_stream_source_dir(path))
    )
    return _drive_complete_to_table(
        spark, corpus_stats_stream(src), "stream_corpus", path
    )


# The lineitem columns exactly as the driver's parquet lays them out
# (TESTDATA.md); shipdate is NTZ for the same reason as
# EVENT_TABLE_SCHEMA — the file stores zone-less micros.
LINEITEM_TABLE_SCHEMA = StructType(
    [
        StructField("l_orderkey", LongType(), True),
        StructField("l_partkey", LongType(), True),
        StructField("l_suppkey", LongType(), True),
        StructField("l_linenumber", IntegerType(), True),
        StructField("l_quantity", DoubleType(), True),
        StructField("l_extendedprice", DoubleType(), True),
        StructField("l_discount", DoubleType(), True),
        StructField("l_tax", DoubleType(), True),
        StructField("l_returnflag", StringType(), True),
        StructField("l_linestatus", StringType(), True),
        StructField("l_shipdate", TimestampNTZType(), True),
    ]
)


def hdr_hist_stream(lineitem: DataFrame) -> DataFrame:
    """Streaming HDR price histogram per ship month: the mergeable-
    sketch property IS the streaming story — bucket counts are
    integers, so complete-mode state (one row per (month, bucket),
    bounded bins) equals the batch histogram for ANY micro-batch
    split, and the quantile read happens AFTER the drive over
    bin-cardinality rows."""
    from ..operators.sketches import hdr_bucket

    c = (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("long")
    return (
        lineitem.select(
            F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
            hdr_bucket(c).alias("bucket"),
        )
        .groupBy("ship_month", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def run_hdr_hist_batch(spark: SparkSession, path: str) -> DataFrame:
    """Drive ``hdr_hist_stream`` over the lineitem files at ``path``
    to completion and read quantile estimates off the FINAL histogram
    table — ``(ship_month, q, est_v)``.  The post-drive selection is a
    batch walk over the bounded bin table (the same ``hdr_estimates``
    the one-shot query uses), so the streaming result equals
    ``q_hdr_quantile``'s estimate columns exactly."""
    from ..operators.sketches import hdr_estimates

    src = (
        spark.readStream.schema(LINEITEM_TABLE_SCHEMA)
        .format("parquet")
        .load(_stream_source_dir(path))
    )
    hist = _drive_complete_to_table(spark, hdr_hist_stream(src), "stream_hdr", path)
    qs = (0.5, 0.9, 0.99)
    est = hdr_estimates(hist, group_by=["ship_month"], qs=qs)
    return est.select(
        "ship_month",
        F.posexplode(
            F.array(*[F.col(f"est_{i}") for i in range(len(qs))])
        ).alias("i", "est_c"),
    ).select(
        "ship_month",
        F.element_at(F.lit(list(map(float, qs))), F.col("i") + 1).alias("q"),
        F.round(F.col("est_c") / 100.0, 4).alias("est_v"),
    )


# Base dirs of completed spend-upsert drives, reaped at the start of
# the next drive (the _EDGE_INGEST_DIRS pattern — the returned
# DataFrame reads the final version lazily, so the PREVIOUS drive's
# tree can only be deleted once a new drive supersedes it); the last
# one is removed by ``tracked_tmpdir`` at the next release sweep or at
# exit.
_UPSERT_DIRS: list[str] = []


def spend_rollup_stream(events: DataFrame) -> DataFrame:
    """Per-user purchase rollup in UPDATE semantics: integer-cents
    spend + purchase count.  No watermark and no event-time window —
    keyed running totals whose state is one row per user (the
    classic continuously-maintained serving table)."""
    p = events.where(F.col("event_type") == "purchase")
    return p.groupBy("user_id").agg(
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("long")
        .alias("spend_cents"),
        F.count("*").cast("long").alias("n_purchases"),
    )


def run_spend_upsert_batch(
    spark: SparkSession, path: str, *, n_files: int = 3
) -> DataFrame:
    """The TENTH streaming shape: an UPDATE-mode aggregation
    materialized through ``foreachBatch`` as a keyed UPSERT view —
    the streaming-merge (Delta ``MERGE WHEN MATCHED UPDATE``)
    contract, built from primitives: every micro-batch emits only the
    CHANGED user rows, and the sink merges them into the target by
    anti-joining the changed keys out of the previous version and
    unioning the new rows in, written as a fresh version directory
    (the same atomic snapshot-swap discipline as
    ``catalog.snapshot_versions`` — readers of version N never see a
    half-merged N+1).

    The events are staged as ``n_files`` arrival files and streamed
    one file per trigger, so the merge path genuinely exercises
    multi-batch upserts; the final materialized table equals the
    batch GROUP BY exactly for ANY arrival split, because streaming
    aggregation state carries totals across batches and the LAST
    update per key wins.

    Scale: the per-batch merge shuffles only |previous target| +
    |changed keys| rows on user_id (with AQE the anti-join broadcasts
    the changed-key side when small); at 100 TB the target would be
    bucketed by the key so the merge is exchange-free — the
    ``q_bucketed_table`` layout applied to a streaming sink.
    """
    import os
    import shutil

    while _UPSERT_DIRS:
        shutil.rmtree(_UPSERT_DIRS.pop(), ignore_errors=True)
    base = tracked_tmpdir("stream_upsert_")
    _UPSERT_DIRS.append(base)
    qdir = os.path.join(base, "queue")
    (
        spark.read.schema(EVENT_TABLE_SCHEMA)
        .parquet(path)
        .repartition(n_files)
        .write.parquet(qdir)
    )
    src = (
        spark.readStream.schema(EVENT_TABLE_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(qdir)
    )
    state = {"version": -1}

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        changed = batch_df.persist()
        vdir = os.path.join(base, f"target_v{batch_id}")
        prev = state["version"]
        if prev >= 0:
            cur = spark.read.parquet(os.path.join(base, f"target_v{prev}"))
            out = cur.join(
                changed.select("user_id"), "user_id", "left_anti"
            ).unionByName(changed)
        else:
            out = changed
        out.write.mode("overwrite").parquet(vdir)
        state["version"] = batch_id
        changed.unpersist(blocking=False)

    q = (
        spend_rollup_stream(src)
        .writeStream.outputMode("update")
        .foreachBatch(merge)
        .option("checkpointLocation", os.path.join(base, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if state["version"] < 0:
        return spark.createDataFrame(
            [], "user_id long, spend_cents long, n_purchases long"
        )
    return spark.read.parquet(
        os.path.join(base, f"target_v{state['version']}")
    )
