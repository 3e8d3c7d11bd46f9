"""Streaming request processing — the faithful analogue of the
reference's server loop.

Reference model being reproduced: clients append requests to a queue
(SysV msgq, load_balancer.c:40); the balancer drains them
lowest-seq_no-first (``msgrcv(..., -100, 0)``, load_balancer.c:49),
routes by op/parity (load_balancer.c:65-70), and servers process each
request and reply.  Structured Streaming renders this as: a file
source is the queue, a micro-batch is one drain cycle, ``foreachBatch``
is the server dispatch, and the routing/scheduling expressions are the
same ones the batch layer uses (operators/dispatch.py).

Scale posture: the stateless route projection and the windowed load
aggregation are standard streaming shapes (watermark bounds state; the
window-agg state store is keyed by (window, route) — tiny).  The
custom stateful operator uses ``applyInPandasWithState`` with per-route
keys, so state is one counter per server — nothing grows with volume.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, TimestampType

from ..operators.dispatch import route_expr, run_requests, schedule_requests
from ..operators.persists import tracked_tmpdir
from ..sources.schema import REQUESTS_SCHEMA

# Base dirs of completed serve_requests_available_now drives, reaped
# at the START of the next drive (the returned DataFrame reads its
# replies parquet lazily, so cleanup must wait until supersession),
# or by ``tracked_tmpdir`` at the next release sweep or process exit.
_SERVE_BASE_DIRS: list[str] = []

# The request message plus an arrival timestamp (the msgsnd instant —
# the queue gives the reference this ordering implicitly; a stream
# needs it explicit for watermarks/windows).
REQUEST_STREAM_SCHEMA = StructType(
    REQUESTS_SCHEMA.fields + [StructField("event_time", TimestampType(), True)]
)


def read_request_stream(
    spark: SparkSession, path: str, *, fmt: str = "json", max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source request queue: every file dropped under ``path`` is
    a batch of submitted requests (the msgsnd analogue,
    client (1).c:105-112).  ``maxFilesPerTrigger`` bounds drain-cycle
    size the way the kernel's queue depth did."""
    reader = spark.readStream.schema(REQUEST_STREAM_SCHEMA).format(fmt)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.load(path)


def route_stream(requests: DataFrame) -> DataFrame:
    """Stateless routing projection (O5) on a streaming DataFrame —
    identical expression to the batch layer's route_requests."""
    return requests.withColumn("route", route_expr())


def request_load(
    requests: DataFrame,
    *,
    window_duration: str = "10 seconds",
    watermark: str = "30 seconds",
) -> DataFrame:
    """Per-server request load over event-time windows with late-data
    tolerance: the streaming generalization of route_counts.  The
    watermark bounds aggregation state (windows older than the
    watermark are finalized and dropped from the store)."""
    return (
        route_stream(requests)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", window_duration).alias("window"), "route")
        .agg(F.count("*").cast("long").alias("n_requests"))
    )


def run_request_stream(
    requests: DataFrame,
    edges: DataFrame,
    sink: Callable[[DataFrame, int], None],
    *,
    checkpoint_dir: str | None = None,
    available_now: bool = True,
):
    """The server loop: each micro-batch is one drain cycle — requests
    are serviced lowest-seq_no-first within the cycle (the
    ``msgrcv(-100)`` discipline, load_balancer.c:49), read ops are
    dispatched against the graph database, and the result rows go to
    ``sink`` (the reply message, mtype = seq_no + 100).

    Returns the started StreamingQuery; callers should
    ``awaitTermination()``."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        # Keep every request column but the arrival time: a graph_id
        # column, when present, is what keys each request to its graph.
        cycle = schedule_requests(batch_df.drop("event_time"))
        results = run_requests(cycle.drop("service_order"), edges)
        sink(results, batch_id)

    writer = requests.writeStream.foreachBatch(process).outputMode("update")
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def serve_requests_available_now(
    spark: SparkSession,
    requests: DataFrame,
    edges: DataFrame,
    *,
    n_cycles: int = 2,
) -> DataFrame:
    """Run the FULL server lifecycle as a finite stream and hand back
    the accumulated dispatch results as a batch DataFrame: stage
    ``requests`` as ``n_cycles`` queue files, drain them one file per
    micro-batch through ``run_request_stream`` (schedule ->
    route/dispatch -> reply rows, the load_balancer.c:47 /
    secondary_server.c:363 loop), and read back everything the server
    replied.

    Because each request is dispatched exactly once — in the cycle it
    arrives — and the dispatch itself is the same set-oriented
    ``run_requests`` plan the batch layer uses, the union of all
    cycles' results equals the one-shot batch dispatch row-for-row
    regardless of how the queue was split into cycles.  That is the
    equivalence the declared ``q_stream_requests`` puts under the
    value oracle.

    Scale posture: a cycle's work is ``run_requests``' — one grouped
    pass that answers every request on a graph under
    ``dispatch.WHOLE_GRAPH_BOUND`` one graph per task, and for larger
    graphs at most one multi-source BFS + one degree aggregation for
    ALL their requests (a cycle builds only the branches its op kinds
    need) — and the accumulated sink is an append-only parquet
    directory — the same "replies land in a results table" shape a
    long-running cluster deployment would use.
    """
    import os
    import shutil

    # Reap the PREVIOUS drives' reply dirs first: each returned
    # DataFrame reads its parquet lazily, so a base dir can only be
    # reclaimed once a NEWER drive supersedes it — without this,
    # repeated bench/gate invocations accumulate reply directories for
    # the life of the host (round-5 ADVICE; the _STAGED_SOURCE_DIRS
    # pattern).  Callers holding a result across a later call re-read
    # a vanished path — the same one-live-result contract the
    # session-scoped caches already impose.
    while _SERVE_BASE_DIRS:
        shutil.rmtree(_SERVE_BASE_DIRS.pop(), ignore_errors=True)
    base = tracked_tmpdir("req_serve_")
    _SERVE_BASE_DIRS.append(base)
    in_dir, out_dir = os.path.join(base, "queue"), os.path.join(base, "replies")
    ts = F.lit(None).cast("timestamp")
    staged = requests
    if "event_time" not in staged.columns:
        staged = staged.withColumn("event_time", ts)
    # One queue file per drain cycle (round-robin split; any split
    # yields the same accumulated result — that's the point).
    staged.repartition(n_cycles).write.parquet(in_dir)

    def sink(results: DataFrame, batch_id: int) -> None:
        results.write.mode("append").parquet(out_dir)

    ckpt_dir = os.path.join(base, "ckpt")
    # Read the queue back with the staged frame's own schema, so
    # columns beyond REQUEST_STREAM_SCHEMA (graph_id) reach dispatch.
    queue = spark.readStream.schema(staged.schema).option("maxFilesPerTrigger", 1).parquet(in_dir)
    q = run_request_stream(
        queue,
        edges,
        sink,
        checkpoint_dir=ckpt_dir,
    )
    q.awaitTermination()
    # The stream is done: the staged queue files and the checkpoint
    # state are dead weight — remove them so repeated drives don't
    # accumulate working trees in /tmp.  The replies directory must
    # STAY: the returned DataFrame reads it lazily.
    for dead in (in_dir, ckpt_dir):
        shutil.rmtree(dead, ignore_errors=True)
    return spark.read.parquet(out_dir)


def running_route_totals(requests: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    running request counter per server across micro-batches — the
    streaming analogue of the reference's per-server request slot
    bookkeeping (primary_server.c:220-238).  State per key is one
    long; output mode must be 'update'."""
    import pandas as pd  # arrow batches; never per-row python
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "route string, n_total long"
    state_schema = "n long"

    def update(
        key: tuple, pdfs: Iterable["pd.DataFrame"], state: GroupState
    ) -> Iterable["pd.DataFrame"]:
        seen = sum(len(pdf) for pdf in pdfs)
        (prev,) = state.get if state.exists else (0,)
        total = prev + seen
        state.update((total,))
        yield pd.DataFrame({"route": [key[0]], "n_total": [total]})

    return (
        route_stream(requests)
        .groupBy("route")
        .applyInPandasWithState(
            update, out_schema, state_schema, "Update", GroupStateTimeout.NoTimeout
        )
    )
