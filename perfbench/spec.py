"""Metric names and units, in the order BENCHMARK.json lists them."""

from __future__ import annotations

from sparkwork import SPARK_FIELDS

END_TO_END = (
    ("setup_s", "s"),
    ("ops_per_cpu_s", "1/s"),
    ("cpu_p50_geomean_ms", "ms"),
)

# Op kinds of all workloads, in report order.
KINDS = ("bfs", "dfs", "write", "drain", "stream", "pagerank", "cc", "sssp", "kcore", "bfs_levels")

# Kinds whose op runs a superstep loop: (LOOP_STATS key, its count,
# the layer call that runs the loop).
LOOPS = {
    "bfs": ("bfs_levels_multi", "supersteps", "dispatch.run_requests"),
    "drain": ("bfs_levels_multi", "supersteps", "dispatch.run_requests"),
    "cc": ("connected_components", "rounds", "traverse.connected_components"),
    "bfs_levels": ("bfs_levels", "supersteps", "traverse.bfs_levels"),
}

# Layer metrics that time one call: metric -> (layer call, kind or None).
CALL_MS = {
    "catalog.add_ms": ("catalog.add_graph", None),
    "catalog.modify_ms": ("catalog.modify_graph", None),
    "bfs.dispatch.run_requests_ms": ("dispatch.run_requests", "bfs"),
    "bfs.dispatch.reply_ms": ("dispatch.reply", "bfs"),
    "dfs.dispatch.run_requests_ms": ("dispatch.run_requests", "dfs"),
    "dfs.dispatch.reply_ms": ("dispatch.reply", "dfs"),
    "drain.dispatch.run_requests_ms": ("dispatch.run_requests", "drain"),
    "drain.dispatch.reply_ms": ("dispatch.reply", "drain"),
    "stream.dispatch.reply_ms": ("dispatch.reply", "stream"),
    "streaming.serve_ms": ("streaming.serve_requests_available_now", "stream"),
    "traverse.cc_ms": ("traverse.connected_components", "cc"),
    "traverse.bfs_levels_ms": ("traverse.bfs_levels", "bfs_levels"),
    "graphalgs.pagerank_ms": ("graphalgs.pagerank_fixed", "pagerank"),
    "graphalgs.sssp_ms": ("graphalgs.sssp", "sssp"),
    "graphalgs.kcore_ms": ("graphalgs.kcore", "kcore"),
}

# Loop-count metrics: metric -> (kind, LOOP_STATS key, count).
ROUNDS = {
    "graphalgs.sssp_rounds": ("sssp", "sssp", "rounds"),
    "graphalgs.kcore_rounds": ("kcore", "kcore", "peel_rounds"),
}

_SPARK_UNITS = {
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "between_jobs_ms": "ms",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
}


def per_layer() -> list[tuple[str, str]]:
    out = [("session.start_s", "s"), ("matrix_io.parse_ms", "ms")]
    out += [(m, "ms") for m in CALL_MS]
    out += [("catalog.write_jobs", "count"), ("streaming.micro_batches", "count")]
    for kind in LOOPS:
        out += [(f"{kind}.traverse.supersteps", "count"), (f"{kind}.traverse.jobs_per_superstep", "jobs/step")]
    out += [(m, "count") for m in ROUNDS]
    out += [(f"{kind}.spark.{f}", _SPARK_UNITS[f]) for kind in KINDS for f in SPARK_FIELDS]
    return out
