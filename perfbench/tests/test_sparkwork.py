"""Attribution of Spark work to layer calls."""

import time

import pytest

from sparkwork import Recorder, SparkWork, between_jobs_ms


def test_between_jobs_ms_known_intervals():
    # Overlapping jobs count once; parts outside the call are clipped.
    intervals = [(10, 20), (15, 30), (50, 60), (90, 120), (-5, 5)]
    assert between_jobs_ms(0, 100, intervals) == 100 - (5 + 20 + 10 + 10)
    assert between_jobs_ms(0, 100, []) == 100
    assert between_jobs_ms(0, 100, [(0, 100)]) == 0


@pytest.fixture(scope="module")
def spark():
    import os

    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    from run import Engine

    s = Engine().session.get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_between_jobs_ms_of_calls_with_known_jobs(spark):
    rec = Recorder(SparkWork(spark))
    with rec.call("idle", "t"):
        time.sleep(0.3)
    with rec.call("count_then_idle", "t"):
        spark.range(1000).count()
        time.sleep(0.3)
    rec.resolve()
    idle, busy = rec.spans
    assert idle.spark["jobs"] == 0
    assert idle.spark["between_jobs_ms"] == pytest.approx(idle.ms, abs=1.0)
    assert busy.spark["jobs"] >= 1
    assert 300 <= busy.spark["between_jobs_ms"] < busy.ms


def test_streamed_drain_jobs_are_attributed_by_job_id_interval(spark, tmp_path):
    """The streaming server runs its micro-batches on the query's own
    thread under the query's job group: counting the caller's job group
    sees almost none of that work, the job-id interval sees all of it."""
    from run import Engine

    eng = Engine()
    cat = eng.catalog.GraphCatalog(spark, str(tmp_path / "catalog"))
    cat.add_graph(1, spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"))
    cat.add_graph(2, spark.createDataFrame([(1, 2), (1, 3), (1, 4)], "src long, dst long"))
    reqs = spark.createDataFrame(
        [(1, 4, "G1.txt", 1, 1), (2, 3, "G2.txt", 2, 2)],
        "seq_no int, op_no int, graph_name string, start_vertex int, graph_id int",
    )
    sc = spark.sparkContext
    rec = Recorder(SparkWork(spark))
    sc.setJobGroup("perfbench-drain", "one streamed drain")
    try:
        with rec.call("streaming.serve_requests_available_now", "stream"):
            eng.streaming.serve_requests_available_now(spark, reqs, cat.edges())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec.resolve()
    (span,) = rec.spans
    by_group = len(sc.statusTracker().getJobIdsForGroup("perfbench-drain"))
    assert span.spark["micro_batches"] >= 1
    assert span.spark["jobs"] >= 10
    assert span.spark["jobs"] >= 3 * by_group
