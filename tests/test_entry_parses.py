"""Guard: the driver entry module must always import and be internally
consistent.

Round 2's entire correctness/bench record was blanked by a single
IndentationError in ``__spark_entry__.py`` (a ``def`` dedented out of
``queries()``).  This test makes that class of failure impossible to
commit silently: it imports the module (parse check), and asserts the
registry invariants the driver relies on — unique names, callables,
and every ``oracle_sql()`` key backed by a declared query.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry


def test_module_parses_and_exposes_api():
    assert callable(entry.entry)
    assert callable(entry.queries)
    assert callable(entry.oracle_sql)


def test_queries_registry_consistent():
    qs = entry.queries()
    assert isinstance(qs, dict)
    assert len(qs) >= 90  # round-4 floor; grows as queries are added
    # unique names, all callable
    assert len(qs) == len(set(qs))
    for name, fn in qs.items():
        assert name.startswith("q_"), name
        assert callable(fn), name


def test_every_oracle_has_a_query():
    qs = entry.queries()
    os_ = entry.oracle_sql()
    assert isinstance(os_, dict)
    orphans = set(os_) - set(qs)
    assert not orphans, f"oracle_sql keys without queries: {sorted(orphans)}"
    for name, sql in os_.items():
        assert isinstance(sql, str) and sql.strip(), name


def test_registry_order_covers_the_driver_window():
    """Rotation policy, machine-enforced.  The driver's oracle gate
    checks only the FIRST 50 registry entries per round, so official
    coverage decays unless the window rotates.  What the derived
    rotation (``_registry_order``) actually guarantees — and what this
    test asserts — is:

    1. The registry is sorted by verification priority: changed-oracle
       queries first (live SQL hash differs from ORACLE_HASHES.json),
       then oldest-official-record first, name-tiebroken.  The driver's
       window therefore always contains the stalest evidence.
    2. Every changed-oracle query occupies the very head of the
       registry — a changed Spark/oracle pair can never coast on a
       pre-change record.
    3. No official record silently ages past the rotation period:
       with N registered queries and a 50-query window, every query is
       re-verified within ceil(N/50)+1 rounds (the +1 absorbs window
       slots consumed by forced changed-oracle re-entries).

    History: through round 8 this test asserted a TWO-window cap on
    the not-recently-verified set, which became arithmetically
    unsatisfiable the moment the registry passed 2x50 + window-overlap
    (at 199 queries the steady-state must-set is 101 > 100 — round-8
    VERDICT item 1).  The cap tested the wrong invariant; the age
    bound below is the guarantee the rotation actually provides, and
    it is satisfiable at any registry size.  Landing a fresh
    CORRECTNESS record can only LOWER ages (and bump the round counter
    by one, absorbed by the +1 slack), so — per round-8 ADVICE — a
    record landing before the round-start --absorb step can no longer
    redden the suite."""
    import glob
    import hashlib
    import json
    import math
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    candidates = sorted(
        (
            (int(re.search(r"_r(\d+)", os.path.basename(p)).group(1)), p)
            for p in glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
            if re.search(r"_r(\d+)", os.path.basename(p))
        )
    )
    last_ok: dict[str, int] = {}
    for rnd, path in candidates:
        with open(path) as fh:
            rec = json.load(fh)
        for name, row in rec.items():
            if isinstance(row, dict) and row.get("hash_match"):
                last_ok[name] = max(rnd, last_ok.get(name, 0))
    latest_round = candidates[-1][0] if candidates else 0
    with open(os.path.join(root, "ORACLE_HASHES.json")) as fh:
        snap = json.load(fh)
    changed = {
        name
        for name, sql in entry.oracle_sql().items()
        if snap.get(name) != hashlib.sha256(sql.encode()).hexdigest()
    }
    order = list(entry.queries())
    n = len(order)

    # (1) sorted by the engine's priority key — the window is always
    # exactly the 50 stalest/forced queries, and the next block to age
    # out is queued immediately behind it.
    key = lambda q: (-1 if q in changed else last_ok.get(q, 0), q)  # noqa: E731
    keys = [key(q) for q in order]
    assert keys == sorted(keys), (
        "registry not sorted by verification priority — "
        f"first inversion at index {next(i for i in range(n - 1) if keys[i] > keys[i + 1])}"
    )

    # (2) changed-oracle queries head the registry outright.
    forced = changed & set(order)
    assert set(order[: len(forced)]) == forced, (
        f"changed-oracle queries not at the registry head: "
        f"{sorted(forced - set(order[: len(forced)]))}"
    )

    # (3) rotation-period age bound; never-recorded queries must sit
    # inside the next window.
    window = 50
    bound = math.ceil(n / window) + 1
    overage = sorted(
        (latest_round - last_ok[q], q)
        for q in order
        if q in last_ok and latest_round - last_ok[q] > bound
    )
    assert not overage, (
        f"official records older than the rotation period ({bound} rounds): "
        f"{overage} — the window is not rotating"
    )
    never = [q for q in order if q not in last_ok and q not in changed]
    late = [q for q in never if order.index(q) >= window]
    assert not late, f"never-recorded queries outside the next window: {late}"


def test_no_query_lacks_an_oracle():
    """Every declared query should have a value oracle.  If a genuinely
    non-SQL-expressible op is added later, list it here explicitly so the
    exemption is a reviewed decision, not an accident."""
    exempt = set()  # keep empty: every registered query carries an oracle
    qs = entry.queries()
    os_ = entry.oracle_sql()
    missing = set(qs) - set(os_) - exempt
    assert not missing, f"queries without oracle_sql entries: {sorted(missing)}"


def test_survey_inventory_lists_every_query():
    """SURVEY.md §2.3 is the judge's coverage checklist — every
    registered query must have an inventory row."""
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    listed = set(re.findall(r"`(q_\w+)`", open(os.path.join(root, "SURVEY.md")).read()))
    missing = set(entry.queries()) - listed
    assert not missing, f"queries missing from SURVEY.md: {sorted(missing)}"


def _persisted_rdd_ids(spark):
    """Ids of the session's persisted RDDs, leaving out locally
    checkpointed ones: their blocks are released by the ContextCleaner
    once unreferenced, not by the persist registry."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        int(i) for i in rdds.keySet() if not rdds.get(i).rdd().isLocallyCheckpointed()
    }


def test_next_query_releases_previous_query_persists():
    """A declared query's persists belong to that query: once the next
    declared query has run, nothing the previous one persisted is
    still cached (its derived-tree edge table included), a published
    bucketed table is dropped, and the temporary directories under a
    result are removed."""
    import glob
    import tempfile

    import pytest
    from pyspark.sql import SparkSession

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("driver testdata not present")

    spark = SparkSession.builder.master("local[4]").getOrCreate()
    qs = entry.queries()
    entry.reset_session_caches()
    before = _persisted_rdd_ids(spark)
    qs["q_bfs_levels"](spark, sf).count()
    from_a = _persisted_rdd_ids(spark) - before
    assert from_a, "q_bfs_levels should persist its edge table"
    qs["q_dfs_leaves"](spark, sf).count()
    assert not from_a & _persisted_rdd_ids(spark)

    def tables():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("docs_bucketed_")}

    def dirs():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "sparkgraft_*")))

    for query in ("q_bucketed_table", "q_csv_io"):
        tables_0, dirs_0 = tables(), dirs()
        qs[query](spark, sf).count()
        new_tables, new_dirs = tables() - tables_0, dirs() - dirs_0
        assert new_dirs and (new_tables or query == "q_csv_io")
        qs["q_dfs_leaves"](spark, sf).count()
        assert not new_tables & tables()
        assert not new_dirs & dirs()


def test_evict_other_sf_releases_previous_sweep():
    """Switching sf_dir in a long-lived session leaves nothing of the
    previous scale's sweep persisted: once a query has run at sf0.01,
    no RDD persisted by the sf0.001 run (its derived-tree edge table
    included) is still cached."""
    import pytest
    from pyspark.sql import SparkSession

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    if not (os.path.isdir(sf_a) and os.path.isdir(sf_b)):
        pytest.skip("driver testdata not present")

    spark = SparkSession.builder.master("local[4]").getOrCreate()
    qs = entry.queries()
    entry.reset_session_caches()
    before = _persisted_rdd_ids(spark)
    qs["q_bfs_levels"](spark, sf_a).count()
    from_a = _persisted_rdd_ids(spark) - before
    assert from_a, "q_bfs_levels should persist its edge table"

    qs["q_bfs_levels"](spark, sf_b).count()
    stale = from_a & _persisted_rdd_ids(spark)
    assert not stale, f"sf0.001 persists survived the sf switch: {stale}"


def test_evict_other_sf_drops_bucketed_table_and_dir():
    """A bucketed table published at one scale is fully reclaimed when
    the next scale runs: DROP TABLE (metastore) AND the removal of its
    temporary parquet directory, not just a forgotten handle."""
    import glob
    import tempfile

    import pytest
    from pyspark.sql import SparkSession

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    if not (os.path.isdir(sf_a) and os.path.isdir(sf_b)):
        pytest.skip("driver testdata not present")

    def tables():
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("docs_bucketed_")}

    def dirs():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "sparkgraft_*")))

    spark = SparkSession.builder.master("local[4]").getOrCreate()
    tables_0, dirs_0 = tables(), dirs()
    entry.queries()["q_bucketed_table"](spark, sf_a).count()
    tables_a, dirs_a = tables() - tables_0, dirs() - dirs_0
    assert tables_a and dirs_a
    assert all(spark.catalog.tableExists(t) for t in tables_a)

    entry.queries()["q_bucketed_table"](spark, sf_b).count()
    assert not any(spark.catalog.tableExists(t) for t in tables_a)
    assert not any(os.path.isdir(d) for d in dirs_a)
    entry.reset_session_caches()


def test_reset_session_caches_clears_every_memo():
    """Outside a declared query's start (the bench between timed runs),
    reset_session_caches() releases everything the last query
    persisted: Spark's CacheManager is left empty."""
    import pytest
    from pyspark.sql import SparkSession

    sf_a = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_a):
        pytest.skip("driver testdata not present")

    spark = SparkSession.builder.master("local[4]").getOrCreate()
    spark.catalog.clearCache()  # what earlier tests left persisted
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    entry.queries()["q_bfs_levels"](spark, sf_a).count()
    assert not cache_manager.isEmpty()

    entry.reset_session_caches()
    assert cache_manager.isEmpty()


def test_bench_times_cold_runs_and_writes_per_cpus_full_map():
    """Pin the two round-12 verdict fixes in bench.py source: (1) the
    inner timing loop resets the session caches before each timed run
    (de-gamed best-of-N), and (2) the full per-query map goes to a
    per-core-count file so a scaling re-run cannot clobber it."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    src = open(os.path.join(root, "bench.py")).read()
    body = src.split("for i in range(3):", 1)[1]
    assert body.index("reset_session_caches()") < body.index("t0 = time.time()")
    assert "BENCH_FULL_c{cpus}.json" in src


def test_bench_compact_line_fits_tail():
    """The driver records only a 2000-char stdout tail; rounds 4 and 5
    shipped unparseable official bench records because the single JSON
    line outgrew it.  bench.py's LAST line must stay complete inside
    that tail for any registry size — pin it at 3x today's count."""
    import json

    import bench

    fake = {f"q_padded_name_{i:04d}": round(0.123 + i / 1000, 3) for i in range(400)}
    full, compact = bench.summary_lines(fake, 0.1)
    assert len(compact) < 1800, len(compact)
    rec = json.loads(compact)
    assert rec["n_queries"] == 400
    assert rec["value"] == round(sum(fake.values()), 3)
    assert len(rec["slowest"]) == 10
    json.loads(full)  # line 1 stays valid JSON too


def test_registry_order_is_derived_for_any_record_state(tmp_path):
    """Round-7 fix for the two-rounds-running rotation failure: the
    registry order is now COMPUTED from the CORRECTNESS records, so
    landing a new record can never invalidate it.  Drive
    _registry_order through synthetic record states — none, one,
    partial, all-verified, a fresh record landing mid-round — and
    assert the head==must invariant plus oldest-evidence-first
    priority hold in every one."""
    import json

    names = [f"q_{chr(97 + i)}{i}" for i in range(12)]

    def write(round_no, verified):
        p = tmp_path / f"CORRECTNESS_r{round_no:02d}.json"
        p.write_text(
            json.dumps(
                {
                    n: {"rows_match": True, "schema_match": True, "hash_match": ok}
                    for n, ok in verified.items()
                }
            )
        )

    def check():
        order = entry._registry_order(names, records_root=str(tmp_path))
        assert sorted(order) == sorted(names)  # a permutation, always
        records = sorted(tmp_path.glob("CORRECTNESS_r*.json"))
        recent = set()
        for p in records[-2:]:
            rec = json.loads(p.read_text())
            recent |= {n for n, row in rec.items() if row.get("hash_match")}
        must = set(names) - recent
        assert set(order[: len(must)]) == must
        return order

    # no records: everything is must, sorted by name
    order = check()
    assert order == sorted(names)

    # one record verifying half (and one hash MISMATCH, which must not count)
    write(1, {n: True for n in names[:6]} | {names[6]: False})
    order = check()
    assert set(order[:6]) == set(names[6:])

    # a second record verifying the rest: must-set empty, oldest-first tail
    write(2, {n: True for n in names[6:]})
    order = check()
    assert order[:6] == sorted(names[:6])  # r1 block ages out first

    # a THIRD record lands (the failure mode that bit rounds 5 and 6):
    # r1's block immediately becomes the must-set, no manual edit needed
    write(3, {n: True for n in names[6:]})
    order = check()
    assert set(order[:6]) == set(names[:6])


def test_scc_oracle_keeps_the_nlj_fence():
    """Round-7: DuckDB 1.0 rewrites a cross-alias inequality inside a
    multi-join block (WHERE c.c_nationkey != s.s_nationkey) into
    customer NESTED_LOOP_JOIN supplier — a 1.5e9-row intermediate at
    decade scale that spilled to disk-full.  The q_scc oracle must
    keep the MATERIALIZED-CTE fence: aggregate the flow groups first,
    filter the diagonal groups afterward."""
    import re

    sql = entry.oracle_sql()["q_scc"]
    assert "MATERIALIZED" in sql
    # the inequality must only appear as the post-aggregation group
    # filter, never next to the nationkey columns inside the join
    # (strip `--` comments first: the fence's own explanation quotes
    # the pathological predicate)
    code = re.sub(r"--[^\n]*", "", sql).replace(" ", "")
    assert "c_nationkey!=s" not in code
    assert "WHERE a != b" in sql
