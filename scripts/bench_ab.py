"""Same-boot bench A/B: r7 code vs r8 code (round-7 verdict #8).

Round 6 -> 7 couldn't separate code wins from host-boot variance
because the two official BENCH records came from different boots.
This harness removes the confound: ONE JVM / SparkSession, the two
code trees mounted side by side (a read-only git worktree pins the
r7 closing commit), and full bench passes ALTERNATED r7, r8, r7, r8
so neither arm monopolizes the warm end of the boot.  Per query the
arm's time is the min over its passes (the bench.py steady-state
convention).  Each pass purges the package from sys.modules first and
calls the loaded tree's ``reset_session_caches()`` before each timed
query, outside the timed window, as bench.py does — so no query reads
what an earlier query of the pass persisted (session memos, edge
tables, trained artifacts), and each arm pays its own build cost,
exactly as a fresh official bench run would.

Usage: python scripts/bench_ab.py [base_commit] [sf_dir] [passes_per_arm]
           [--queries q_a,q_b,...]
``--queries`` (round-10 verdict #4) restricts both arms to the named
queries — the per-query drill-down for apparent official-record
regressions the aggregate ratio attributes to host noise.
Writes .scratch/bench_ab.json and prints the comparison table.
"""

from __future__ import annotations

import gc
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = (
    "distributed_graph_database_simulation_with_load_balancing_"
    "and_threaded_request_handling__spark"
)


def _purge_modules() -> None:
    for name in [m for m in sys.modules if m == PKG or m.startswith(PKG + ".") or m == "__spark_entry__"]:
        del sys.modules[name]


def _load_entry(tree: str):
    _purge_modules()
    sys.path.insert(0, tree)
    try:
        import __spark_entry__ as entrymod  # noqa: PLC0415

        assert entrymod.__file__.startswith(tree), entrymod.__file__
        return entrymod
    finally:
        sys.path.remove(tree)


def _bench_pass(spark, tree: str, sf_dir: str, only: set | None = None) -> dict[str, float]:
    entrymod = _load_entry(tree)
    qs = entrymod.queries()
    if only is not None:
        qs = {n: f for n, f in qs.items() if n in only}
    out: dict[str, float] = {}
    for name, fn in qs.items():
        entrymod.reset_session_caches()
        t0 = time.time()
        fn(spark, sf_dir).count()
        out[name] = round(time.time() - t0, 3)
        gc.collect()
    # The next pass loads a fresh copy of the modules: release this
    # one's last query here, while its registry is still reachable.
    entrymod.reset_session_caches()
    return out


def main() -> None:
    argv = list(sys.argv[1:])
    only: set | None = None
    if "--queries" in argv:
        qi = argv.index("--queries")
        only = set(argv[qi + 1].split(","))
        del argv[qi : qi + 2]
    r7_commit = argv[0] if len(argv) > 0 else "b03926e"
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    passes = int(argv[2]) if len(argv) > 2 else 2
    r7_tree = os.path.join(REPO, ".scratch", "r7tree")
    if not os.path.isdir(r7_tree):
        subprocess.run(
            ["git", "worktree", "add", "--detach", r7_tree, r7_commit],
            cwd=REPO,
            check=True,
        )
    else:
        # The worktree persists across rounds: re-pin it to the
        # REQUESTED base (round 12 — a stale tree silently benched the
        # wrong baseline while meta claimed the requested commit).
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=r7_tree,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        want = subprocess.run(
            ["git", "rev-parse", r7_commit], cwd=REPO,
            capture_output=True, text=True, check=True,
        ).stdout.strip()
        if head != want:
            subprocess.run(
                ["git", "checkout", "--detach", "--force", want],
                cwd=r7_tree, check=True,
            )

    sys.path.insert(0, REPO)
    from distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark.session import (  # noqa: PLC0415
        get_spark,
    )

    spark = get_spark("bench-ab")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    arms: dict[str, list[dict[str, float]]] = {"r7": [], "r8": []}
    for i in range(passes):
        for arm, tree in (("r7", r7_tree), ("r8", REPO)):
            t0 = time.time()
            arms[arm].append(_bench_pass(spark, tree, sf_dir, only))
            print(
                f"pass {i + 1}/{passes} {arm}: "
                f"{sum(arms[arm][-1].values()):.1f}s plan-sum, "
                f"{time.time() - t0:.1f}s wall",
                flush=True,
            )

    best = {
        arm: {q: min(p[q] for p in plist) for q in plist[0]}
        for arm, plist in arms.items()
    }
    common = sorted(set(best["r7"]) & set(best["r8"]))
    only_r8 = sorted(set(best["r8"]) - set(best["r7"]))
    t7 = sum(best["r7"][q] for q in common)
    t8 = sum(best["r8"][q] for q in common)
    print(
        f"\ncommon {len(common)} queries: r7 {t7:.1f}s, r8 {t8:.1f}s "
        f"(r8/r7 = {t8 / t7:.3f}); r8-only {only_r8} "
        f"adds {sum(best['r8'][q] for q in only_r8):.1f}s",
        flush=True,
    )
    diffs = sorted(
        ((best["r8"][q] - best["r7"][q], q) for q in common), key=lambda x: x[0]
    )
    print("top wins (r8 - r7 sec):")
    for d, q in diffs[:8]:
        print(f"  {q}: {best['r7'][q]:.2f} -> {best['r8'][q]:.2f} ({d:+.2f})")
    print("top regressions:")
    for d, q in diffs[-8:][::-1]:
        print(f"  {q}: {best['r7'][q]:.2f} -> {best['r8'][q]:.2f} ({d:+.2f})")

    os.makedirs(os.path.join(REPO, ".scratch"), exist_ok=True)
    head_commit = subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    try:
        load1 = round(os.getloadavg()[0], 2)
    except OSError:
        load1 = -1.0
    # meta block consumed by bench.py (round-9 verdict #5): the
    # controlled code-vs-code ratio travels WITH the official record
    # so a slow host window can't masquerade as a code regression
    meta = {
        "base_commit": r7_commit,
        "head_commit": head_commit,
        "base_total_s": round(t7, 1),
        "head_total_s": round(t8, 1),
        "ratio": round(t8 / t7, 3),
        "n_common": len(common),
        "passes": passes,
        "loadavg_1m": load1,
        "at": time.strftime("%Y-%m-%dT%H:%M:%S"),
    }
    if only is not None:
        meta["queries"] = sorted(only)
    # a --queries drill-down goes to its own file so bench.py's
    # load_ab() never mistakes a 4-query ratio for the full A/B
    out_name = "bench_ab.json" if only is None else "bench_ab_queries.json"
    with open(os.path.join(REPO, ".scratch", out_name), "w") as fh:
        json.dump(
            {"r7": best["r7"], "r8": best["r8"], "passes": passes, "meta": meta},
            fh,
            indent=1,
        )
    spark.stop()


if __name__ == "__main__":
    main()
