"""CPU time of the benchmark's process tree.

The tree is this process, the JVM it starts for Spark, and the JVM's
Python workers.  CPU time is read from ``/proc/<pid>/stat`` of those
processes only, found through each thread's ``children`` list.

Wall times on a shared host move with the host's load: on a 4-core VM
whose host took 8-20% of its CPU time (``steal`` in ``/proc/stat``),
the same serve run read 0.15-0.20 ops/s while its processes used the
same CPU time within 4%.  So the end-to-end metrics are CPU times.

The JVM's JIT compiler threads are counted apart.  In a run of about a
minute they use about 40% of the JVM's CPU time compiling the code the
run goes through; that is the JVM warming up, not the engine's work,
and how much of it lands in which operation depends on when the
compiler gets to it.  The compiler threads must stay alive for their
time to be counted apart, so the JVM runs with
``-XX:-UseDynamicNumberOfCompilerThreads`` (see ``run.prepare_env``).
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
# Thread names (cut to 15 characters by the kernel) of HotSpot's JIT compilers.
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None  # the process or thread ended


def _split_stat(stat: str) -> tuple[str, list[str]]:
    """(command name, the fields after it); state is field 3, so utime,
    stime, cutime and cstime (fields 14-17) sit at 11..14."""
    lo, hi = stat.index("("), stat.rindex(")")
    return stat[lo + 1 : hi], stat[hi + 2 :].split()


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """(all, jit): user plus system CPU seconds of ``root`` (this process
    by default) and its live descendants, including what their exited
    and reaped children used; and the part of it spent by JIT compiler
    threads."""
    ticks = jit = 0
    todo = [root or os.getpid()]
    while todo:
        pid = todo.pop()
        stat = _read(f"/proc/{pid}/stat")
        if stat is None:
            continue
        ticks += sum(int(x) for x in _split_stat(stat)[1][11:15])
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            kids = _read(f"/proc/{pid}/task/{tid}/children")
            todo += [int(c) for c in (kids or "").split()]
            tstat = _read(f"/proc/{pid}/task/{tid}/stat")
            if tstat is not None:
                name, fields = _split_stat(tstat)
                if name.startswith(_JIT_THREADS):
                    jit += int(fields[11]) + int(fields[12])
    return ticks / _TICK, jit / _TICK


def work_cpu_s() -> float:
    """CPU seconds of the process tree, less its JIT compilation."""
    total, jit = tree_cpu_s()
    return total - jit
