"""Release registry for the persisted state a declared query leaves
behind.

Persisted DataFrames and temporary tables outlive the call that made
them: the edge-table constructors in ``sources.graphs`` and the
pair-finding operators (dedup/similarity/textops) persist a subtree
that the RETURNED lazy DataFrame reads, so an in-operator try/finally
unpersist would drop the blocks before the caller's action ran (unlike
the loop persists in graphalgs, which are consumed inside the operator
and ARE released in ``finally``).

Dropping the Python handle does not release them either: a
``DataFrame.persist`` stays registered in Spark's CacheManager, and its
RDD in ``getPersistentRDDs()``, after the handle is garbage collected
and the JVM has run a GC — and while it stays there the CacheManager
substitutes it into any later plan with the same result.  Only an
explicit unpersist releases it.

The rule: a declared query's persists belong to that query.  They are
registered here (``tracked_persist``, ``on_release``) and released when
the next declared query starts — ``__spark_entry__.queries()`` wraps
every query to call ``release_operator_persists()`` first — or by
``__spark_entry__.reset_session_caches()`` outside a timed window.  A
caller holding a result across that boundary re-executes it from the
(unpersisted) lineage, which is correct, just slower.  Whatever is
still registered at interpreter exit is released by an ``atexit`` hook
(temp directories outlive the JVM).
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

# Persisted DataFrames and release callbacks, newest last.
_LIVE: list[DataFrame | Callable[[], object]] = []


def tracked_persist(df: DataFrame) -> DataFrame:
    """``df.persist(MEMORY_AND_DISK)`` + registration for the next
    ``release_operator_persists()`` sweep.  Chainable via
    ``DataFrame.transform``."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(out)
    return out


def on_release(fn: Callable[[], object]) -> None:
    """Run ``fn`` at the next ``release_operator_persists()`` sweep —
    for state that is not a persist (a temporary table, its directory)."""
    _LIVE.append(fn)


def tracked_tmpdir(prefix: str) -> str:
    """A new temporary directory, removed at the next
    ``release_operator_persists()`` sweep or at interpreter exit."""
    path = tempfile.mkdtemp(prefix=prefix)
    on_release(lambda: shutil.rmtree(path, ignore_errors=True))
    return path


def release_operator_persists() -> int:
    """Unpersist every tracked block and run every release callback;
    returns how many were released.  BLOCKING: an async release would
    overlap the next query (or the next timed run) with block-removal
    work.  Safe to call with the session already stopped
    (best-effort)."""
    n = len(_LIVE)
    while _LIVE:
        item = _LIVE.pop()
        try:
            if isinstance(item, DataFrame):
                item.unpersist(blocking=True)
            else:
                item()
        except Exception:
            pass  # session shutting down: blocks die with the executor
    return n


atexit.register(release_operator_persists)
