"""Tracked persist(): operators that cache shared sub-relations register
them here so long-lived sessions (bench harness, notebooks, the driver's
correctness runner) can release executor/driver memory between queries.

Spark's plan-level cache dedupe only helps for IDENTICAL plans; a session
that runs the dedup suite at several scale factors would otherwise
accumulate one cached shingle/band relation per corpus.  Callers own the
lifetime: call `release_all()` after the consuming action (bench.py does,
after every timed query).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_TRACKED: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """persist() a relation and register it for later release_all()."""
    _TRACKED.append(df.persist())
    return df


def release_all() -> int:
    """Unpersist every tracked relation; returns how many were released.
    Safe to call repeatedly / after session restarts (errors swallowed:
    an already-stopped context just means the memory is gone anyway)."""
    n = 0
    while _TRACKED:
        df = _TRACKED.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n
