"""Registry for materialized intermediate DataFrames.

Operators that share an intermediate between several consumers (shingle
relations, corpus survivor sets, edge tables) build it once with
``materialize()``: an eager ``localCheckpoint`` whose blocks are
registered here.  The operator returns a lazy DataFrame that still reads
those blocks, so it can never know when they are safe to drop.  Hosts
with session lifecycle knowledge (bench between queries, services between
batches) call ``release_persisted_intermediates()`` before building the
next query — never between building a DataFrame and collecting it, since
a released checkpoint cannot be re-read.

Why a checkpoint and not ``persist()``: under AQE every scan of a cached
relation is its own ``TableCacheQueryStage``, the exchanges above two such
scans are never reused, and the cached plan keeps its 32 shuffle
partitions for every later read.  A checkpoint is a plain RDD leaf, so
AQE sizes its reads and reuses the exchanges above it.  Its blocks live
on the executors that computed them; on a cluster that can lose
executors, reliable ``checkpoint()`` is the fault-tolerant variant.

Query-level ``persist()`` sites still register through
``register_persisted``.  Unreleased entries are bounded by the session
lifetime, so forgetting to release degrades memory headroom, not
correctness.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame

_RELEASES: list[Callable[[], object]] = []


def register_persisted(df: DataFrame) -> DataFrame:
    _RELEASES.append(df.unpersist)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now, once, and return a frame that reads the result.

    The checkpoint's blocks are registered for release; the returned
    frame must not be read after ``release_persisted_intermediates()``.
    """
    cp = df.localCheckpoint(eager=True)
    rdd = cp._jdf.queryExecution().analyzed().rdd()
    _RELEASES.append(lambda: rdd.unpersist(True))
    return cp


def release_persisted_intermediates() -> int:
    """Free every registered intermediate; returns how many."""
    n = 0
    while _RELEASES:
        release = _RELEASES.pop()
        try:
            release()
            n += 1
        except Exception:
            pass
    return n
