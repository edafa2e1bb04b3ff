"""Query-scoped state: the one module that holds it.

It owns three things:

* **Scoped persists** (:func:`scoped_persist`). A query function that
  persists an intermediate (all-pairs similarity weights, fingerprint lists,
  LM scores, prefix-scan range caches) cannot unpersist it before returning
  — the returned DataFrame still depends on it lazily. Left alone, those
  cached partitions accumulate across a session running many graded queries
  (r4 ADVICE #5). The registry makes the persist scope explicit.
* **The eager once-per-plan guard**: the semantic hashes of plans an eager
  :func:`scoped_persist` has already materialized since the last drain.
* **The plan memo** (:func:`plan_memo`): lazy plans keyed by the identity of
  the file they read. Metadata only — every action still scans the bytes.

Who drains it: the runner (bench.py, tools/check_correctness.py, the
benchmark harness, or any user loop) calls :func:`release_scoped_caches`
once it has collected a query's result; that releases the scoped persists
and resets the eager guard. The plan memo is NOT drained — its entries hold
no data, are keyed by the session's applicationId and the file's
(mtime_ns, size), and are bounded by :data:`_PLANS_MAX`.

Unreleased persists are still bounded by the session lifetime — this is a
cooperative drain, not a leak detector."""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, SparkSession

_SCOPED: list[DataFrame] = []

# Semantic hashes of plans an eager scoped_persist has already materialized
# since the last drain. Within one bench block (3 runs of the same query,
# caches alive across runs — bench.py's warm-min methodology) every run
# rebuilds the SAME logical plan; the cache blocks survive from run 1, so
# re-counting them on runs 2-3 would charge the warm min a pure-overhead job.
# Keyed by DataFrame.semanticHash(): a hash collision merely SKIPS an eager
# count (falling back to today's lazy build — never a correctness issue).
_MATERIALIZED: set[int] = set()

# Plan memo: `spark.read.parquet(path)` costs ~0.13 s of DRIVER time per
# call (file listing + footer schema inference, single-threaded), and every
# query re-pays it for every table on every run. A catalog engine resolves a
# table's schema once; this memo is that catalog.
# The key carries the file's (mtime_ns, size) so a rewritten path is
# rebuilt, and the session's applicationId so a new session never sees plans
# from a stopped one.
_PLANS: dict[tuple, object] = {}
_PLANS_MAX = 256  # bound driver memory across long sessions

T = TypeVar("T")


def scoped_persist(df: DataFrame, storage_level=None, eager: bool = False) -> DataFrame:
    """persist() + register for a later release_scoped_caches() drain.

    ``eager=True`` materializes the cache NOW (one count()) — but only once
    per logical plan per drain scope. Use it when the consumers fan out as
    CONCURRENT jobs (AQE stage materialization, broadcast subqueries):
    Spark's cache locking is per-block and concurrent jobs do not share
    in-flight stages, so each racing job recomputes the whole upstream
    pipeline of any block it cannot lock — measured 12 re-runs of a
    tokenize+explode scan under dedup_ngram_jaccard's 11-way job fan-out.
    One eager pass builds every block once; the racers then only read.

    The once-per-plan guard keeps eager FREE on warm runs: a repeat run of
    the same query re-persists an identical plan whose blocks are already
    built (the runner drains between queries, not between a query's runs),
    so the eager count is skipped and the warm minimum measures exactly the
    lazy path. Cold run 1 pays one build job instead of N racing rebuilds."""
    df = df.persist(storage_level) if storage_level is not None else df.persist()
    _SCOPED.append(df)
    if eager:
        key = df.semanticHash()
        if key not in _MATERIALIZED:
            _MATERIALIZED.add(key)
            df.count()
    return df


def release_scoped_caches() -> int:
    """Unpersist every registered cache (non-blocking); returns the count.
    Call after the dependent actions (collect/write) have completed."""
    n = len(_SCOPED)
    for df in _SCOPED:
        try:
            df.unpersist(False)
        except Exception:
            pass  # session already stopped: nothing to release
    _SCOPED.clear()
    _MATERIALIZED.clear()
    return n


def plan_memo(spark: SparkSession, path: str, tag: str, build: Callable[[], T]) -> T:
    """Return ``build()``'s value, memoized per (tag, session, file identity).

    ``tag`` separates memos over the same file (a table's scan plan and a
    plan derived from it). ``build`` must return lazy plans only — never
    collected data — so a hit re-reads the current bytes when executed. A
    caller whose plan depends on session confs stores what it needs to
    re-assert them alongside the plan. An unreadable path is never memoized."""
    try:
        st = os.stat(path)
    except OSError:
        return build()
    key = (tag, spark.sparkContext.applicationId, path, st.st_mtime_ns, st.st_size)
    if key in _PLANS:
        return _PLANS[key]  # type: ignore[return-value]
    value = build()
    if len(_PLANS) >= _PLANS_MAX:
        _PLANS.clear()
    _PLANS[key] = value
    return value
