"""Operator corpus registry.

Every implemented operator from SURVEY.md §2 registers itself here via
the ``@query`` decorator: a named PySpark program ``(spark, sf_dir) ->
DataFrame`` plus (when SQL-expressible) an equivalent ANSI-SQL oracle
that DuckDB runs on the same parquet for the driver's correctness gate.

Oracle-parity conventions (SURVEY.md §7.3d):
  * every computed column is aliased identically on both sides;
  * money/float aggregates go through exact decimal arithmetic and are
    cast to double only at the end (bit-identical across engines);
  * session timezone is UTC on the Spark side; timestamps compare raw;
  * deterministic tie-breaks everywhere a top-k / dedup picks a row.
"""

from __future__ import annotations

import atexit
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

#: entries retired from the driver registry to fund slots for newer
#: operators (the driver checks at most ~50 entries). A retired entry
#: keeps its full (query, oracle) pair and stays value-hash-checked —
#: by tests/test_retired_parity.py instead of the driver.
RETIRED_QUERIES: dict[str, QueryFn] = {}
RETIRED_ORACLES: dict[str, str] = {}


def query(
    name: str, oracle: str | None = None, retired: bool = False
) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; ``oracle`` is DuckDB-ready ANSI SQL over the
    pre-registered views (region nation customer supplier part orders
    lineitem events documents embeddings). Omit it for ops that aren't
    SQL-expressible (driver then records a rows-only check).
    ``retired=True`` moves the entry to the pytest-checked RETIRED
    registries (no driver slot, same oracle contract).
    """

    def deco(fn: QueryFn) -> QueryFn:
        queries = RETIRED_QUERIES if retired else QUERIES
        oracles = RETIRED_ORACLES if retired else ORACLES
        queries[name] = fn
        if oracle is not None:
            oracles[name] = oracle
        return fn

    return deco


def _unpersist(value) -> None:
    # a frame, or a list of frames held as one value (the pair graph
    # and its shingle index)
    for frame in value if isinstance(value, list) else [value]:
        if frame is not None:
            frame.unpersist()


def _release(value, release: Callable) -> None:
    try:
        release(value)
    except Exception:  # noqa: BLE001 — dead context / non-frame value
        pass


#: the session memo: (applicationId, kind, key) -> (value, release)
_MEMO: dict[tuple, tuple] = {}


def session_memo(
    spark: SparkSession,
    kind: str,
    key,
    build: Callable,
    release: Callable = _unpersist,
):
    """The one store for operator intermediates that are reused within a
    session (pair graph, tf table, signatures, trained models, layout
    dirs): return the value held for ``(applicationId, kind, key)``, or
    call ``build()`` and hold its result. A ``None`` result is returned
    but not held.

    Keying on applicationId keeps a restarted session from being served
    frames built by a dead SparkContext; every call also drops the
    entries of any other applicationId and hands each to its
    ``release`` (default: best-effort ``unpersist``), so at most one
    session's entries are ever retained and none pins py4j references
    into a dead JVM. ``clear_intermediate_caches`` releases them all."""
    app = spark.sparkContext.applicationId
    for stale in [k for k in _MEMO if k[0] != app]:
        _release(*_MEMO.pop(stale))
    full_key = (app, kind, key)
    hit = _MEMO.get(full_key)
    if hit is not None:
        return hit[0]
    value = build()
    if value is not None:
        _MEMO[full_key] = (value, release)
    return value


def _release_outside_jvm() -> None:
    # at interpreter exit the JVM dies with the process, taking every
    # persisted frame along; only releases that own something outside
    # it (the IVF layout's temp dir) run, and no py4j call is made — the
    # context may already be stopped and the gateway gone
    for value, release in _MEMO.values():
        if release is not _unpersist:
            _release(value, release)
    _MEMO.clear()


atexit.register(_release_outside_jvm)


def clear_intermediate_caches() -> None:
    """Release and forget every session-memo entry, plus the bounded
    ``_window_postings`` persist ring. Benchmarking helper: the headline
    suite deliberately measures steady state (memos warm — a
    long-running session's behavior), but SLOPE measurements
    (tools/scaling_bench.py, tools/gen_organic_sf.py) must time first
    evaluations, or a memo hit would masquerade as a flat scaling
    curve."""
    from .dedup import _POSTINGS_HANDLES

    while _MEMO:
        _release(*_MEMO.popitem()[1])
    while _POSTINGS_HANDLES:  # never looked up: a persist budget only
        _release(_POSTINGS_HANDLES.pop(), _unpersist)


def _load_all() -> None:
    # Registration order = the driver's correctness-check order. The
    # corpus is consolidated to fit the driver's ~50-entry budget in
    # full; families the round-1 driver never reached register first so
    # any residual budget cut lands on the longest-green entries last.
    from . import (  # noqa: F401
        scoring,
        windows,
        subqueries,
        textual,
        curation,
        weburl,
        timeseries,
        streaming_entries,
        similarity,
        multimodal,
        tokenizer,
        joins,
        quality,
        dedup,
        aggregates,
        relational,
        scalars,
        setops,
    )


_load_all()
