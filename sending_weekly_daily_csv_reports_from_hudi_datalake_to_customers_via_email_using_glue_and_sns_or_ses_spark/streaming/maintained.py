"""Streaming-driven maintained views (r9, VERDICT r8 #1): fuse the
CDC streaming source (`streaming/source.py`) with the incremental
view-maintenance classes (`operators/ivm.py`) through a foreachBatch
driver, so the reference's SCHEDULED report (template.py:470-519 runs
its transform nightly per cron) becomes a CONTINUOUSLY maintained one —
the view is O(changed rows) behind the table at every trigger, instead
of O(table) once per schedule.

Design — the stream is the WAKE-UP, the table is the SOURCE OF TRUTH:

    stream_cdc(root) ──new files──▶ foreachBatch ──▶ table.cdc(seen,
                                                     published_end)
                                                     ──▶ view.apply

Each micro-batch's CONTENT is deliberately not folded. Folding raw
stream rows would have to reconcile three stream-side artifacts the
batch machinery already solves: phantom rows (a crashed writer's
orphan files can stream before the next transaction reaps them),
commits split across micro-batches by maxFilesPerTrigger, and 'u'
rows that are log payloads rather than merged state. Instead the
driver reads only the batch's per-side max commit id as a signal,
clamps it to the table's PUBLISHED pointer, and folds the real CDC
window ``table.cdc(begin=view.through(), end=published_end)`` — the
same pointer-bounded, precombine-merged read every batch consumer
uses. Consequences:

* **phantom-proof**: an orphan file's rows wake the driver but are
  never folded (the pointer bound excludes them); if the writer's
  retry publishes them they fold then, exactly once;
* **exactly-once across restarts**: Spark's checkpoint redelivers a
  micro-batch after a crash, but the view's ``through`` token already
  covers the window — the re-fold is a no-op (the same at-least-once
  delivery / exactly-once effect contract as the batch loops in
  pipeline.py);
* **replace self-heal**: a CDC window spanning an
  insert_overwrite_table commit raises ReplaceCommitError by contract
  (before-images across a replace are underivable); the driver
  catches it and REBUILDS the view from the post-replace snapshot —
  order-insensitive, so the publish-gated (and possibly backfilled-
  late) 'r' marker needs no cross-batch sequencing;
* **the lost-wakeup race** (files visible before the pointer flip is
  the only ordering the writer guarantees): if the batch's max commit
  is ahead of the pointer, the driver waits up to ``publish_wait_s``
  for the flip; a commit whose writer died pre-flip is skipped (it is
  not published state) and its retry triggers a fresh wake-up.

Scale: each trigger costs the batch loop's price — one CDC-window
scan folded into a |groups|-row aggregate (operators/ivm.py), with
the dim terms of the join form pruned to changed keys. The stream
lists only new files per trigger, so a quiescent table costs nothing.
The maintained READ stays 1 scan / 0 shuffles (PLANS.md).

Reference parity: template.py:470-519 (the scheduled main()) and
:485-490 (the report join recomputed per run) — this module is that
report kept continuously current.
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..operators.ivm import (
    MaintainedAggregate,
    MaintainedStarAggregate,
    routed_fact_base,
)
from ..sinks.filegroups import open_any_table
from ..sinks.upsert import ReplaceCommitError
from .source import stream_cdc


class PublishWaitTimeout(RuntimeError):
    """A micro-batch saw commit files whose pointer flip did not land
    within ``publish_wait_s`` and the driver runs strict — raised so
    the streaming query FAILS instead of silently consuming the files:
    the checkpoint does not commit a failed batch, so a restart
    REPLAYS it and folds the by-then-published commit (at-least-once
    redelivery, token-guarded exactly-once effect)."""


def _published_end(
    table,
    batch_max: str | None,
    publish_wait_s: float,
    strict: bool = False,
) -> str | None:
    """The fold window's end: the table's PUBLISHED pointer, after
    waiting up to ``publish_wait_s`` for it to reach the batch's max
    commit id. Files land before the pointer flips, so a micro-batch
    can wake the driver moments before its commit is publishable — a
    bounded wait turns that race into a fold instead of a lost wakeup.

    The timeout trade (``strict``): a commit whose writer DIED
    pre-flip never publishes — the default skips it (its files are
    consumed; the writer's retry is a fresh wake-up). But a writer
    that merely STALLED longer than the wait publishes after the
    timeout with its files already checkpoint-consumed: no future
    trigger fires on a then-quiescent table, and the view stays
    stale until an unrelated commit. ``strict=True`` closes that
    hole by raising :class:`PublishWaitTimeout` — the failed batch is
    replayed on restart and folds the now-published commit — at the
    cost of a crash-looping stream while a genuinely dead writer's
    orphans await their reaping transaction. Pick strict when writers
    can stall longer than the wait; either way the fold itself stays
    pointer-bounded and token-guarded."""
    latest = table.latest_commit()
    if batch_max is None:
        return latest
    deadline = time.monotonic() + publish_wait_s
    while (latest is None or latest < batch_max) and (
        time.monotonic() < deadline
    ):
        time.sleep(0.05)
        latest = table.latest_commit()
    if strict and (latest is None or latest < batch_max):
        raise PublishWaitTimeout(
            f"{table.root}: commit {batch_max} has files on disk but "
            f"no pointer flip within {publish_wait_s}s — failing the "
            "batch so a restart replays it (strict_publish_wait)"
        )
    return latest


def _signal(spark: SparkSession, root: str, side: str, mft):
    """One side's wake-up stream: commit ids only (the fold re-reads
    real windows from the table, see module docstring)."""
    return stream_cdc(spark, root, max_files_per_trigger=mft).select(
        F.lit(side).alias("side"), F.col("_commit_time")
    )


def _start_writer(
    src, fold, checkpoint_location, available_now, processing_time
):
    """Shared foreachBatch writer boilerplate of the three drivers."""
    writer = src.writeStream.foreachBatch(fold).option(
        "checkpointLocation", checkpoint_location
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time is not None:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def _batch_max_by_side(batch_df) -> dict[str, str]:
    """Per-side max commit id in a micro-batch — the only thing the
    driver reads from batch content. Tiny aggregate (one row/side)."""
    return {
        r["side"]: r["m"]
        for r in batch_df.groupBy("side")
        .agg(F.max("_commit_time").alias("m"))
        .collect()
        if r["m"] is not None
    }


def _stream_gate(
    spark,
    quality_rules,
    sum_cols,
    avg_cols,
    metric_history_path,
    max_rel_change,
    run_key_cell: dict,
):
    """The batch loops' pre-publish quality/drift gate wired into the
    streaming fold (r10, VERDICT r9 #2): the SAME ``validate`` hook
    ``ivm._publish`` runs between the version write and the pointer
    flip — a violated rule (or a drifted metric, with
    ``metric_history_path``) raises BEFORE the flip, so the prior view
    version stays live, the ``through`` token is unchanged, the
    foreachBatch raises, and the STREAM FAILS with the micro-batch
    uncommitted: Spark's checkpoint replays the window on restart and
    the retry converges once the data (or the rules) are fixed — a red
    window can never flow into the continuously maintained view or its
    ``on_update`` report. ``run_key_cell['key']`` is set by the fold
    before apply/rebuild (the gate's history key is the fold's token,
    known only then). Returns None when there are no rules."""
    if not quality_rules:
        return None
    from ..pipeline import _avg_enricher, _quality_gate

    return _quality_gate(
        spark,
        quality_rules,
        _avg_enricher(sum_cols, avg_cols),
        run_key=lambda: run_key_cell["key"],
        metric_history_path=metric_history_path,
        max_rel_change=max_rel_change,
    )


def stream_maintained_view(
    spark: SparkSession,
    source_root: str,
    view_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint_location: str,
    minmax_cols: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    max_files_per_trigger: int | None = None,
    publish_wait_s: float = 10.0,
    strict_publish_wait: bool = False,
    on_update=None,  # (view, through: str) -> None, after each publish
    available_now: bool = False,
    processing_time: str | None = None,
    quality_rules: list | None = None,
    metric_history_path: str | None = None,
    max_rel_change: float = 0.1,
    avg_cols: bool = True,
):
    """Continuously maintain a SINGLE-TABLE grouped aggregate
    (:class:`~..operators.ivm.MaintainedAggregate`) from a table root's
    CDC stream (either engine — open_any_table). Returns the started StreamingQuery; the caller owns
    its lifecycle (``processAllAvailable``/``awaitTermination``/
    ``stop``). ``available_now=True`` drains the backlog and stops —
    the scheduled-report shape with streaming bookkeeping.

    The view seeds itself: the first fold REBUILDS from the snapshot
    as of the window end (cheaper and replace-proof versus replaying
    the full history as CDC), then maintains incrementally. A replace
    commit re-seeds the same way (see module docstring).

    ``on_update`` runs after each successful publish with the live
    view and its new ``through`` token — e.g. write the CSV report
    with ``report_id=f"cdc_{through}"`` for idempotent redelivery
    (pipeline.write_csv_report semantics).

    ``quality_rules`` (+ optional ``metric_history_path`` drift, r10)
    gate every publish BEFORE the pointer flip — see
    :func:`_stream_gate`: a red window fails the micro-batch, the
    checkpoint replays it on restart, and nothing gated-out is ever
    visible to readers or ``on_update``."""
    table = open_any_table(spark, source_root)
    view = MaintainedAggregate(
        spark,
        view_path,
        group_cols=group_cols,
        sum_cols=sum_cols,
        minmax_cols=minmax_cols,
        distinct_cols=distinct_cols,
    )
    run_key_cell: dict = {}
    gate = _stream_gate(
        spark, quality_rules, sum_cols, avg_cols,
        metric_history_path, max_rel_change, run_key_cell,
    )

    def fold(batch_df, _batch_id):
        batch_max = _batch_max_by_side(batch_df).get("t")
        end = _published_end(
            table, batch_max, publish_wait_s, strict_publish_wait
        )
        seen = view.through()
        if end is None or (seen is not None and end <= seen):
            return  # covered (restart redelivery) or nothing published
        run_key_cell["key"] = f"cdc_{end}"
        if seen is None:
            # genesis seed: snapshot beats replaying history as CDC
            view.rebuild(
                table.snapshot(as_of=end), through=end, validate=gate
            )
        else:
            try:
                win = table.cdc(begin=seen, end=end)
            except ReplaceCommitError:
                # re-seed from the post-replace snapshot (idempotent,
                # order-insensitive — the 'r' self-heal)
                view.rebuild(
                    table.snapshot(as_of=end), through=end, validate=gate
                )
            else:
                view.apply(
                    win,
                    through=end,
                    base=(
                        (lambda: table.snapshot(as_of=end))
                        if minmax_cols
                        else None
                    ),
                    validate=gate,
                )
        if on_update is not None:
            on_update(view, end)

    return _start_writer(
        _signal(spark, source_root, "t", max_files_per_trigger),
        fold,
        checkpoint_location,
        available_now,
        processing_time,
    )


def stream_maintained_join_view(
    spark: SparkSession,
    fact_root: str,
    dim_root: str,
    view_path: str,
    on: str | tuple[str, str],
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint_location: str,
    minmax_cols: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    how: str = "inner",
    max_files_per_trigger: int | None = None,
    publish_wait_s: float = 10.0,
    strict_publish_wait: bool = False,
    on_update=None,  # (view, through: dict) -> None, after each publish
    available_now: bool = False,
    processing_time: str | None = None,
    quality_rules: list | None = None,
    metric_history_path: str | None = None,
    max_rel_change: float = 0.1,
    avg_cols: bool = True,
):
    """Continuously maintain the 2-table JOIN aggregate — the
    reference's actual report query (template.py:485-490) — from BOTH
    tables' CDC streams: :func:`stream_maintained_star_view` with ONE
    dimension named ``"dim"``, so the view on disk, its ``{"fact",
    "dim"}`` token and the stream's side labels are those of
    :class:`~..operators.ivm.MaintainedJoinAggregate` and of the batch
    loop ``pipeline.run_maintained_join_report``. ``on`` is the
    equi-join column (one name, or ``(fact_col, dim_col)``); the dim's
    record key must be its join column."""
    fact_on, dim_on = (on, on) if isinstance(on, str) else on
    return stream_maintained_star_view(
        spark,
        fact_root,
        [("dim", dim_root, fact_on, dim_on)],
        view_path,
        group_cols,
        sum_cols,
        checkpoint_location,
        minmax_cols=minmax_cols,
        distinct_cols=distinct_cols,
        how=how,
        max_files_per_trigger=max_files_per_trigger,
        publish_wait_s=publish_wait_s,
        strict_publish_wait=strict_publish_wait,
        on_update=on_update,
        available_now=available_now,
        processing_time=processing_time,
        quality_rules=quality_rules,
        metric_history_path=metric_history_path,
        max_rel_change=max_rel_change,
        avg_cols=avg_cols,
    )


def stream_maintained_star_view(
    spark: SparkSession,
    fact_root: str,
    dims: list[tuple[str, str, str, str]],
    view_path: str,
    group_cols: list[str],
    sum_cols: list[str],
    checkpoint_location: str,
    minmax_cols: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    how: str = "inner",
    max_files_per_trigger: int | None = None,
    publish_wait_s: float = 10.0,
    strict_publish_wait: bool = False,
    on_update=None,  # (view, through: dict) -> None, after each publish
    available_now: bool = False,
    processing_time: str | None = None,
    quality_rules: list | None = None,
    metric_history_path: str | None = None,
    max_rel_change: float = 0.1,
    avg_cols: bool = True,
):
    """Continuously maintain a STAR aggregate
    (:class:`~..operators.ivm.MaintainedStarAggregate`) from all k+1
    tables' CDC streams, unioned into one wake-up stream so a single
    foreachBatch driver folds coordinated window SETS under the
    ``{side: instant}`` token (the exactly-once contract of the batch
    loop ``pipeline.run_maintained_star_report``). ``dims`` entries
    are ``(name, table_root, fact_on, dim_on)`` — the
    ``pipeline.MaintainedStarReportConfig`` shape; the 2-table join is
    the one-dim case (:func:`stream_maintained_join_view`).

    Set coordination: every trigger folds everything PUBLISHED on
    every side up to its pointer, regardless of which side's files
    woke the driver — a dim commit arriving after a backlog of fact
    commits folds the whole set at once, and a fact-only wake with
    quiescent dims folds a fact-only window (dim terms skipped, the
    quiescent instants carried forward). Token-guarded exactly-once
    across restarts; a replace on ANY side re-seeds from the star
    snapshots; genesis defers until every dimension has published at
    least one commit (the inner star join is empty before that); and
    every table must have one commit before the stream opens (the
    ``stream_cdc`` contract: a streaming plan cannot add sources
    later)."""
    table_f = open_any_table(spark, fact_root)
    dim_tables = {
        name: open_any_table(spark, root) for name, root, _, _ in dims
    }
    view = MaintainedStarAggregate(
        spark,
        view_path,
        dims=[(n, fo, do) for n, _, fo, do in dims],
        group_cols=group_cols,
        sum_cols=sum_cols,
        minmax_cols=minmax_cols,
        distinct_cols=distinct_cols,
        how=how,
    )
    for name, _, _, dim_on in dims:
        rk = dim_tables[name].record_key
        if rk != dim_on:
            raise ValueError(
                f"stream_maintained_star_view: dim {name!r} join column "
                f"{dim_on!r} must be its table's record key ({rk!r}) — "
                "each star dimension is N:1 by contract"
            )
    tables = {"fact": table_f, **dim_tables}
    dim_names = [n for n, _, _, _ in dims]
    run_key_cell: dict = {}
    gate = _stream_gate(
        spark, quality_rules, sum_cols, avg_cols,
        metric_history_path, max_rel_change, run_key_cell,
    )

    def fold(batch_df, _batch_id):
        maxes = _batch_max_by_side(batch_df)
        seen = view.through() or {}
        ends, adv = {}, {}
        for side, table in tables.items():
            ends[side] = _published_end(
                table, maxes.get(side), publish_wait_s,
                strict_publish_wait,
            )
            adv[side] = ends[side] is not None and (
                seen.get(side) is None or ends[side] > seen[side]
            )
        if not any(adv.values()):
            return  # covered (restart redelivery) or nothing published
        if ends["fact"] is not None and any(
            ends[n] is None for n in dim_names
        ):
            # some dimension has never published: the star join is
            # empty — defer the whole set until its first commit wakes
            # the driver
            return
        token = {
            s: ends[s] if adv[s] else seen.get(s) for s in tables
        }
        run_key_cell["key"] = "cdc_" + "_".join(
            str(token[s]) for s in ["fact"] + dim_names
        )

        # fold-local snapshot memo: dim_states, and the minmax base pin
        # the SAME (table, instant) snapshots — build each time-travel
        # plan once per fold (r9 review)
        snaps: dict = {}

        def _snap(table, inst):
            key = (table.root, inst)
            if key not in snaps:
                snaps[key] = table.snapshot(as_of=inst)
            return snaps[key]

        def reseed():
            fs = _snap(table_f, token["fact"])
            ds = {n: _snap(dim_tables[n], token[n]) for n in dim_names}
            if fs is None or any(v is None for v in ds.values()):
                return False  # a side has no state yet: nothing to do
            view.rebuild(
                view.joined(fs, ds), through=token, validate=gate
            )
            return True

        # genesis = the TOKEN is absent — also heals a view seeded
        # without a through token (r9 review: the old current()-is-None
        # clause crash-looped that state with a misleading fact_base
        # error; rebuild is idempotent, so re-seeding is always safe)
        if seen.get("fact") is None:
            if not reseed():
                return
        else:
            try:
                wins = {
                    s: (
                        tables[s].cdc(begin=seen.get(s), end=token[s])
                        if adv[s]
                        else None
                    )
                    for s in tables
                }
            except ReplaceCommitError:
                if not reseed():
                    return
            else:
                view.apply(
                    wins["fact"],
                    {n: wins[n] for n in dim_names},
                    dim_states={
                        n: (lambda t, tab=dim_tables[n]: _snap(tab, t))
                        for n in dim_names
                    },
                    # NOT the _snap memo: the routed read is pruned to
                    # the windows' keys, narrower than the (table,
                    # instant) snapshots the memo shares
                    fact_base=(
                        (
                            lambda: routed_fact_base(
                                table_f,
                                [
                                    (fo, do, wins[n])
                                    for n, fo, do in view.dims
                                ],
                                as_of=seen.get("fact"),
                            )
                        )
                        if seen.get("fact") is not None
                        else None
                    ),
                    through=token,
                    base=(
                        (
                            lambda: view.joined(
                                _snap(table_f, token["fact"]),
                                {
                                    n: _snap(dim_tables[n], token[n])
                                    for n in dim_names
                                },
                            )
                        )
                        if minmax_cols
                        else None
                    ),
                    validate=gate,
                )
        if on_update is not None:
            on_update(view, token)

    src = _signal(spark, fact_root, "fact", max_files_per_trigger)
    for name, root, _, _ in dims:
        src = src.unionByName(
            _signal(spark, root, name, max_files_per_trigger)
        )
    return _start_writer(
        src, fold, checkpoint_location, available_now, processing_time
    )


def stream_maintained_scd2(
    spark: SparkSession,
    source_root: str,
    history_path: str,
    checkpoint_location: str,
    key: str | None = None,
    max_files_per_trigger: int | None = None,
    publish_wait_s: float = 10.0,
    strict_publish_wait: bool = False,
    on_update=None,  # (view, through: str) -> None, after each publish
    available_now: bool = False,
    processing_time: str | None = None,
):
    """Continuously maintain an SCD2 dimension history
    (:class:`~..sinks.scd2.MaintainedSCD2`, r10) from a table root's
    CDC stream — the fourth member of the streaming maintained family,
    under the identical driver contract as the aggregates: the stream
    is the wake-up, the fold reads the pointer-bounded CDC window,
    the through token makes redelivery a no-op, genesis (and a replace
    commit's ReplaceCommitError) re-seeds from the as-of snapshot.
    ``key`` defaults to the source table's record key. Works over both
    engines (open_any_table)."""
    table = open_any_table(spark, source_root)
    view_key = key or table.record_key
    if view_key != table.record_key:
        # the CDC frame's only top-level non-meta column IS the record
        # key — any other `key` would pass genesis (the snapshot has
        # the column top-level) and crash the FIRST incremental fold
        # (r10 review: the parameter was a trap)
        raise ValueError(
            f"stream_maintained_scd2: key {view_key!r} must be the "
            f"source table's record key ({table.record_key!r}) — CDC "
            "windows carry only the record key at top level; track a "
            "business key by making it the table's record key"
        )
    from ..sinks.scd2 import MaintainedSCD2

    view = MaintainedSCD2(spark, history_path, key=view_key)

    def fold(batch_df, _batch_id):
        batch_max = _batch_max_by_side(batch_df).get("t")
        end = _published_end(
            table, batch_max, publish_wait_s, strict_publish_wait
        )
        seen = view.through()
        if end is None or (seen is not None and end <= seen):
            return  # covered (restart redelivery) or nothing published
        if seen is None:
            # genesis seed: the snapshot opens every live row at `end`
            # (history before the seed is unknowable by construction)
            view.rebuild(table.snapshot(as_of=end), through=end)
        else:
            try:
                win = table.cdc(begin=seen, end=end)
            except ReplaceCommitError:
                view.rebuild(table.snapshot(as_of=end), through=end)
            else:
                view.apply(win, through=end)
        if on_update is not None:
            on_update(view, end)

    return _start_writer(
        _signal(spark, source_root, "t", max_files_per_trigger),
        fold,
        checkpoint_location,
        available_now,
        processing_time,
    )
