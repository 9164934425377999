"""The end-to-end report pipeline — the engine version of the
reference's ``main()`` (template.py:470-519):

    sources (FULL snapshot / INC checkpointed) → temp views
      → SQL transform → CSV report → presigned URL → email

Differences by design (SURVEY.md §3.1/§4):
  * the result is written distributed (sinks/report.py), never
    ``toPandas``'d to the driver (template.py:456);
  * incremental checkpoints advance AFTER the sink + delivery succeed
    (at-least-once with idempotent report keys), not before
    (template.py:244-251 is at-most-once);
  * delivery is pluggable; the default doubles record instead of send.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .catalog import Catalog, SourceSpec
from .delivery import (
    EmailMessage,
    EmailSender,
    Presigner,
    deliver_report,
    parse_recipients,
)
from .sinks.report import write_csv_report


@dataclass
class PipelineConfig:
    """Typed ``loaders`` config (template.py:471-500, README.md:9-38)."""

    sources: list[SourceSpec]
    query: str
    report_base: str
    recipients: list[str] = field(default_factory=list)
    file_expires_in: int = 86400
    report_id: str | None = None
    single_file: bool = True
    subject: str = "Your scheduled report"
    #: optional data-quality gate (operators/quality.py rules) run on
    #: the transform RESULT before anything is written or emailed: a
    #: failing rule aborts the run with DataQualityError — no partial
    #: report lands, no checkpoint advances (the next run retries the
    #: same window). The circuit breaker the reference lacked: its
    #: main() emails whatever the transform returns, including an
    #: empty frame from a mis-checkpointed incremental window.
    quality_rules: list = field(default_factory=list)


@dataclass
class PipelineResult:
    df: DataFrame
    report_path: str
    email: EmailMessage


def run_pipeline(
    spark: SparkSession,
    config: PipelineConfig,
    presigner: Presigner | None = None,
    sender: EmailSender | None = None,
) -> PipelineResult:
    catalog = Catalog(spark)
    for spec in config.sources:
        # Catalog keeps INC reader handles; their staged checkpoints are
        # committed only after the sink + delivery succeed (at-least-once)
        catalog.register(spec)

    result = catalog.sql(config.query)
    if config.quality_rules:
        from .operators.quality import expect

        # persist across gate + CSV write: the gate's aggregate is an
        # action, and without the persist the full transform (every
        # source join) would execute twice per run. The unpersist is in
        # a finally: DataQualityError is the DESIGNED exit path here,
        # and without it the persisted frame would leak for the
        # application lifetime on every gated failure (ADVICE r7)
        result = result.persist()
        try:
            # raises DataQualityError BEFORE any write/delivery/checkpoint
            expect(result, config.quality_rules)
            report_path = write_csv_report(
                result,
                config.report_base,
                report_id=config.report_id,
                single_file=config.single_file,
            )
        finally:
            result.unpersist()  # gate + CSV consumed it (or one raised)
    else:
        report_path = write_csv_report(
            result,
            config.report_base,
            report_id=config.report_id,
            single_file=config.single_file,
        )
    email = deliver_report(
        report_path,
        config.recipients,
        presigner=presigner,
        sender=sender,
        expires_in=config.file_expires_in,
        subject=config.subject,
    )
    catalog.commit_incremental()
    return PipelineResult(df=result, report_path=report_path, email=email)


def config_from_loaders(
    loaders: dict, report_base: str | None = None
) -> PipelineConfig:
    """Adapt the reference's ``loaders`` config dict (template.py:471-500,
    README.md:9-38) to a typed PipelineConfig, so an existing config file
    drives this engine unchanged.

    Mapping:
      * ``source[]``: ``hudi_path`` → a ``fmt="hudi"`` source (real Hudi
        datasource when jars are present, KeyedTable emulation
        otherwise); a plain ``path`` key reads ``format`` (default
        parquet). ``type`` FULL|INC is passed through.
      * ``transform.query`` → the SQL transform.
      * ``email``: ``recipient_email`` (comma-separated string OK),
        ``subject``, ``file_expires_in``; ``report_bucket`` becomes the
        report base path unless ``report_base`` overrides it (use an
        s3a://bucket URI on a cluster with the S3 filesystem on the
        classpath — the writer goes through the Hadoop FS API either
        way).
    """
    sources = []
    for entry in loaders.get("source", []):
        if "hudi_path" in entry:
            path, fmt = entry["hudi_path"], "hudi"
        else:
            path, fmt = entry["path"], entry.get("format", "parquet")
        sources.append(
            SourceSpec(
                table_name=entry["table_name"],
                path=path,
                fmt=fmt,
                load_type=entry.get("type", "FULL"),
                options=dict(entry.get("options", {})),
            )
        )
    email = loaders.get("email", {})
    base = report_base or email.get("report_bucket", "reports")
    quality = loaders.get("quality", [])
    if quality:
        from .operators.quality import rules_from_config

        quality = rules_from_config(quality)
    return PipelineConfig(
        sources=sources,
        query=loaders["transform"]["query"],
        report_base=base,
        recipients=parse_recipients(email.get("recipient_email", [])),
        file_expires_in=int(email.get("file_expires_in", 86400)),
        subject=email.get("subject", "Your scheduled report"),
        quality_rules=quality,
    )


def _avg_enricher(sum_cols: list[str], enabled: bool):
    """The shared presentation enricher of the maintained-report loops
    (ADVICE r8: previously duplicated verbatim across all three):
    ``avg_<c> = sum_<c>/n_<c>`` per sum column, NULL-safe (an all-NULL
    group divides nothing), or identity when ``avg_cols`` is off."""
    if not enabled:
        return lambda frame: frame

    def enrich(frame):
        from pyspark.sql import functions as F

        for c in sum_cols:
            frame = frame.withColumn(
                f"avg_{c}",
                F.when(
                    F.col(f"n_{c}") != 0, F.col(f"sum_{c}") / F.col(f"n_{c}")
                ),
            )
        return frame

    return enrich


def _quality_gate(
    spark,
    quality_rules: list,
    enrich,
    run_key,
    metric_history_path: str | None = None,
    max_rel_change: float = 0.1,
):
    """The shared pre-publish quality/drift gate of the maintained-
    report loops (ADVICE r8: the closure was triplicated and only the
    single-table copy supported drift). Returns the ``validate``
    callable ``ivm._publish`` runs BETWEEN the version write and the
    pointer flip — a raise aborts with the previous version live and
    the token unchanged, so nothing gated-out is ever published or
    marked consumed and the window genuinely retries. ``run_key`` is a
    zero-arg callable returning the run's history key (the CDC instant
    /instant-set — known only after the readers stage their windows,
    hence lazy). With ``metric_history_path`` the gate also fails on
    DRIFT — any metric moving more than ``max_rel_change`` relative to
    the last-5-runs mean (the Deequ anomaly check); history records
    the run even when it fails, with ok=False only for absolute-
    threshold failures (drift-only runs keep voting so a legitimate
    level shift can age into the baseline instead of wedging the
    loop). Returns None when there are no rules."""
    if not quality_rules:
        return None

    def gate(staged):
        from .operators.quality import (
            DataQualityError,
            MetricHistory,
            run_checks,
        )

        report = run_checks(enrich(staged), quality_rules).persist()
        try:
            if metric_history_path is not None:
                hist = MetricHistory(spark, metric_history_path)
                judged = hist.check_drift(
                    report, run_key(), max_rel_change
                ).collect()
                bad = [
                    r for r in judged if not r["passed"] or r["drifted"]
                ]
                hist.append(
                    report,
                    run_key(),
                    ok=all(r["passed"] for r in judged),
                )
            else:
                bad = [r for r in report.collect() if not r["passed"]]
        finally:
            report.unpersist()
        if bad:
            # DQRule.name (not rule(column)): min_rows has no column
            # and would print "min_rows(None)"
            lines = ", ".join(
                f"{quality_rules[r['rule_seq']].name} "
                f"metric={r['metric']:.6f}"
                + (
                    f" drifted from {r['baseline']:.6f}"
                    if "drifted" in r.__fields__ and r["drifted"]
                    else f" < {r['threshold']}"
                )
                for r in bad
            )
            raise DataQualityError(f"maintained report gate failed: {lines}")

    return gate


@dataclass
class MaintainedReportConfig:
    """The scheduled-report loop the reference runs nightly, done
    incrementally (late r7): instead of re-running the full SQL
    transform per schedule, a CDC window maintains a grouped aggregate
    and the report is written from the |groups|-sized view — O(changed
    rows) per run. ``avg_cols=True`` adds ``avg_<c> = sum_<c>/n_<c>``
    presentation columns (NULL-safe). ``minmax_cols`` maintains
    ``min_<c>``/``max_<c>`` too — windows whose retractions threaten a
    stored extremum recompute just those groups against the source
    snapshot (supplied automatically by ``run_maintained_report``)."""

    source_path: str  # KeyedTable root
    table_name: str
    group_cols: list[str]
    sum_cols: list[str]
    view_path: str
    report_base: str
    checkpoint_root: str
    recipients: list[str] = field(default_factory=list)
    file_expires_in: int = 86400
    subject: str = "Your scheduled report"
    avg_cols: bool = True
    minmax_cols: list[str] = field(default_factory=list)
    #: exact COUNT(DISTINCT) columns maintained via auxiliary state
    #: (operators/ivm.py r9); reports gain ``distinct_<c>`` columns
    distinct_cols: list[str] = field(default_factory=list)
    #: optional data-quality gate on the maintained view before the
    #: report is written (PipelineConfig.quality_rules semantics: a
    #: failure aborts before write/delivery/checkpoint; the CDC
    #: window is NOT consumed, so the next run retries it)
    quality_rules: list = field(default_factory=list)
    #: optional metric-history dir: each gated run's quality report is
    #: appended under its CDC instant, and the run additionally fails
    #: on DRIFT — any metric moving more than ``max_rel_change``
    #: relative to the last-5-runs mean (the Deequ anomaly check; a
    #: completeness slide from 0.98 to 0.72 fails here even when its
    #: absolute threshold still passes). Requires quality_rules.
    metric_history_path: str | None = None
    max_rel_change: float = 0.1


def run_maintained_report(
    spark: SparkSession,
    config: MaintainedReportConfig,
    presigner: Presigner | None = None,
    sender: EmailSender | None = None,
) -> PipelineResult | None:
    """One scheduled run: fold the new CDC window into the maintained
    aggregate, write the CSV report, deliver, then checkpoint. Returns
    None — no report, no email — when the source has no new commits.

    Exactly-once effect under the at-least-once protocol: the apply is
    guarded by the window's ``staged_end`` token, the CSV write is
    idempotent by report_id = that instant (a redelivered run rewrites
    the same key), and only the email is at-least-once — the
    reference's own delivery semantics (template.py:244-251 was
    at-MOST-once; losing a report was judged worse than re-sending
    one). A source ``overwrite`` (insert_overwrite_table) self-heals:
    the loop re-seeds the view from the post-replace snapshot —
    rebuild is idempotent, so every crash window stays safe — and
    resumes incremental maintenance from the replace instant."""
    from .operators.ivm import MaintainedAggregate
    from .sinks.upsert import ReplaceCommitError
    from .sources.incremental import CDCReader

    reader = CDCReader(
        spark,
        config.table_name,
        config.source_path,
        checkpoint_root=config.checkpoint_root,
    )
    view = MaintainedAggregate(
        spark,
        config.view_path,
        group_cols=config.group_cols,
        sum_cols=config.sum_cols,
        minmax_cols=config.minmax_cols,
        distinct_cols=config.distinct_cols,
    )
    # the window starts at max(reader checkpoint, view.through()): a
    # crash between apply and commit followed by NEW upstream commits
    # must not hand the fold an extended window whose prefix the view
    # already contains (delta re-folds double-count)
    _enrich = _avg_enricher(config.sum_cols, config.avg_cols)
    # run_key is lazy: `through` is assigned only after the reader
    # stages its window, and the gate runs inside apply/rebuild
    gate = _quality_gate(
        spark,
        config.quality_rules,
        _enrich,
        run_key=lambda: f"cdc_{through}",
        metric_history_path=config.metric_history_path,
        max_rel_change=config.max_rel_change,
    )
    try:
        win = reader.read(after=view.through())
    except ReplaceCommitError:
        # the source was overwritten (insert_overwrite_table): CDC
        # across a replace is underivable by contract, and the staged
        # end is already the post-replace instant — re-seed the view
        # from the snapshot AS OF it (O(table), but only on replace
        # commits), then report as usual. The checkpoint advances at
        # the tail commit like every other window (rebuild is
        # idempotent, so a crash before it simply re-seeds)
        through = reader.staged_end()
        view.rebuild(
            reader.table.snapshot(as_of=through),
            through=through,
            validate=gate,
        )
    else:
        if win is None:
            if reader.staged_end() is not None:
                reader.commit()  # view already covers it: catch-up
            return None  # quiescent source: no new report this run
        through = reader.staged_end()
        # MIN/MAX maintenance may need the source state AS OF the
        # window end for dirty-group recomputes; the time-travel read
        # pins it even if a concurrent writer has already committed
        # past `through`. Passed LAZILY so clean windows (insert-only,
        # interior changes) never construct it — a lagging consumer
        # whose as-of snapshot the cleaner removed still completes
        # every run that doesn't need it
        view.apply(
            win,
            through=through,
            base=(lambda: reader.table.snapshot(as_of=through))
            if config.minmax_cols
            else None,
            validate=gate,
        )
    df = view.read(
        avg=config.avg_cols, distinct=bool(config.distinct_cols)
    )
    report_path = write_csv_report(
        df, config.report_base, report_id=f"cdc_{through}", single_file=True
    )
    email = deliver_report(
        report_path,
        config.recipients,
        presigner=presigner,
        sender=sender,
        expires_in=config.file_expires_in,
        subject=config.subject,
    )
    reader.commit()
    return PipelineResult(df=df, report_path=report_path, email=email)


@dataclass
class MaintainedJoinReportConfig:
    """The scheduled JOIN report — the reference's actual transform
    (orders ⋈ customers + aggregate, template.py:485-490) — maintained
    incrementally from BOTH tables' CDC streams (r8, VERDICT r7 #1):
    each run costs O(changed fact rows + fact rows matching changed dim
    keys), never a join over the fact table. ``on`` is the equi-join
    key as (fact_col, dim_col); the dim side's record key must BE its
    join column (N:1, the star-schema shape)."""

    fact_path: str  # KeyedTable root (the big, frequently-changing side)
    fact_name: str
    dim_path: str  # KeyedTable root; record key == join key
    dim_name: str
    on: str | tuple[str, str]
    group_cols: list[str]
    sum_cols: list[str]
    view_path: str
    report_base: str
    checkpoint_root: str
    recipients: list[str] = field(default_factory=list)
    file_expires_in: int = 86400
    subject: str = "Your scheduled report"
    avg_cols: bool = True
    minmax_cols: list[str] = field(default_factory=list)
    #: exact COUNT(DISTINCT) columns (distinct_<c> report columns)
    distinct_cols: list[str] = field(default_factory=list)
    #: optional quality gate on the maintained view (run_checks rules);
    #: a failure aborts before write/delivery/checkpoint, so the window
    #: pair is retried after the data problem is fixed
    quality_rules: list = field(default_factory=list)
    #: optional metric-history dir + drift bound (ADVICE r8: previously
    #: single-table only) — MaintainedReportConfig semantics, keyed by
    #: the run's instant pair
    metric_history_path: str | None = None
    max_rel_change: float = 0.1
    #: join semantics (r10): "inner" (default) or "left" — the
    #: left-outer maintained join keeps unmatched fact rows in the
    #: NULL dim-attribute group (operators/ivm.py how="left")
    how: str = "inner"


def run_maintained_join_report(
    spark: SparkSession,
    config: MaintainedJoinReportConfig,
    presigner: Presigner | None = None,
    sender: EmailSender | None = None,
) -> PipelineResult | None:
    """One scheduled run of the maintained JOIN report: the star loop
    (:func:`_run_maintained_star`) over the 2-table view — the star
    with one dimension named ``"dim"`` — and its two readers, named
    ``fact_name`` and ``dim_name``. Returns None when neither source
    has new commits.

    Exactly-once effect: the fold is guarded by the instant PAIR token
    ``{"fact", "dim"}``, the CSV key ``cdc_<fact>_<dim>`` embeds both
    instants (redelivered runs rewrite the same key), and only the
    email is at-least-once. A replace commit (insert_overwrite_table)
    on EITHER side re-seeds the view from the post-replace joined
    snapshot and resumes incremental maintenance from the pair."""
    from .operators.ivm import MaintainedJoinAggregate
    from .sources.incremental import CDCReader

    view = MaintainedJoinAggregate(
        spark,
        config.view_path,
        on=config.on,
        group_cols=config.group_cols,
        sum_cols=config.sum_cols,
        minmax_cols=config.minmax_cols,
        distinct_cols=config.distinct_cols,
        how=config.how,
    )
    readers = {
        side: CDCReader(
            spark, name, path, checkpoint_root=config.checkpoint_root
        )
        for side, name, path in (
            ("fact", config.fact_name, config.fact_path),
            ("dim", config.dim_name, config.dim_path),
        )
    }
    return _run_maintained_star(
        spark, config, view, readers, presigner, sender
    )


@dataclass
class MaintainedStarReportConfig:
    """The scheduled STAR report: a grouped aggregate over
    fact ⋈ D1 ⋈ … ⋈ Dk maintained incrementally from all k+1 CDC
    streams (operators/ivm.py MaintainedStarAggregate) — the k-dim
    generalization of MaintainedJoinReportConfig. ``dims`` entries are
    ``(name, table_path, fact_on, dim_on)``; each dim's record key must
    BE its join column (N:1 per dimension, the star-schema shape)."""

    fact_path: str
    fact_name: str
    dims: list[tuple[str, str, str, str]]
    group_cols: list[str]
    sum_cols: list[str]
    view_path: str
    report_base: str
    checkpoint_root: str
    recipients: list[str] = field(default_factory=list)
    file_expires_in: int = 86400
    subject: str = "Your scheduled report"
    avg_cols: bool = True
    minmax_cols: list[str] = field(default_factory=list)
    #: exact COUNT(DISTINCT) columns (distinct_<c> report columns)
    distinct_cols: list[str] = field(default_factory=list)
    #: optional quality gate — runs as the view publish's pre-pointer-
    #: flip validate hook: a red window leaves the previous version
    #: live, the token unchanged, and every reader unconsumed
    quality_rules: list = field(default_factory=list)
    #: optional metric-history dir + drift bound (ADVICE r8: previously
    #: single-table only) — MaintainedReportConfig semantics, keyed by
    #: the run's instant set
    metric_history_path: str | None = None
    max_rel_change: float = 0.1
    #: star semantics (r10): "inner" (default) or "left" — the
    #: left-outer maintained star keeps unmatched fact rows in each
    #: dim's NULL attribute group (operators/ivm.py how="left")
    how: str = "inner"


def run_maintained_star_report(
    spark: SparkSession,
    config: MaintainedStarReportConfig,
    presigner: Presigner | None = None,
    sender: EmailSender | None = None,
) -> PipelineResult | None:
    """One scheduled run of the maintained STAR report: the star loop
    (:func:`_run_maintained_star`) over the k-dim view, with the fact
    reader named ``fact_name`` and each dim's ``<fact_name>__<dim>``.
    Returns None when no source has new commits."""
    from .operators.ivm import MaintainedStarAggregate
    from .sources.incremental import CDCReader

    view = MaintainedStarAggregate(
        spark,
        config.view_path,
        dims=[(n, fo, do) for n, _, fo, do in config.dims],
        group_cols=config.group_cols,
        sum_cols=config.sum_cols,
        minmax_cols=config.minmax_cols,
        distinct_cols=config.distinct_cols,
        how=config.how,
    )
    readers = {
        "fact": CDCReader(
            spark, config.fact_name, config.fact_path,
            checkpoint_root=config.checkpoint_root,
        ),
        **{
            name: CDCReader(
                spark, f"{config.fact_name}__{name}", path,
                checkpoint_root=config.checkpoint_root,
            )
            for name, path, _, _ in config.dims
        },
    }
    return _run_maintained_star(
        spark, config, view, readers, presigner, sender
    )


def _run_maintained_star(
    spark: SparkSession,
    config,  # MaintainedJoinReportConfig | MaintainedStarReportConfig
    view,  # MaintainedStarAggregate (MaintainedJoinAggregate: one dim)
    readers: dict,  # side ("fact" or a dim name) -> CDCReader
    presigner: Presigner | None,
    sender: EmailSender | None,
) -> PipelineResult | None:
    """The one report loop of the maintained joins: read all k+1 CDC
    windows (each starting at max(checkpoint, view-through) — the
    crash-extended-window guard), fold the telescoped delta-join terms,
    write the CSV, deliver, then checkpoint every reader.

    Exactly-once via the full {side: instant} token; the CSV key
    embeds every instant; a replace commit on ANY side re-seeds the
    view from the post-replace star snapshot and resumes from the
    token; the quality gate runs pre-pointer-flip so red windows
    genuinely retry."""
    from .operators.ivm import routed_fact_base
    from .sinks.upsert import ReplaceCommitError

    for name, _, dim_on in view.dims:
        rk = readers[name].table.record_key
        if rk != dim_on:
            # the delta math requires N:1 — at most one dim row per
            # join key, which the table guarantees only for its record
            # key; a non-key join column would silently multiply rows
            raise ValueError(
                f"{type(view).__name__}: dim {name!r} join column "
                f"{dim_on!r} must be its table's record key ({rk!r}) — "
                "each dimension of the maintained join is N:1 by contract"
            )
    dim_names = [n for n, _, _ in view.dims]
    f_table = readers["fact"].table

    _enrich = _avg_enricher(config.sum_cols, config.avg_cols)
    gate = _quality_gate(
        spark,
        config.quality_rules,
        _enrich,
        # `ends` is assigned after the readers stage their windows —
        # the gate only runs inside apply/rebuild, past that point
        run_key=lambda: "cdc_" + "_".join(str(ends[s]) for s in readers),
        metric_history_path=config.metric_history_path,
        max_rel_change=config.max_rel_change,
    )
    seen = view.through() or {}
    rebuild = False
    wins: dict = {}
    for side, reader in readers.items():
        try:
            wins[side] = reader.read(after=seen.get(side))
        except ReplaceCommitError:
            wins[side], rebuild = None, True

    # each side's covered instant: staged window end, else the view's
    # token, else the reader checkpoint (a window consumed by a run
    # that folded nothing — the dim-first seed — leaves only the
    # checkpoint). EVERY snapshot below pins to these instants: 'read
    # current state' would race a commit landing mid-run, making the
    # fact term see dim changes the next dim window then re-applies.
    ends = {
        side: reader.staged_end() or seen.get(side) or reader.checkpoint()
        for side, reader in readers.items()
    }
    if wins["fact"] is not None and not rebuild and any(
        ends[n] is None for n in dim_names
    ):
        # fact rows exist but some dimension has never been consumed
        # (and staged nothing — a commit racing in after the read
        # doesn't count): the inner join is empty — leave every window
        # unconsumed and fold once all sides are readable
        return None

    def _snaps():
        fs = f_table.snapshot(as_of=ends["fact"])
        ds = {n: readers[n].table.snapshot(as_of=ends[n]) for n in dim_names}
        return fs, ds

    if rebuild:
        # CDC across a replace is underivable by contract: re-seed from
        # the joined snapshot AS OF the staged token — O(join of the
        # snapshots), but only on replace commits
        fs, ds = _snaps()
        if fs is None or any(v is None for v in ds.values()):
            # some side has no state at the token (e.g. a replace
            # landed before another table's first commit): the join is
            # empty and there is nothing to report yet; the readers
            # stay unconsumed so the set retries once every side exists
            return None
        view.rebuild(view.joined(fs, ds), through=dict(ends), validate=gate)
    elif all(w is None for w in wins.values()):
        if any(r.staged_end() is not None for r in readers.values()):
            for r in readers.values():
                r.commit()  # view already covers it: catch-up
        return None  # quiescent sources: no new report this run
    else:
        f_prev = seen.get("fact")
        view.apply(
            wins["fact"],
            {n: wins[n] for n in dim_names},
            # every snapshot is LAZY and time-travel-pinned to the
            # token: the view requests only the instants its live terms
            # need, a fact-only run never reads the fact snapshot, and
            # clean MIN/MAX windows never build the joined base
            dim_states={
                n: (lambda t, tab=readers[n].table: tab.snapshot(as_of=t))
                for n in dim_names
            },
            # F₀ routed through the fact's bucket index when the layout
            # is keyed on the join column (r11) — else the plain
            # time-travel snapshot
            fact_base=(
                (
                    lambda: routed_fact_base(
                        f_table,
                        [(fo, do, wins[n]) for n, fo, do in view.dims],
                        as_of=f_prev,
                    )
                )
                if f_prev is not None
                else None
            ),
            through=dict(ends),
            base=(
                (lambda: view.joined(*_snaps()))
                if config.minmax_cols
                else None
            ),
            validate=gate,
        )
    df = view.read(
        avg=config.avg_cols, distinct=bool(config.distinct_cols)
    )
    if df is None:
        # dim windows at fact genesis fold to nothing (F₀ empty):
        # consume them — their effect enters later fact terms through
        # the dim snapshots — and report once fact rows exist
        for r in readers.values():
            r.commit()
        return None
    report_path = write_csv_report(
        df,
        config.report_base,
        report_id="cdc_" + "_".join(str(ends[s]) for s in readers),
        single_file=True,
    )
    email = deliver_report(
        report_path,
        config.recipients,
        presigner=presigner,
        sender=sender,
        expires_in=config.file_expires_in,
        subject=config.subject,
    )
    for r in readers.values():
        r.commit()
    return PipelineResult(df=df, report_path=report_path, email=email)
