"""Incremental view maintenance (IVM) over CDC streams: keep a grouped
aggregate table in sync with an upstream KeyedTable by folding in each
CDC window's ±delta — never rescanning the source.

This is the reference's report use case done incrementally: its Glue job
recomputes the full report query per run (template.py:485-490); at
100 TB the nightly "orders per status per day" style aggregate should
cost O(changed rows), not O(table). The classic IVM result (e.g.
Gupta & Mumick, "Maintenance of Materialized Views: Problems,
Techniques, and Applications", IEEE Data Eng. Bull. 1995) is that
COUNT/SUM (and AVG = SUM/COUNT) are self-maintainable from insert/
delete/update deltas alone; MIN/MAX are not (a retraction of the
current extremum needs the base table). This module implements the
self-maintainable family exactly, and MIN/MAX via the standard
dirty-group protocol: maintain optimistically (inserts only ever
improve an extremum), detect the windows where a retraction may have
removed the current extremum, and recompute ONLY those groups against
the base snapshot through a semi-join-pruned scan — O(changed rows +
dirty-group rows) per window, never O(table).

Contract: each CDC row contributes −(before state) and +(after state)
to the groups those states belong to. Summed over any window the
intermediate states telescope away, so the total delta equals
(final − initial) per key — group migrations included (the −before
lands in the old group, the +after in the new one), and rows
suppressed as no-ops would have contributed exactly 0.

NULL measures: SQL SUM skips NULLs and returns NULL over an all-NULL
group, while COUNT(*) does not — so each sum carries its own non-null
count (``n_<col>``) and is nulled out when that count reaches zero.
Without it, retracting the last non-null value would leave a
maintained 0 where a recompute says NULL — silent divergence.

Float caveat: retraction arithmetic (+x then −x) is exact for integer
and decimal columns; for double columns the maintained sum drifts from
a recompute by accumulated rounding, as in every IVM system. Money
columns should be decimal — the engine-wide oracle convention.

Scale: one scan of the CDC window, map-side partial aggregation into
|groups| rows, then a union+re-aggregate with the current aggregate
frame (itself |groups| rows). No join against the source table, ever.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the maintained row-count column (also the group-liveness witness)
COUNT_COL = "n_rows"

#: transient per-group flag: some maintained extremum MAY be stale and
#: needs a base-table recompute (never published)
DIRTY_COL = "__dirty"


def _value_counted_cols(
    sum_cols: list[str], minmax_cols: list[str]
) -> list[str]:
    """Columns that carry an ``n_<c>`` non-null count: every sum column
    plus every extremum-only column (the count doubles as the
    all-NULL witness for MIN/MAX resolution)."""
    return list(sum_cols) + [c for c in minmax_cols if c not in sum_cols]


def _nulled_sums(df: DataFrame, sum_cols: list[str]) -> DataFrame:
    """Present each sum as NULL when its non-null count is zero — the
    SQL aggregate semantics a recompute would produce. Stored that way
    the NULL re-merges correctly too (SUM skips it; the dropped raw
    value is necessarily the empty-sum 0, so nothing is lost).

    ONLY valid on a MERGED aggregate, where ``n_<c>`` is the true
    non-null row count. On a raw window delta ``n_<c>`` is a NET
    change and 0 is ordinary — e.g. one key's amount updated 10→330
    telescopes to (n: +1−1 = 0, sum: +320); nulling that out would
    silently destroy the 320."""
    out = df
    for c in sum_cols:
        out = out.withColumn(
            f"sum_{c}",
            F.when(F.col(f"n_{c}") != 0, F.col(f"sum_{c}")),
        )
    return out


#: the contribution-row sign column used by :func:`signed_agg_delta`
SIGN_COL = "__sign"


def signed_agg_delta(
    contrib: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
) -> DataFrame:
    """Aggregate SIGNED CONTRIBUTION ROWS — plain rows carrying the
    group/measure columns plus ``__sign`` (+1 for a row entering the
    view, −1 for one leaving it) — into the window's aggregate delta:
    per group, the net change to the row count, each ``sum_cols``
    total, and each total's non-null count. Output schema:
    ``group_cols + [n_rows] + [sum_<c>, n_<c> per c]`` — the shape
    :func:`merge_agg_delta` folds in one union.

    This is the shared kernel of both delta producers: single-table
    CDC (:func:`cdc_agg_delta` — before-images are −, after-images +)
    and the delta-join terms of :class:`MaintainedStarAggregate`
    (joined rows signed by whichever side's change produced them).

    ``minmax_cols`` adds, per column, the window's extremum evidence:
    ``__ins_min/__ins_max`` (extremes over the +1 rows — values
    entering the group) and ``__ret_min/__ret_max`` (extremes over the
    −1 rows — values leaving it). MIN/MAX are not self-maintainable,
    so these don't resolve the new extremum by themselves;
    :func:`merge_agg_delta` combines them with the stored value and
    flags the groups that need a base recompute. Extremum columns also
    get the ``n_<c>`` non-null count (the all-NULL witness)."""
    minmax_cols = list(minmax_cols or [])
    ncols = _value_counted_cols(sum_cols, minmax_cols)
    sign = F.col(SIGN_COL)
    staged = contrib.select(
        *group_cols,
        sign.cast("long").alias(COUNT_COL),
        *[(F.col(c) * sign).alias(f"sum_{c}") for c in sum_cols],
        *[
            F.when(F.col(c).isNotNull(), sign)
            .otherwise(0)
            .cast("long")
            .alias(f"n_{c}")
            for c in ncols
        ],
        *[
            F.when(sign > 0, F.col(c)).alias(f"__ins_{c}")
            for c in minmax_cols
        ],
        *[
            F.when(sign < 0, F.col(c)).alias(f"__ret_{c}")
            for c in minmax_cols
        ],
    )
    # raw sums, deliberately NOT null-adjusted — see _nulled_sums
    return staged.groupBy(*group_cols).agg(
        F.sum(COUNT_COL).alias(COUNT_COL),
        *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
        *[F.sum(f"n_{c}").alias(f"n_{c}") for c in ncols],
        *[
            agg
            for c in minmax_cols
            for agg in (
                F.min(f"__ins_{c}").alias(f"__ins_min_{c}"),
                F.max(f"__ins_{c}").alias(f"__ins_max_{c}"),
                F.min(f"__ret_{c}").alias(f"__ret_min_{c}"),
                F.max(f"__ret_{c}").alias(f"__ret_max_{c}"),
            )
        ],
    )


def cdc_agg_delta(
    cdc_df: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
) -> DataFrame:
    """The window's aggregate delta for a SINGLE-TABLE grouped view:
    each CDC row contributes its −before and +after images (fields of
    the payload structs) as signed rows, aggregated by
    :func:`signed_agg_delta` — see its docstring for the output
    contract."""
    minmax_cols = list(minmax_cols or [])
    needed = list(
        dict.fromkeys(list(group_cols) + list(sum_cols) + minmax_cols)
    )
    sides = []
    for img, sign in (("_before", -1), ("_after", 1)):
        sides.append(
            cdc_df.filter(F.col(img).isNotNull()).select(
                *[F.col(img)[c].alias(c) for c in needed],
                F.lit(sign).alias(SIGN_COL),
            )
        )
    return signed_agg_delta(
        sides[0].unionByName(sides[1]), group_cols, sum_cols, minmax_cols
    )


def merge_agg_delta(
    current: DataFrame | None,
    delta: DataFrame,
    group_cols: list[str],
    sum_cols: list[str],
    minmax_cols: list[str] | None = None,
) -> DataFrame:
    """Fold a delta into the maintained aggregate: union + re-aggregate
    (both sides share the delta schema), dropping groups whose row
    count reaches zero — the group no longer exists upstream. With
    ``current=None`` (first window) the delta IS the aggregate.

    The union+re-agg form beats a full-outer join at every scale: both
    inputs are |groups|-sized, the aggregation is partial-combined, and
    there is exactly one shuffle on the group key.

    With ``minmax_cols`` the output carries, per column, the resolved
    ``min_<c>``/``max_<c>`` plus the transient ``__dirty`` flag. The
    resolution rule (min side; max is symmetric): the candidate
    extremum is ``least(stored min, window insert-min)`` — NULL-
    skipping, so a fresh group resolves from its inserts alone. It is
    TRUSTWORTHY unless some retracted value threatens it:
    ``ret_min <= candidate`` means the retracted set may have
    contained the very extremum (equality included: another equal row
    may or may not survive), so the group is flagged dirty and the
    caller must recompute it against the base table
    (:func:`recompute_extremes`). ``ret_min > candidate`` proves every
    retracted value sat strictly above the result, so the maintained
    value is exact — the common insert-mostly case never touches the
    base. A group whose non-null count hits zero resolves to NULL
    without recompute (retracting the last value needs no base: the
    answer is the empty-aggregate NULL)."""
    minmax_cols = list(minmax_cols or [])
    if not minmax_cols:
        if current is None:
            merged = delta  # genesis window: net n_<c> IS the true count
        else:
            value_cols = [COUNT_COL] + [
                name for c in sum_cols for name in (f"sum_{c}", f"n_{c}")
            ]
            merged = (
                current.unionByName(delta)
                .groupBy(*group_cols)
                .agg(*[F.sum(c).alias(c) for c in value_cols])
            )
        merged = _nulled_sums(merged, sum_cols)
        if not group_cols:
            # GLOBAL aggregate (no GROUP BY): SQL always yields exactly
            # one row, even over an empty table — dropping it at n=0
            # would diverge from any recompute (r9 review)
            return merged
        return merged.filter(F.col(COUNT_COL) != 0)

    ncols = _value_counted_cols(sum_cols, minmax_cols)
    value_cols = (
        [COUNT_COL]
        + [f"sum_{c}" for c in sum_cols]
        + [f"n_{c}" for c in ncols]
    )
    unioned = delta
    if current is not None:
        # shape the stored aggregate like a delta row: its extremes are
        # insert-side candidates (they are true values of the group),
        # and it retracts nothing
        def _null_like(c):
            return F.lit(None).cast(delta.schema[f"__ret_min_{c}"].dataType)

        stored = current.select(
            *group_cols,
            *value_cols,
            *[
                e
                for c in minmax_cols
                for e in (
                    F.col(f"min_{c}").alias(f"__ins_min_{c}"),
                    F.col(f"max_{c}").alias(f"__ins_max_{c}"),
                    _null_like(c).alias(f"__ret_min_{c}"),
                    _null_like(c).alias(f"__ret_max_{c}"),
                )
            ],
        )
        unioned = stored.unionByName(delta)
    merged = (
        unioned.groupBy(*group_cols)
        .agg(
            *[F.sum(c).alias(c) for c in value_cols],
            *[
                agg
                for c in minmax_cols
                for agg in (
                    F.min(f"__ins_min_{c}").alias(f"__eff_min_{c}"),
                    F.max(f"__ins_max_{c}").alias(f"__eff_max_{c}"),
                    F.min(f"__ret_min_{c}").alias(f"__ret_min_{c}"),
                    F.max(f"__ret_max_{c}").alias(f"__ret_max_{c}"),
                )
            ],
        )
    )
    if group_cols:
        merged = merged.filter(F.col(COUNT_COL) != 0)
    dirty = F.lit(False)
    for c in minmax_cols:
        n = F.col(f"n_{c}")
        eff_min, eff_max = F.col(f"__eff_min_{c}"), F.col(f"__eff_max_{c}")
        ret_min, ret_max = F.col(f"__ret_min_{c}"), F.col(f"__ret_max_{c}")
        dirty = (
            dirty
            | (
                ret_min.isNotNull()
                & eff_min.isNotNull()
                & (n > 0)
                & (ret_min <= eff_min)
            )
            | (
                ret_max.isNotNull()
                & eff_max.isNotNull()
                & (n > 0)
                & (ret_max >= eff_max)
            )
        )
    resolved = merged.select(
        *group_cols,
        *value_cols,
        *[
            e
            for c in minmax_cols
            for e in (
                F.when(F.col(f"n_{c}") > 0, F.col(f"__eff_min_{c}"))
                .alias(f"min_{c}"),
                F.when(F.col(f"n_{c}") > 0, F.col(f"__eff_max_{c}"))
                .alias(f"max_{c}"),
            )
        ],
        dirty.alias(DIRTY_COL),
    )
    return _nulled_sums(resolved, sum_cols)


def _null_safe_group_cond(left: DataFrame, right: DataFrame, cols):
    """Equi-join condition over group columns with NULL-SAFE equality:
    a NULL group key is a real group (SQL GROUP BY treats NULLs as one
    group — and the left-outer maintained join PUTS unmatched rows in
    the NULL dim-attribute group), so the dirty-group plumbing must
    match it; plain `=` would silently drop it from every recompute."""
    cond = F.lit(True)
    for c in cols:
        cond = cond & left[c].eqNullSafe(right[c])
    return cond


def recompute_extremes(
    base: DataFrame,
    dirty_groups: DataFrame,
    group_cols: list[str],
    minmax_cols: list[str],
) -> DataFrame:
    """Exact MIN/MAX for exactly the dirty groups, from the base table
    state AT THE WINDOW'S END (the snapshot the CDC window leads to —
    an earlier state double-counts retracted rows, a later one leaks
    future changes). One semi-join-pruned scan recomputes every
    extremum column for the flagged groups; the scan composes with the
    engine's skipping reads (a partitioned/bucketed/col-stats layout
    turns it into a touched-files read, not a table scan), and with
    few dirty groups Catalyst broadcasts the semi-join side. The semi
    join is NULL-SAFE on the group keys — the NULL group (outer-join
    unmatched rows, or a nullable group column) recomputes like any
    other."""
    keys = dirty_groups.select(*group_cols)
    return (
        base.join(keys, _null_safe_group_cond(base, keys, group_cols),
                  "left_semi")
        .groupBy(*group_cols)
        .agg(
            *[
                agg
                for c in minmax_cols
                for agg in (
                    F.min(c).alias(f"min_{c}"),
                    F.max(c).alias(f"max_{c}"),
                )
            ]
        )
    )


class VersionedView:
    """The publish discipline every maintained view shares (the
    KeyedTable commit discipline in miniature): each publish writes a
    NEW ``v=<n>`` dir and then flips the ``_latest`` pointer file, so a
    crash mid-write leaves the previous version live; the last two
    versions are kept for in-flight readers. The pointer also records
    the upstream instant the view is maintained ``through`` — the
    redelivery guard of every fold (:meth:`_fresh`)."""

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self.path, "_latest")

    def _meta(self) -> dict | None:
        try:
            with open(self._pointer()) as f:
                raw = f.read().strip()
        except FileNotFoundError:
            return None
        try:
            return json.loads(raw)
        except json.JSONDecodeError:
            return {"version": int(raw), "through": None}  # v1 pointer

    def through(self):
        """The upstream instant (or ``{side: instant}`` token) the view
        is maintained through — None when never applied with one."""
        meta = self._meta()
        return meta.get("through") if meta else None

    def _published(self) -> DataFrame | None:
        """The stored frame at the published version (None before the
        first publish)."""
        meta = self._meta()
        if meta is None:
            return None
        return self.spark.read.parquet(
            os.path.join(self.path, f"v={meta['version']}")
        )

    def _fresh(self, through) -> bool:
        """True when ``through`` advances past the published token —
        i.e. the window has NOT been applied yet (the redelivery
        guard). Tokenless applies are fresh on a TOKENLESS view
        (caller owns dedup end to end); on a token-carrying view they
        RAISE — publishing would erase the recorded token, silently
        unguarding every previously covered window against redelivery
        (r9 review). rebuild() remains the documented way to realign a
        tokened view (pass its snapshot's instant as ``through``)."""
        seen = self.through()
        if through is None:
            if seen is not None:
                raise ValueError(
                    f"{type(self).__name__}.apply without a through "
                    f"token on a view maintained through {seen!r} — "
                    "publishing would erase the token and unguard "
                    "redelivery; pass the window's end instant (or "
                    "rebuild() with an explicit through to re-seed)"
                )
            return True
        return seen is None or through > seen

    def _publish(
        self, df: DataFrame, through, validate=None, side=None
    ) -> None:
        """Write the new version dir, optionally gate it, then flip the
        pointer. ``validate`` (a callable taking the STAGED frame —
        read back from the just-written files) runs BETWEEN the write
        and the pointer flip: a raise aborts the publish with the
        previous version still live and the ``through`` token
        unchanged, so the window genuinely retries — gating after the
        flip would let a failed run's data stand published and its
        token mark the window consumed (the r8 review finding). The
        orphan version dir a failed gate leaves is harmless: the next
        publish computes the same v from the live pointer and
        overwrites it.

        ``side`` maps further roots to frames versioned under the SAME
        v and pointer flip (a None frame writes nothing; its root is
        still pruned)."""
        meta = self._meta()
        v = (meta["version"] if meta else 0) + 1
        out = os.path.join(self.path, f"v={v}")
        df.write.mode("overwrite").parquet(out)
        side = side or {}
        for root, frame in side.items():
            if frame is not None:
                frame.write.mode("overwrite").parquet(
                    os.path.join(root, f"v={v}")
                )
        if validate is not None:
            validate(self.spark.read.parquet(out))
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": v, "through": through}, f)
        os.replace(tmp, self._pointer())
        # keep last two versions (readers of v-1 may be in flight);
        # ignore non-numeric v= entries (backups etc.) rather than
        # wedging every later publish on them
        for root in [self.path, *side]:
            if not os.path.isdir(root):
                continue
            for name in os.listdir(root):
                if name.startswith("v=") and name[2:].isdigit():
                    if int(name[2:]) < v - 1:
                        shutil.rmtree(
                            os.path.join(root, name), ignore_errors=True
                        )


class MaintainedAggregate(VersionedView):
    """A parquet-backed grouped aggregate kept in sync with an upstream
    KeyedTable via CDC windows — the end-to-end report-maintenance
    loop::

        reader = CDCReader(spark, "orders", src_root, ck_root)
        view = MaintainedAggregate(
            spark, path, group_cols=["status"], sum_cols=["amount"])
        win = reader.read()
        if win is not None:
            view.apply(win, through=reader.staged_end())
            reader.commit()          # checkpoint only after the sink

    Durability: the :class:`VersionedView` publish — a crash mid-write
    leaves the previous version live.

    Exactly-once: aggregate deltas are NOT idempotent (re-adding a
    delta double-counts), so the pointer records the upstream instant
    the view is maintained ``through``; :meth:`apply` with a
    ``through`` token at or below it is a no-op. A crash between
    ``apply`` and ``reader.commit()`` therefore redelivers a window
    the view recognizes and skips — at-least-once delivery, exactly-
    once effect. Omitting ``through`` keeps the raw at-least-once
    behavior (caller owns dedup). :meth:`rebuild` seeds or re-seeds
    from a source snapshot; pass the snapshot's latest commit as its
    ``through`` so the next window resumes without double-counting
    (and reset the reader checkpoint to the same instant)."""

    def __init__(
        self,
        spark,
        path: str,
        group_cols: list[str],
        sum_cols: list[str],
        minmax_cols: list[str] | None = None,
        distinct_cols: list[str] | None = None,
    ):
        self.group_cols = group_cols
        self.sum_cols = sum_cols
        self.minmax_cols = list(minmax_cols or [])
        self.distinct_cols = list(distinct_cols or [])
        if self.distinct_cols and not group_cols:
            raise ValueError(
                "distinct_cols maintenance requires group_cols — the "
                "auxiliary per-(group, value) state is keyed by them"
            )
        overlap = set(self.distinct_cols) & set(group_cols)
        if overlap:
            raise ValueError(
                f"distinct_cols {sorted(overlap)} are group columns — "
                "COUNT(DISTINCT group_col) is 1 per group by "
                "definition, and the auxiliary state's group+value "
                "keying would duplicate the column"
            )
        super().__init__(spark, path)

    # -- COUNT(DISTINCT) auxiliary state (r9, VERDICT r8 #7) -------------
    # distinct-count is NOT self-maintainable from the aggregate alone
    # (retracting a value can't tell whether another equal row survives)
    # — the classic fix is auxiliary per-(group, value) multiplicity
    # state (Gupta-Mumick "counting algorithm"): itself a maintained
    # COUNT view keyed by group+value, folded from the SAME signed
    # contribution rows, versioned and pointer-flipped WITH the main
    # aggregate so the pair is always consistent. distinct_<c> is then
    # the aux's per-group live-row count — exact under inserts AND
    # deletes, O(distinct values per group) storage.

    def _aux_dir(self, col: str) -> str:
        return os.path.join(self.path, "aux", col)

    def aux_current(
        self, col: str, version: int | None = None
    ) -> DataFrame | None:
        """The distinct-state frame for ``col`` at the published
        version: ``group_cols + [col, n_rows]`` (one row per live
        (group, value), n_rows = its multiplicity). ``version`` pins a
        specific published version — read() passes the one it bound
        the MAIN frame to, so a publish racing between the two reads
        cannot mix versions in one report row."""
        if version is None:
            meta = self._meta()
            if meta is None:
                return None
            version = meta["version"]
        vdir = os.path.join(self._aux_dir(col), f"v={version}")
        if not os.path.isdir(vdir):
            return None
        return self.spark.read.parquet(vdir)

    def _aux_deltas(self, contrib: DataFrame) -> dict[str, DataFrame]:
        """Per distinct column, the window's multiplicity delta from
        the signed contribution rows — NULL values excluded (SQL
        COUNT(DISTINCT) ignores them)."""
        return {
            c: signed_agg_delta(
                contrib.filter(F.col(c).isNotNull()),
                self.group_cols + [c],
                [],
            )
            for c in self.distinct_cols
        }

    def _merged_aux(
        self, aux_deltas: dict[str, DataFrame] | None
    ) -> dict[str, DataFrame] | None:
        """Fold the aux deltas into the stored aux frames (None when
        the view maintains no distinct columns). A view with published
        MAIN state but no aux for a column predates its distinct_cols
        — raise rather than fold a delta into a hole (the aux would
        silently contain only post-upgrade values)."""
        if not self.distinct_cols:
            return None
        out = {}
        has_main = self._meta() is not None
        for c in self.distinct_cols:
            cur = self.aux_current(c)
            if cur is None and has_main:
                raise ValueError(
                    f"view at {self.path} has published state but no "
                    f"distinct-state for {c!r} — it predates this "
                    "distinct_cols configuration; rebuild() from a "
                    "source snapshot to seed the auxiliary state"
                )
            out[c] = merge_agg_delta(
                cur, aux_deltas[c], self.group_cols + [c], []
            )
        return out

    def read(self, avg: bool = True, distinct: bool = True) -> DataFrame | None:
        """The view with PRESENTATION columns (r9, VERDICT r8 #7):
        the maintained frame plus ``avg_<c> = sum_<c>/n_<c>`` per sum
        column (NULL over all-NULL groups — SQL AVG) and
        ``distinct_<c>`` per distinct column (exact, from the
        auxiliary multiplicity state; 0 for a live group whose values
        are all NULL). The joins are |groups|-sized on both sides —
        the read stays O(|groups|). ``avg``/``distinct`` toggle each
        column family (the report loops map them to their config)."""
        meta = self._meta()
        if meta is None:
            return None
        # pin EVERY read of this call to one published version — a
        # concurrent publish between the main and aux reads must not
        # mix versions within a report row (two versions are retained
        # exactly so in-flight readers stay consistent)
        version = meta["version"]
        df = self.spark.read.parquet(
            os.path.join(self.path, f"v={version}")
        )
        for c in self.sum_cols if avg else []:
            df = df.withColumn(
                f"avg_{c}",
                F.when(
                    F.col(f"n_{c}") != 0, F.col(f"sum_{c}") / F.col(f"n_{c}")
                ),
            )
        for c in self.distinct_cols if distinct else []:
            aux = self.aux_current(c, version=version)
            if aux is None:
                raise ValueError(
                    f"view at {self.path} has no distinct-state for "
                    f"{c!r} — rebuild() to seed it"
                )
            counts = aux.groupBy(*self.group_cols).agg(
                F.count(F.lit(1)).alias(f"distinct_{c}")
            )
            # NULL-SAFE on the group keys: the NULL group (outer-join
            # unmatched rows / nullable group column) is a real group
            joined = df.join(
                counts,
                _null_safe_group_cond(df, counts, self.group_cols),
                "left",
            )
            df = joined.select(
                *[df[col] for col in df.columns],
                F.coalesce(
                    counts[f"distinct_{c}"], F.lit(0)
                ).alias(f"distinct_{c}"),
            )
        return df

    def current(self) -> DataFrame | None:
        return self._published()

    def apply(
        self,
        cdc_window: DataFrame,
        through: str | None = None,
        base=None,  # DataFrame | () -> DataFrame | None
        validate=None,  # (staged DataFrame) -> None; raise = abort publish
    ) -> bool:
        """Fold one CDC window into the aggregate and publish. Returns
        False (no-op) when ``through`` shows the window was already
        applied — the redelivery guard.

        With ``minmax_cols``, ``base`` (the source snapshot AS OF the
        window's end — e.g. ``table.snapshot()`` right after the
        upsert that produced the window, or a zero-arg callable
        returning it) backs the recompute for groups whose extremum a
        retraction threatened. It is consulted ONLY for those groups
        (a bounded, semi-join-pruned scan) and never evaluated — nor,
        for a callable, even constructed — when the window leaves
        every extremum intact, so insert-only maintenance stays
        base-free and a callable keeps base-construction failures
        (e.g. a cleaned-away as-of snapshot) out of clean runs. Dirty
        groups with ``base=None`` raise rather than publish a
        possibly-stale extremum."""
        if not self._fresh(through):
            return False
        self._fold_contrib(
            signed_cdc_rows(cdc_window, self._needed()),
            through,
            base,
            validate,
        )
        return True

    def _needed(self) -> list[str]:
        """Every maintained source column, each once."""
        return list(
            dict.fromkeys(
                list(self.group_cols)
                + list(self.sum_cols)
                + self.minmax_cols
                + self.distinct_cols
            )
        )

    def _fold_contrib(
        self, contrib: DataFrame, through, base, validate=None
    ) -> None:
        """The shared apply epilogue: signed contribution rows →
        window delta (+ per-distinct-column aux deltas) → fold. One
        place for the persist-when-distinct rule (the contrib plan
        feeds k+1 consumers under distinct maintenance) instead of
        three copies (r9 review)."""
        if self.distinct_cols:
            contrib = contrib.persist()
        try:
            delta = signed_agg_delta(
                contrib, self.group_cols, self.sum_cols, self.minmax_cols
            )
            self._fold(
                delta, through, base, validate, self._aux_deltas(contrib)
            )
        finally:
            if self.distinct_cols:
                contrib.unpersist()

    def _fold(
        self, delta: DataFrame, through, base, validate=None, aux_deltas=None
    ) -> None:
        """Merge one aggregate delta into the stored view and publish —
        including the MIN/MAX dirty-group protocol (see
        :func:`merge_agg_delta`) and the distinct-state fold. Shared by
        the single-table and delta-join apply paths."""
        aux = self._merged_aux(aux_deltas)
        merged = merge_agg_delta(
            self.current(),
            delta,
            self.group_cols,
            self.sum_cols,
            self.minmax_cols,
        )
        if not self.minmax_cols:
            self._publish(merged, through, validate, aux)
            return
        merged = merged.persist()
        try:
            is_dirty = F.col(DIRTY_COL)
            has_dirty = merged.filter(is_dirty).limit(1).count() > 0
            if not has_dirty:
                final = merged.drop(DIRTY_COL)
            elif base is None:
                raise ValueError(
                    f"{type(self).__name__}.apply: a retraction threatens "
                    "a maintained MIN/MAX (dirty groups exist) but no "
                    "`base` snapshot was supplied — MIN/MAX are not "
                    "self-maintainable under deletes; pass the view's "
                    "source state as of the window end"
                )
            else:
                mm_out = [
                    name
                    for c in self.minmax_cols
                    for name in (f"min_{c}", f"max_{c}")
                ]
                recomputed = recompute_extremes(
                    base() if callable(base) else base,
                    merged.filter(is_dirty),
                    self.group_cols,
                    self.minmax_cols,
                )
                clean = merged.filter(~is_dirty).drop(DIRTY_COL)
                dirty_side = merged.filter(is_dirty).drop(
                    DIRTY_COL, *mm_out
                )
                # NULL-SAFE group join (the NULL group is real — see
                # _null_safe_group_cond); explicit side references keep
                # the duplicated group names unambiguous
                joined = dirty_side.join(
                    recomputed,
                    _null_safe_group_cond(
                        dirty_side, recomputed, self.group_cols
                    ),
                    "left",
                )
                dirty = joined.select(
                    *[dirty_side[c] for c in dirty_side.columns],
                    *[recomputed[c] for c in mm_out],
                )
                final = clean.unionByName(dirty.select(*clean.columns))
            self._publish(final, through, validate, aux)
        finally:
            merged.unpersist()

    def rebuild(
        self,
        source_snapshot: DataFrame,
        through: str | None = None,
        validate=None,
    ) -> None:
        """O(table) recompute from a source snapshot — initial seeding,
        or healing after an untokenized crash. Record the snapshot's
        latest commit as ``through`` and realign the reader checkpoint
        to it, or the next window will re-fold changes the snapshot
        already contains."""
        agg = source_snapshot.groupBy(*self.group_cols).agg(
            F.count(F.lit(1)).alias(COUNT_COL),
            *[F.sum(c).alias(f"sum_{c}") for c in self.sum_cols],
            *[
                F.count(c).alias(f"n_{c}")
                for c in _value_counted_cols(self.sum_cols, self.minmax_cols)
            ],
            *[
                agg
                for c in self.minmax_cols
                for agg in (
                    F.min(c).alias(f"min_{c}"),
                    F.max(c).alias(f"max_{c}"),
                )
            ],
        )
        aux = {
            c: source_snapshot.filter(F.col(c).isNotNull())
            .groupBy(*self.group_cols, c)
            .agg(F.count(F.lit(1)).alias(COUNT_COL))
            for c in self.distinct_cols
        } or None
        self._publish(agg, through, validate, aux)

    def _publish(self, df: DataFrame, through, validate=None, aux=None):
        """:meth:`VersionedView._publish` with the distinct-state
        frames (``aux``) versioned alongside the main one — same v,
        same pointer flip, so the pair is atomic. None with configured
        distinct_cols CARRIES the current aux forward unchanged (the
        quiescent-side republish); a None frame is a pre-distinct view
        carried forward with no state."""
        if aux is None and self.distinct_cols:
            aux = {c: self.aux_current(c) for c in self.distinct_cols}
        super()._publish(
            df,
            through,
            validate,
            {self._aux_dir(c): frame for c, frame in (aux or {}).items()},
        )


#: CDC-frame meta columns (everything else at top level is the record key)
_CDC_META = ("_commit_time", "_change_op", "_before", "_after")


def _cdc_key_col(win: DataFrame) -> str:
    """The record-key column of a KeyedTable.cdc() frame — the one
    top-level column that isn't CDC metadata."""
    keys = [c for c in win.columns if c not in _CDC_META]
    if len(keys) != 1:
        raise ValueError(
            f"not a KeyedTable CDC frame (key columns: {keys}; expected "
            f"exactly one beside {_CDC_META})"
        )
    return keys[0]


def _cdc_types(win: DataFrame) -> dict:
    """The columns a CDC window can surface, with their types: the
    payload-struct fields plus the top-level record key (which cdc()
    keeps out of the struct)."""
    key = _cdc_key_col(win)
    types = {
        f.name: f.dataType for f in win.schema["_after"].dataType.fields
    }
    types[key] = win.schema[key].dataType
    return types


def signed_cdc_rows(win: DataFrame, needed: list[str]) -> DataFrame:
    """A CDC window as SIGNED CONTRIBUTION ROWS: each change row
    contributes its −before and +after images with the ``needed``
    columns surfaced (payload-struct fields, or the top-level record
    key — a delete's after image is NULL, so its key is only reachable
    there), plus :data:`SIGN_COL`. The plain-row currency both
    delta-join terms trade in."""
    key = _cdc_key_col(win)
    fields = _cdc_types(win)
    missing = [c for c in needed if c not in fields]
    if missing:
        raise ValueError(
            f"signed_cdc_rows: columns {missing} neither the record key "
            f"({key!r}) nor payload fields ({sorted(set(fields) - {key})})"
        )
    sides = []
    for img, sign in (("_before", -1), ("_after", 1)):
        sides.append(
            win.filter(F.col(img).isNotNull()).select(
                *[
                    (F.col(key) if c == key else F.col(img)[c]).alias(c)
                    for c in needed
                ],
                F.lit(sign).alias(SIGN_COL),
            )
        )
    return sides[0].unionByName(sides[1])


def routed_fact_base(fact_table, changed, as_of: str | None):
    """The dim terms' F₀ read for :class:`MaintainedStarAggregate` —
    the 2-table join included, as the star with one dim — routed
    through the fact table's bucket index when the layout allows it
    (r11, VERDICT r10 #3): on a join-key-bucketed fact layout it's a
    touched-files read, never a table scan.

    ``changed`` is ``[(fact_on_col, dim_on_col, dim_cdc_window), ...]``
    — one triple per dimension whose window is non-empty this fold.
    The dim term only ever joins F₀ against those windows' ±key sets,
    so any F₀ containing every fact row matching a changed key is
    exact. When the fact is a :class:`..sinks.filegroups.BucketedTable`
    RECORD-KEYED on the (single) changed join column — and the dim
    window's record key IS that dim's join column (the N:1 star shape
    every maintained class requires; validated here too, r11 review:
    the window's top-level key values are only usable as ``fact_on``
    probes under that equality) — the changed keys resolve to bucket
    ids arithmetically (the same stable-xxhash64 routing ``read_keys``
    uses) and only touched file groups are read — O(changed keys /
    num_buckets) of the table, pinned to the OLD fact instant via the
    manifest. Every other shape (KeyedTable, composite/non-join record
    key, multiple changed dims on different join columns, a dim keyed
    off its join column) falls back to the full time-travel snapshot,
    whose rows the fold's joins still prune — correct, just not
    read-skipping."""
    from ..sinks.filegroups import BucketedTable

    changed = [(fo, do, w) for fo, do, w in changed if w is not None]
    on_cols = {fo for fo, _, _ in changed}
    if (
        not isinstance(fact_table, BucketedTable)
        or len(on_cols) != 1
        or next(iter(on_cols)) != fact_table.record_key
        or as_of is None
        or any(_cdc_key_col(w) != do for _, do, w in changed)
    ):
        return fact_table.snapshot(as_of=as_of)
    fact_on = next(iter(on_cols))
    keys = None
    for _, _, w in changed:
        k = w.select(F.col(_cdc_key_col(w)).alias(fact_on))
        keys = k if keys is None else keys.unionByName(k)
    return fact_table.read_keys(keys.distinct(), as_of=as_of)


class MaintainedStarAggregate(MaintainedAggregate):
    """A maintained grouped aggregate over a STAR join — fact ⋈ D1 ⋈ …
    ⋈ Dk, each dim N:1 on its own fact column — kept in sync from all
    k+1 CDC streams, never re-running the join over the fact table.
    The reference's actual report query (orders ⋈ customers,
    template.py:485-490) is the k = 1 case,
    :class:`MaintainedJoinAggregate`; at 100 TB that nightly report
    costs O(changed rows) per run instead of a full join.

    Algebra (the Gupta-Mumick recipe completed for joins; signed
    multiset algebra): telescope the k+1 sides in a FIXED order (dims
    in declaration order, fact last); each step changes ONE side with
    the others pinned, so the window delta is the sum of
    one-changing-side terms::

        Δ(F⋈D1⋈…⋈Dk) =  F₀ ⋈ ΔD1 ⋈ D2₁ ⋈ … ⋈ Dk₁
                      + F₀ ⋈ D1₀ ⋈ ΔD2 ⋈ D3₁ ⋈ … ⋈ Dk₁
                      + …
                      + F₀ ⋈ D1₀ ⋈ … ⋈ D(k−1)₀ ⋈ ΔDk
                      + ΔF ⋈ D1₁ ⋈ … ⋈ Dk₁

    (for one dim: F₁⋈D₁ − F₀⋈D₀ = F₀⋈ΔD + ΔF⋈D₁), where Dj₀/Dj₁ are
    dim j's snapshots at the token's OLD/NEW instants (equal when dim
    j is quiescent) and exactly one participant of each term carries
    the ± sign. The fact term costs O(changed fact rows), the small
    signed side broadcast under AQE. A dim term joins F₀ — the fact
    snapshot at the OLD fact instant — to the dim window's ±keys, so
    it costs O(fact rows matching changed keys); on a join-key-bucketed
    fact the read itself is a touched-files read
    (:func:`routed_fact_base`). Every dim term is skipped when its
    window is empty — the dims-change-rarely schedule folds only the
    fact term and never reads the fact table. All terms feed the
    shared :func:`signed_agg_delta` → :func:`merge_agg_delta` fold;
    MIN/MAX via the dirty-group recompute against the caller-supplied
    joined ``base`` (the star state as of the new instants).

    Requirements: each dim's record key IS its join key (N:1 — the
    star-schema shape), and the maintained column names are disjoint
    across sides (TPC-H style o_*/c_* prefixes) except for a
    same-named equi-join key (see :meth:`_owners`). Inner semantics:
    fact rows without a dim match contribute nothing until the key
    appears — at which point that dim's term adds them.

    Exactly-once: the token is ``{"fact": instant, "<dim name>":
    instant, ...}``; a window set is a redelivery only when EVERY side
    is at or below the published token (see :meth:`_check_star`). The
    coordinated readers of ``pipeline.run_maintained_star_report``
    never produce a partial redelivery.

    ``how="left"`` (r10, VERDICT r9 #3) maintains the LEFT-OUTER star:
    fact rows unmatched in dim j live in dim j's NULL attribute group
    (each dim is an independent N:1 lookup, so left joins compose and
    the row count stays |F|). The fact term left-joins every pinned
    dim (an unmatched ΔF row carries its sign into the NULL groups);
    each dim term's join to ΔDᵢ stays INNER (only matching fact rows
    change) but its OTHER pinned dims join left; and per changed dim
    an EXISTENCE COUNTERWEIGHT term moves fact rows between dim i's
    NULL group and its real groups — per key the net existence change
    e = Σ sign ∈ {−1, 0, +1} (N:1), and the term is F₀ rows of keys
    with e ≠ 0, dim-i attributes NULL, other dims pinned per the same
    telescoping spec, signed −e. The NULL group participates in the
    dirty MIN/MAX recompute through the NULL-safe group plumbing. Left
    maintenance requires every dim to carry a published instant in
    the token (seed with rebuild() after each dim's first commit — the
    streaming driver's deferral rule): a genesis-empty dim has no
    schema to type its NULL columns from.

    API shape (k-ary, so sides are named): ``dims`` at construction is
    ``[(name, fact_on, dim_on), ...]``; ``apply`` takes per-dim windows
    and LAZY state factories ``dim_states[name](instant) ->
    DataFrame`` (usually ``lambda t, d=dim_table: d.snapshot(as_of=t)``)
    — the class requests exactly the (old/new) instants its live terms
    need, so quiescent dims cost at most one pinned snapshot read and
    a fact-only window costs k."""

    def __init__(
        self,
        spark,
        path: str,
        dims: list[tuple[str, str, str]],
        group_cols: list[str],
        sum_cols: list[str],
        minmax_cols: list[str] | None = None,
        distinct_cols: list[str] | None = None,
        how: str = "inner",
    ):
        super().__init__(
            spark, path, group_cols, sum_cols, minmax_cols, distinct_cols
        )
        if not dims:
            raise ValueError(f"{type(self).__name__}: need >= 1 dim")
        names = [n for n, _, _ in dims]
        if len(set(names)) != len(names) or "fact" in names:
            raise ValueError(
                f"dim names must be unique and not 'fact': {names}"
            )
        if how not in ("inner", "left"):
            raise ValueError(
                f"how={how!r}: the maintained star supports 'inner' and "
                "'left' (left-outer — unmatched fact rows live in each "
                "dim's NULL attribute group)"
            )
        self.dims = [tuple(d) for d in dims]
        self.how = how

    def _sides(self) -> list[str]:
        return ["fact"] + [n for n, _, _ in self.dims]

    def _owners(self, fields: dict[str, set]) -> dict[str, list[str]]:
        """Assign every maintained column to the ONE join side that
        serves it. ``fields`` maps each side ("fact" or a dim name) to
        its column names; the result maps it to the columns it owns. A
        name on several sides is legal only as a same-named equi-join
        key (fact_on == dim_on) when every non-fact side carrying it is
        a dim that name keys: the join equality makes those copies
        identical, so the fact side serves it (e.g. grouping or
        distinct-counting by the join key). A further side carrying
        the name as an ordinary column stays ambiguous — join equality
        doesn't cover it."""
        owners: dict[str, list[str]] = {s: [] for s in fields}
        for c in self._needed():
            hits = [s for s, cols in fields.items() if c in cols]
            keyed = {n for n, fo, do in self.dims if fo == do == c}
            if "fact" in hits and set(hits) <= keyed | {"fact"}:
                hits = ["fact"]
            if not hits:
                known = {s: sorted(cols) for s, cols in fields.items()}
                raise ValueError(
                    f"column {c!r} found on NEITHER the fact nor any dim "
                    f"side ({known})"
                )
            if len(hits) > 1:
                raise ValueError(
                    f"column {c!r} exists on sides {hits} — BOTH copies "
                    "would serve it; rename one (maintained columns must "
                    "be unambiguous)"
                )
            owners[hits[0]].append(c)
        return owners

    def joined(
        self, fact_snap: DataFrame, dim_snaps: dict[str, DataFrame]
    ) -> DataFrame:
        """The view's source STAR join over snapshots (``dim_snaps``
        keyed by dim name), projected to the maintained columns — the
        frame :meth:`rebuild` seeds from and the MIN/MAX recompute
        ``base`` is built from; callers pass time-travel-pinned
        snapshots so the state is the token's, not 'latest'."""
        owners = self._owners(
            {
                "fact": set(fact_snap.columns),
                **{n: set(dim_snaps[n].columns) for n, _, _ in self.dims},
            }
        )
        out = fact_snap
        for i, (n, fact_on, dim_on) in enumerate(self.dims):
            ds = dim_snaps[n].select(
                F.col(dim_on).alias(f"__jk{i}"), *owners[n]
            )
            out = out.join(
                ds, F.col(fact_on) == F.col(f"__jk{i}"), self.how
            )
        return out.select(*self._needed())

    def _check_star(self, through: dict, wins: dict) -> bool:
        """The token redelivery guard over all sides. False = the
        WHOLE set is already applied (no-op). A side whose instant is
        covered (absent, or at/below the published one) may be CARRIED
        FORWARD — its window is None, the quiescent-side case — but
        folding an actual window for a covered side double-counts it,
        and advancing a side's token with NO window to fold would mark
        commits applied that never were: both raise."""
        seen = self.through()
        if seen is None:
            return True
        cov = {}
        for s in self._sides():
            new, old = through.get(s), seen.get(s)
            cov[s] = new is None or (old is not None and new <= old)
        if all(cov.values()):
            return False
        who = type(self).__name__
        for s in self._sides():
            if cov[s] and wins.get(s) is not None:
                raise ValueError(
                    f"{who}.apply: the view already covers the {s} side "
                    f"(seen={seen}, new={through}) but a {s} window was "
                    "supplied — folding it would double-count; realign "
                    f"the reader (read with after=view.through()['{s}'])"
                )
            if not cov[s] and wins.get(s) is None:
                raise ValueError(
                    f"{who}.apply: the through token advances the {s} "
                    f"side (seen={seen}, new={through}) with NO {s} "
                    "window to fold — publishing would mark commits "
                    "applied that never were"
                )
        return True

    def apply(
        self,
        fact_win: DataFrame | None,
        dim_wins: dict[str, DataFrame | None],
        *,
        dim_states: dict,  # name -> (instant) -> DataFrame
        fact_base=None,  # DataFrame | () -> DataFrame; as of OLD fact
        through: dict | None = None,
        base=None,
        validate=None,  # (staged DataFrame) -> None; raise = abort
    ) -> bool:
        """Fold one coordinated window set and publish. Any window may
        be None (that side had no new commits). Returns False (no-op)
        when ``through`` shows the set was already applied.

        ``through`` carries every side's NEW instant; each side's OLD
        instant is the published token's (genesis = no rows).
        ``dim_states[name]`` is called with the instants the live
        terms need — memoized per instant, so a dim consulted by
        several terms at the same instant is read once. ``fact_base``
        (required with a dim window, unless the fact side is at
        genesis): the fact snapshot AS OF the token's PREVIOUS fact
        instant — the F₀ the dim terms join; a zero-arg callable is
        evaluated only if a dim term runs, so a fact-only window never
        constructs the fact time-travel read."""
        who = type(self).__name__
        if through is None:
            raise ValueError(
                f"{who}.apply requires a through token ({{side: "
                "instant}): the k-ary telescoping pins every term's side "
                "states to the token, so untokenized applies cannot be "
                "evaluated consistently"
            )
        wins = {**dim_wins, "fact": fact_win}
        seen = self.through() or {}
        for s in self._sides():
            if through.get(s) is None and (
                seen.get(s) is not None or wins.get(s) is not None
            ):
                # a side the view has covered (or that has a window to
                # fold) MUST appear in the token: a None instant means
                # 'genesis-empty' to the pinned-state terms, so an
                # omitted side would silently drop every term that
                # joins it AND regress the published token
                raise ValueError(
                    f"{who}.apply: the through token omits side {s!r} "
                    f"(seen={seen}) — every side's covered instant must "
                    "be carried forward explicitly"
                )
        if not self._check_star(through, wins):
            return False
        if all(w is None for w in wins.values()):
            return False
        needed = self._needed()

        state_memo: dict[tuple[str, str | None], DataFrame] = {}

        def _state(name: str, instant: str | None) -> DataFrame | None:
            # instant None = the side's GENESIS state (no commits
            # covered): EMPTY by definition — never 'current', which
            # would leak rows other terms (or future windows) own
            if instant is None:
                return None
            key = (name, instant)
            if key not in state_memo:
                state_memo[key] = dim_states[name](instant)
            return state_memo[key]

        def _pinned(i: int, instant: str, owned: list[str]) -> DataFrame:
            """Dim i's pinned state as a join side keyed by __jk{i}."""
            name, _, dim_on = self.dims[i]
            return _state(name, instant).select(
                F.col(dim_on).alias(f"__jk{i}"), *owned
            )

        terms: list[DataFrame] = []

        def _assemble(fact_rows, fact_fields, spec):
            """Join a term: fact_rows ⋈ every dim side per spec, where
            spec[i] is either a plain pinned state instant or a signed
            window marker ('delta'). Pinned sides join with ``self.how``
            (left keeps unmatched fact rows, attrs NULL); the Δ side
            always joins INNER — only fact rows matching a changed key
            contribute to a dim term."""
            fields = {"fact": fact_fields}
            for (name, _, _), sp in zip(self.dims, spec):
                if sp == "delta":
                    fields[name] = set(_cdc_types(dim_wins[name]))
                    continue
                ds = _state(name, sp)
                if ds is None:
                    if self.how == "inner":
                        return None  # empty pinned dim: term = ∅
                    raise ValueError(
                        f"left star maintenance: dim {name!r} has no "
                        "published instant in the token — seed the view "
                        "with rebuild() after every dim's first commit"
                    )
                fields[name] = set(ds.columns)
            owners = self._owners(fields)
            out = fact_rows
            for i, ((name, fact_on, dim_on), sp) in enumerate(
                zip(self.dims, spec)
            ):
                if sp == "delta":
                    frame = signed_cdc_rows(
                        dim_wins[name],
                        list(dict.fromkeys([dim_on] + owners[name])),
                    ).select(
                        F.col(dim_on).alias(f"__jk{i}"),
                        *owners[name],
                        SIGN_COL,
                    )
                    join_how = "inner"
                else:
                    frame = _pinned(i, sp, owners[name])
                    join_how = self.how
                out = out.join(
                    frame, F.col(fact_on) == F.col(f"__jk{i}"), join_how
                )
            return out.select(*needed, SIGN_COL)

        fact_on_cols = [fo for _, fo, _ in self.dims]

        # fact term: ΔF ⋈ every dim at its NEW instant
        if fact_win is not None:
            fact_fields = set(_cdc_types(fact_win))
            signed_f = signed_cdc_rows(
                fact_win,
                list(
                    dict.fromkeys(
                        [c for c in needed if c in fact_fields]
                        + fact_on_cols
                    )
                ),
            )
            t = _assemble(
                signed_f,
                fact_fields,
                [through.get(n) for n, _, _ in self.dims],
            )
            if t is not None:
                terms.append(t)

        # dim terms: F₀ ⋈ D<i old ⋈ ΔDi ⋈ D>i new
        changed = [
            i
            for i, (n, _, _) in enumerate(self.dims)
            if dim_wins.get(n) is not None
        ]
        if changed:
            fb = fact_base() if callable(fact_base) else fact_base
            if fb is None:
                if seen.get("fact") is not None or (
                    self.current() is not None
                ):
                    raise ValueError(
                        "apply with a dim window needs fact_base — the "
                        "fact snapshot as of the token's PREVIOUS fact "
                        f"instant ({seen.get('fact')}); only a fact side "
                        "at genesis (no commits consumed yet) may omit it"
                    )
                # fact genesis: F₀ empty, every dim term vanishes
            else:
                fb_fields = set(fb.columns)
                fb_sel = fb.select(
                    *dict.fromkeys(
                        fact_on_cols
                        + [c for c in needed if c in fb_fields]
                    )
                )
                for i in changed:
                    # dims before the Δ side pin OLD (the seen token);
                    # dims after it pin NEW (the through token) — the
                    # telescoping order, with the Δ side owning the sign
                    spec = [
                        seen.get(n) if j < i else through.get(n)
                        for j, (n, _, _) in enumerate(self.dims)
                    ]
                    spec[i] = "delta"
                    t = _assemble(fb_sel, fb_fields, spec)
                    if t is not None:
                        terms.append(t)
                    if self.how != "left":
                        continue
                    # NULL-group counterweight (r10, VERDICT r9 #3): a
                    # dim-i key APPEARING moves its F₀ rows OUT of dim
                    # i's NULL attribute group, a key VANISHING moves
                    # them back in. Per changed key the net existence
                    # change e = Σ sign ∈ {−1, 0, +1} (N:1; an update
                    # nets 0 — its movement is fully carried by the
                    # inner term above). Term = F₀ rows of keys with
                    # e ≠ 0, dim-i attrs NULL, OTHER dims pinned per
                    # the same telescoping spec (left, like every
                    # pinned side), signed −e.
                    name_i, fact_on_i, dim_on_i = self.dims[i]
                    w = dim_wins[name_i]
                    # typed from the window: payload fields plus the
                    # top-level record key, itself a legal column
                    dim_types = _cdc_types(w)
                    exist = (
                        signed_cdc_rows(w, [dim_on_i])
                        .groupBy(dim_on_i)
                        .agg(F.sum(SIGN_COL).alias("__e"))
                        .filter(F.col("__e") != 0)
                        .select(
                            F.col(dim_on_i).alias(f"__jk{i}"),
                            F.col("__e"),
                        )
                    )
                    # other dims' states are non-None here: the inner
                    # term's _assemble raised otherwise
                    owners = self._owners(
                        {
                            "fact": fb_fields,
                            **{
                                n: set(dim_types)
                                if j == i
                                else set(_state(n, spec[j]).columns)
                                for j, (n, _, _) in enumerate(self.dims)
                            },
                        }
                    )
                    out = fb_sel.join(
                        exist,
                        F.col(fact_on_i) == F.col(f"__jk{i}"),
                        "inner",
                    )
                    for j, (n_j, fact_on_j, _) in enumerate(self.dims):
                        if j != i:
                            out = out.join(
                                _pinned(j, spec[j], owners[n_j]),
                                F.col(fact_on_j) == F.col(f"__jk{j}"),
                                "left",
                            )
                    null_i = set(owners[name_i])
                    terms.append(
                        out.select(
                            *[
                                F.lit(None).cast(dim_types[c]).alias(c)
                                if c in null_i
                                else F.col(c)
                                for c in needed
                            ],
                            (-F.col("__e")).cast("int").alias(SIGN_COL),
                        )
                    )

        if not terms:
            # state unchanged — a dim window at fact genesis (F₀ empty),
            # or an inner term against a genesis-empty dim. Advance the
            # token when there is a view to stamp it on; with no view
            # yet, NOT advancing is safe — a re-offered set re-folds the
            # same nothing (vacuously idempotent), and the first fact
            # window will seed state. `validate` is deliberately not
            # run here: the data is byte-identical to the already-gated
            # published state.
            cur = self.current()
            if cur is not None:
                self._publish(cur, through)
            return True
        contrib = terms[0]
        for t in terms[1:]:
            contrib = contrib.unionByName(t)
        self._fold_contrib(contrib, through, base, validate)
        return True


class MaintainedJoinAggregate(MaintainedStarAggregate):
    """The 2-table maintained join — fact ⋈ dim on ``on`` (one name,
    or ``(fact_col, dim_col)``) — as the star with ONE dimension named
    ``"dim"``: the token is ``{"fact": instant, "dim": instant}`` and
    ``apply`` takes ``(fact_win, {"dim": dim_win}, dim_states={"dim":
    ...}, ...)``. Everything else is :class:`MaintainedStarAggregate`."""

    def __init__(
        self,
        spark,
        path: str,
        on: str | tuple[str, str],
        group_cols: list[str],
        sum_cols: list[str],
        minmax_cols: list[str] | None = None,
        distinct_cols: list[str] | None = None,
        how: str = "inner",
    ):
        self.fact_on, self.dim_on = (on, on) if isinstance(on, str) else on
        super().__init__(
            spark,
            path,
            dims=[("dim", self.fact_on, self.dim_on)],
            group_cols=group_cols,
            sum_cols=sum_cols,
            minmax_cols=minmax_cols,
            distinct_cols=distinct_cols,
            how=how,
        )
