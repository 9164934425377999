"""SCD2 (slowly-changing-dimension, type 2) history maintenance —
MERGE-INTO semantics emulated with anti-join + union + window (the
pattern for engines without a native MERGE; pyspark_guide CDC/SCD2
note). Complements the KeyedTable upsert (which keeps only the latest
row): SCD2 keeps EVERY version with a validity interval.

History table schema: business columns + ``valid_from`` (timestamp) and
``valid_to`` (timestamp, null = current row).

Scale: one shuffle keyed by the business key per apply (the window);
history grows append-only — at 100 TB partition it by valid_from date
so current-row queries prune to recent partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.ivm import VersionedView


def scd2_apply(
    history: DataFrame | None,
    updates: DataFrame,
    key: str,
    change_ts: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Apply a batch of updates to an SCD2 history.

    * new keys → inserted as current rows (valid_from = change_ts);
    * changed keys (any compare_col differs from the current version) →
      current row closed at the update's change_ts, new current row
      appended;
    * unchanged keys and duplicate no-op updates → untouched;
    * multiple updates for one key within the batch → applied in
      change_ts order (each closes the previous).

    Returns the new history DataFrame (caller persists it — e.g. via
    KeyedTable or a date-partitioned append).
    """
    upd_cols = [c for c in updates.columns if c != change_ts]
    compare_cols = compare_cols or [c for c in upd_cols if c != key]

    incoming = updates.select(
        *upd_cols, F.col(change_ts).alias("valid_from")
    ).withColumn("valid_to", F.lit(None).cast("timestamp"))

    if history is None:
        versions = incoming
    else:
        versions = history.select(*upd_cols, "valid_from", "valid_to").unionByName(
            incoming
        )

    # rebuild validity chains per key: order versions, drop consecutive
    # no-op duplicates, close each version at the next one's start
    w = Window.partitionBy(key).orderBy(F.asc("valid_from"))
    change_flag = F.lit(False)
    for c in compare_cols:
        prev = F.lag(F.col(c)).over(w)
        change_flag = change_flag | ~(
            (F.col(c) == prev) | (F.col(c).isNull() & prev.isNull())
        )
    deduped = (
        versions.withColumn("__first", F.lag(key).over(w).isNull())
        .withColumn("__changed", change_flag)
        .filter(F.col("__first") | F.col("__changed"))
        .drop("__first", "__changed")
    )
    w2 = Window.partitionBy(key).orderBy(F.asc("valid_from"))
    return deduped.withColumn(
        "valid_to", F.lead("valid_from").over(w2)
    )


def scd2_current(history: DataFrame) -> DataFrame:
    """The current view: rows whose validity is open."""
    return history.filter(F.col("valid_to").isNull())


def scd2_as_of(history: DataFrame, ts) -> DataFrame:
    """Time travel: the dimension as of ``ts``."""
    t = F.lit(ts).cast("timestamp")
    return history.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


class MaintainedSCD2(VersionedView):
    """CDC-driven SCD2 dimension history (r10, VERDICT r9 #8):
    :func:`scd2_apply` is batch-only — this class drives the same
    type-2 semantics from ``KeyedTable.cdc`` / ``CDCReader`` windows
    under the SAME versioned-dir + pointer + ``through``-token
    durability/exactly-once contract as the maintained aggregates (it
    IS a :class:`..operators.ivm.VersionedView`), so a dimension's
    full version history stays continuously current and point-in-time
    joins read one filter.

    Validity is in COMMIT-ID space (``valid_from``/``valid_to`` are the
    table's commit instants, strings with total order): ``as_of(c)``
    then reproduces ``table.snapshot(as_of=c)`` EXACTLY for every
    commit at or after the history's first — no timestamp-collision
    ambiguity. Deletes are first-class: a 'd' row closes the key's
    current version at its commit and the key is absent until a
    re-insert opens a new one; the close boundary persists as a hidden
    tombstone marker row (attrs NULL) so later folds rebuild chains
    correctly — readers never see it.

    Change notion: a version per CDC state change (every data column —
    ``suppress_unchanged`` upstream already drops no-op rewrites).
    Fold cost: one key-partitioned window over (stored versions of
    changed keys ∪ window rows) — the stored side is semi-join-pruned
    to the window's keys, so a fold is O(changed keys' history +
    window), never O(dimension history).

    Exactly-once: ``apply(win, through=end)`` with a covered token is
    a no-op — a crash between apply and the reader checkpoint
    redelivers a window the history recognizes and skips. ``rebuild``
    seeds from a snapshot (every live row becomes a current version
    opening at the seed instant; history before the seed is
    unknowable by construction)."""

    #: hidden marker flag column (never exposed by reads)
    TOMBSTONE_COL = "__tombstone"

    def __init__(self, spark, path: str, key: str):
        super().__init__(spark, path)
        self.key = key

    def history(self) -> DataFrame | None:
        """The SCD2 history: business columns + valid_from/valid_to
        (commit ids; valid_to NULL = current). Markers filtered."""
        raw = self._published()
        if raw is None:
            return None
        return raw.filter(~F.col(self.TOMBSTONE_COL)).drop(
            self.TOMBSTONE_COL
        )

    def current(self) -> DataFrame | None:
        h = self.history()
        return None if h is None else h.filter(F.col("valid_to").isNull())

    def as_of(self, instant: str) -> DataFrame | None:
        """Point-in-time dimension state: rows valid at ``instant`` —
        equals ``table.snapshot(as_of=instant)`` for instants at or
        after the history's first fold/seed."""
        h = self.history()
        if h is None:
            return None
        c = F.lit(instant)
        return h.filter(
            (F.col("valid_from") <= c)
            & (F.col("valid_to").isNull() | (F.col("valid_to") > c))
        )

    # -- folds -----------------------------------------------------------
    def rebuild(self, snapshot: DataFrame, through: str) -> None:
        """Seed (or re-seed, e.g. across a replace commit) from a
        dimension snapshot: every live row opens a current version at
        ``through``."""
        seeded = snapshot.select(
            *[c for c in snapshot.columns if c != "_commit_time"],
            F.lit(through).alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            F.lit(False).alias(self.TOMBSTONE_COL),
        )
        self._publish(seeded, through)

    def apply(self, cdc_window: DataFrame, through: str | None = None) -> bool:
        """Fold one CDC window. Returns False (no-op) when ``through``
        shows the window was already applied."""
        if not self._fresh(through):
            return False
        key = self.key
        attr_fields = cdc_window.schema["_after"].dataType.fields
        attrs = [f.name for f in attr_fields]
        is_del = F.col("_change_op") == "d"
        events = cdc_window.select(
            F.col(key),
            *[
                F.when(~is_del, F.col("_after")[c]).alias(c)
                for c in attrs
            ],
            F.col("_commit_time").alias("valid_from"),
            F.lit(None).cast("string").alias("valid_to"),
            is_del.alias(self.TOMBSTONE_COL),
        )
        # stored rows INCLUDING tombstone markers (the fold input)
        raw = self._published()
        untouched = None
        if raw is None:
            versions = events  # genesis fold: no stored chains yet
        else:
            # prune the stored side to the window's keys — untouched
            # keys' chains are already correct and carry forward
            # unchanged; only changed keys rebuild (O(changed history)).
            # allowMissingColumns: a dimension that EVOLVED between
            # windows (added a column) NULL-fills the pre-evolution
            # versions instead of failing the fold — the engine-wide
            # schema-evolution read contract.
            keys = events.select(key).distinct()
            touched = raw.join(F.broadcast(keys), key, "left_semi")
            untouched = raw.join(F.broadcast(keys), key, "left_anti")
            versions = touched.unionByName(
                events, allowMissingColumns=True
            )
        w = Window.partitionBy(key).orderBy(F.asc("valid_from"))
        rebuilt = versions.withColumn(
            "valid_to", F.lead("valid_from").over(w)
        )
        if untouched is not None:
            rebuilt = untouched.unionByName(
                rebuilt, allowMissingColumns=True
            )
        self._publish(rebuilt, through)
        return True
