"""Keyed-table upsert writer: Hudi COPY_ON_WRITE upsert semantics
emulated over versioned parquet snapshots (SURVEY.md §2.2 K1, §2.5
P1-P6), without Hudi jars.

Contract (matches generate_hudi_table.py:86-214's observable behavior):
  * record key (P1, hoodie...recordkey.field): at most one live row per
    key after every upsert;
  * precombine (P2, hoodie...precombine.field): among rows with the same
    key — within one incoming batch AND between incoming and existing —
    the row with the LARGER precombine value wins; on precombine ties
    the incoming row wins (Hudi's default combine keeps the incoming);
  * commit timeline: every upsert creates a new commit id
    (yyyyMMddHHmmssSSS string, totally ordered — the _hoodie_commit_time
    shape, template.py:199-204) and rows carry their commit id in
    ``_commit_time``, so incremental reads (sources/incremental.py) see
    exactly the rows each commit touched;
  * partitioning (P4): optional hive-style partition columns;
  * cleaner (P6, KEEP_LATEST_FILE_VERSIONS): keep the last N snapshot
    versions, delete older ones;
  * deletes: ``delete(keys_df)`` removes keys (Hudi delete operation).

Layout::

    root/
      snapshots/v=<commit>/...parquet   (full COW snapshot per commit)
      log/c=<commit>/...parquet         (rows upserted in that commit —
                                         the incremental/CDC stream)
      _latest                           (pointer file → current commit)

The pointer, transactions, orphan reaping, replace markers, savepoints
and restore/rollback are the commit timeline both engines share
(:class:`.timeline.Timeline`); this module adds the snapshot layout.

Scale notes: the merge is one shuffle of (existing ∪ incoming) keyed by
record key — the same cost Hudi pays for a global-index upsert. At
100 TB you'd partition by a key prefix / date so the union only rewrites
touched partitions; the emulation keeps COW-per-table for clarity and
notes partition-scoped rewrite as the production path. Snapshots are
written ``partitionBy(partition_cols)`` so downstream reads prune.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.incremental import COMMIT_COL, read_commit_log
from .concurrency import CommitConflictError
from .timeline import (
    Timeline,
    _reap_beyond_pointer,
    _reap_dirs_beyond_pointer,
    _write_json_atomic,
)

#: the derived composite-key meta column (the _hoodie_record_key
#: analogue), materialized when ``record_key`` names several fields
COMPOSITE_KEY_COL = "_record_key"


class ReplaceCommitError(ValueError):
    """A CDC window spans an ``insert_overwrite_table`` (replace)
    commit: before-images across a replace are not derivable from the
    log under the precombine merge rule — the consumer must re-seed
    from a snapshot at or after the replace instant and resume CDC from
    there. Subclasses ValueError so pre-existing ``except ValueError``
    handling keeps working; self-heal paths (pipeline.run_maintained_
    report) catch THIS type instead of string-matching the message."""


def with_composite_key(df: DataFrame, key_fields: list[str]) -> DataFrame:
    """Materialize the derived ``_record_key`` meta column for a
    composite key (no-op when the frame already carries it). Shared by
    :class:`KeyedTable` and :class:`.filegroups.BucketedTable` so both
    engines key identically. See :meth:`KeyedTable._with_key` for the
    injectivity argument (escape + null sentinel + separator join)."""
    if COMPOSITE_KEY_COL in df.columns:
        return df
    missing = [c for c in key_fields if c not in df.columns]
    if missing:
        raise ValueError(f"composite key fields missing from batch: {missing}")
    parts = []
    for c in key_fields:
        escaped = F.regexp_replace(
            F.regexp_replace(F.col(c).cast("string"), "\x01", "\x01\x01"),
            "\x1f",
            "\x01s",
        )
        parts.append(F.coalesce(escaped, F.lit("\x01n")))
        parts.append(F.lit("\x1f"))
    return df.withColumn(COMPOSITE_KEY_COL, F.concat(*parts[:-1]))


def _merge_latest(
    df: DataFrame, key: str, precombine: str, prefer_col: str | None = None
) -> DataFrame:
    """Latest-per-key by (precombine DESC[, prefer DESC]) — the P2 rule.
    ``prefer_col`` breaks exact precombine ties in favor of incoming
    rows (Hudi keeps the incoming record on ties)."""
    order = [F.desc(precombine)]
    if prefer_col is not None:
        order.append(F.desc(prefer_col))
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def _merge_partial(
    df: DataFrame, key: str, order_cols: list[str]
) -> DataFrame:
    """Partial-update merge (the PartialUpdateAvroPayload analogue):
    per key, each column independently takes its LAST NON-NULL value in
    ``order_cols`` ascending order; the surviving row carries the
    highest-ordered row's own ordering columns. Column-independent
    last-non-null is associative, which is what makes the engine's
    commit-order rule identical whether applied as an incremental COW
    fold or as one MOR read-time window (see KeyedTable ``payload``).

    One Exchange: the fill window and the pick-last row_number share
    the key partitioning."""
    asc = [F.asc(c) for c in order_cols]
    wf = (
        Window.partitionBy(key)
        .orderBy(*asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    data_cols = [c for c in df.columns if c != key]
    filled = df.select(
        key,
        *[
            F.last(F.col(c), ignorenulls=True).over(wf).alias(c)
            for c in data_cols
        ],
    )
    wn = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    return (
        filled.withColumn("__rn", F.row_number().over(wn))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


#: promotion ranks of the integral types (parquet reads any lower rank
#: under a higher-rank declared schema)
_INT_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}

#: decimal integer digits the parquet reader requires to widen each
#: integral type — a PHYSICAL-STORAGE bound, not a value-range one:
#: byte/short/int are all stored as parquet INT32, and Spark's reader
#: demands room for any INT32 (p−s ≥ 10) regardless of the declared
#: logical width (dec(5,0) over a short-typed file is REJECTED at scan
#: time); LongType (INT64) needs p−s ≥ 20 (dec(19,0) rejected,
#: dec(20,0) accepted). Verified empirically on Spark 4.1.2.
_INT_DECIMAL_DIGITS = {"byte": 10, "short": 10, "integer": 10, "long": 20}


def _widened(old, new):
    """The wider of two column types under the engine's supported
    schema promotions, or None when the pair is not promotable. The
    whitelist is the intersection of Hudi's Avro-style promotions and
    what Spark 4's parquet readers natively widen AT SCAN TIME
    (verified empirically; tests/test_upsert.py
    ``test_schema_type_widening_*`` / ``test_schema_widening_*``) —
    promotions outside that set would poison MOR reads, where files of
    both vintages coexist under one declared schema:

      * integral upward: byte → short → int → long;
      * float → double;
      * byte/short/int → double (exact: int32 ⊂ double's 53-bit
        mantissa; long → double is LOSSY and excluded);
      * integral → decimal with room for every value
        (:data:`_INT_DECIMAL_DIGITS`, the reader's own bound);
      * decimal(p,s) → decimal(p′,s′) when the target COVERS the
        source: p′−s′ ≥ p−s and s′ ≥ s.

    Symmetric: returns whichever side covers the other (equal types
    return ``old``), so a NARROWER incoming batch is legal and leaves
    the recorded schema unchanged. A pair where NEITHER side covers the
    other (e.g. decimal(10,2) vs decimal(9,4)) is rejected, like
    Hudi — the caller raises rather than inventing a third envelope
    type no data file actually carries a reader-tested path to."""
    if _covers(old, new):
        return old
    if _covers(new, old):
        return new
    return None


def _covers(a, b) -> bool:
    """True when declaring schema type ``a`` over parquet files whose
    columns were WRITTEN as type ``b`` is lossless and supported by
    Spark's parquet readers (the scan-time widening contract
    :func:`_widened` builds on)."""
    from pyspark.sql.types import DecimalType

    if a == b:
        return True
    an, bn = a.typeName(), b.typeName()
    if an in _INT_RANK and bn in _INT_RANK:
        return _INT_RANK[an] >= _INT_RANK[bn]
    if an == "double" and bn == "float":
        return True
    if an == "double" and bn in _INT_RANK and _INT_RANK[bn] <= 3:
        return True
    if isinstance(a, DecimalType) and bn in _INT_RANK:
        return a.precision - a.scale >= _INT_DECIMAL_DIGITS[bn]
    if isinstance(a, DecimalType) and isinstance(b, DecimalType):
        return (
            a.precision - a.scale >= b.precision - b.scale
            and a.scale >= b.scale
        )
    return False


def merge_widened_fields(prev_fields, incoming_fields):
    """Order-preserving name union + type promotion — the ONE schema-
    evolution merge rule both table engines apply (KeyedTable's
    `_update_schema`, BucketedTable's `_union_schema`): a new name
    appends as a nullable field, a same-name type change widens along
    :func:`_widened`'s reader-verified lattice or raises. Returns
    ``(merged_fields, changed)``."""
    from pyspark.sql.types import StructField

    merged = list(prev_fields)
    by_name = {f.name: i for i, f in enumerate(merged)}
    changed = False
    for f in incoming_fields:
        at = by_name.get(f.name)
        if at is None:
            by_name[f.name] = len(merged)
            merged.append(StructField(f.name, f.dataType, True))
            changed = True
            continue
        seen = merged[at]
        if seen.dataType == f.dataType:
            continue
        wide = _widened(seen.dataType, f.dataType)
        if wide is None:
            raise ValueError(
                f"schema evolution supports adding nullable columns "
                f"and WIDENING type promotions, not this change: "
                f"column {f.name!r} is "
                f"{seen.dataType.simpleString()} in the table but "
                f"{f.dataType.simpleString()} in the incoming batch"
            )
        if wide != seen.dataType:
            # carry the prior field's metadata through the widening
            # (ADVICE r8: dropping it here would silently erase e.g. a
            # rename mapping or drop tombstone on a widening commit)
            merged[at] = StructField(f.name, wide, True, seen.metadata)
            changed = True
    return merged, changed


def _conform_types(df: DataFrame, schema) -> DataFrame:
    """Cast ``df``'s columns to the recorded table schema's types where
    they differ (each such cast is a widening `_widened` already
    vetted, so it is lossless). Keeps the incoming batch's files
    physically AT the recorded types — the COW union then coerces the
    narrower existing state upward to exactly the recorded schema (no
    drift), and a MOR log file never carries a type WIDER than the
    declared read schema. Columns outside the recorded schema (e.g.
    the commit stamp, added later) pass through untouched."""
    types = {f.name: f.dataType for f in schema.fields}
    changed = any(
        f.name in types and f.dataType != types[f.name]
        for f in df.schema.fields
    )
    if not changed:
        return df
    return df.select(
        *[
            (
                F.col(f.name).cast(types[f.name]).alias(f.name)
                if f.name in types and f.dataType != types[f.name]
                else F.col(f.name)
            )
            for f in df.schema.fields
        ]
    )


def cdc_window(
    table,
    begin: str | None = None,
    end: str | None = None,
    suppress_unchanged: bool = True,
) -> DataFrame | None:
    """Engine-agnostic CDC window derivation (r10, VERDICT r9 #6): the
    op/before/after algebra of :meth:`KeyedTable.cdc`, factored over a
    small table protocol so :class:`..sinks.filegroups.BucketedTable`
    shares it verbatim. ``table`` must provide ``spark``, ``root``,
    ``record_key``, ``precombine``, ``payload``, ``latest_commit()``,
    ``instants()``, ``_timeline_instants()`` (commit → op), ``log()``,
    ``_snapshot_as_of(instant)``, ``_rename_priors_map()``, and write
    dropped keys under ``tombstones/c=<commit>/`` (both engines do).
    See :meth:`KeyedTable.cdc` for the full semantics contract."""

    latest = table.latest_commit()
    if latest is None:
        return None
    end_eff = latest if end is None or end > latest else end
    insts = [c for c in table.instants() if c <= end_eff]
    window = [c for c in insts if begin is None or c > begin]
    tl_ops = table._timeline_instants()
    replaced = [c for c in window if tl_ops.get(c) == "overwrite"]
    if replaced:
        raise ReplaceCommitError(
            f"CDC window spans replace commit {replaced[0]} "
            "(insert_overwrite_table): before-images across a "
            "replace are not derivable from the log under the "
            "precombine merge rule — re-seed the consumer from a "
            "snapshot at or after it (MaintainedAggregate.rebuild / "
            "a fresh replica seed), then resume CDC from there"
        )
    log = table.log()
    if log is None:
        raise ValueError(
            "CDC needs the commit log; this root has none "
            "(pre-log table layout)"
        )
    key, pre = table.record_key, table.precombine
    data_cols = [c for c in log.columns if c not in (key, COMMIT_COL)]
    payload = F.struct(*[F.col(c) for c in data_cols])

    lw = log.filter(F.col(COMMIT_COL) <= F.lit(end_eff))
    if begin is not None:
        lw = lw.filter(F.col(COMMIT_COL) > F.lit(begin))
    changes = lw.select(
        F.col(key),
        F.col(COMMIT_COL),
        F.lit(False).alias("__is_delete"),
        F.lit(True).alias("__in_window"),
        payload.alias("__row"),
    )
    row_type = changes.schema["__row"].dataType

    timeline = table._timeline_instants()
    for d in (c for c in window if timeline.get(c) == "delete"):
        ts_path = os.path.join(table.root, "tombstones", f"c={d}")
        if os.path.isdir(ts_path):
            # late-r7 tables: the delete recorded its dropped keys —
            # O(dropped) read, valid even after the cleaner removed
            # the delete's snapshot dirs (a lagging CDC consumer
            # stays serviceable)
            dropped = table.spark.read.parquet(ts_path).select(key)
        else:
            # pre-tombstone vintage: key-diff of the neighbouring
            # snapshots (raises the retained-history rail when the
            # cleaner got there first)
            prev = insts[insts.index(d) - 1] if insts.index(d) else None
            if prev is None:
                continue  # delete as first instant: nothing to drop
            dropped = (
                table._snapshot_as_of(prev)
                .select(key)
                .join(
                    table._snapshot_as_of(d).select(key), key, "left_anti"
                )
            )
        changes = changes.unionByName(
            dropped.select(
                F.col(key),
                F.lit(d).alias(COMMIT_COL),
                F.lit(True).alias("__is_delete"),
                F.lit(True).alias("__in_window"),
                F.lit(None).cast(row_type).alias("__row"),
            )
        )

    if begin is not None:
        base = table._snapshot_as_of(begin)
        if base is not None:
            # schema-evolution tolerance: a pre-evolution base lacks
            # later columns — NULL-fill them — and may carry
            # pre-widening NARROWER types — cast them up — so the
            # payload struct matches the log's (post-evolution)
            # shape exactly (the casts are vetted widenings: no-ops
            # on unevolved tables). A base pinned BEFORE a rename
            # presents the vintage's OLD name — the rename mapping
            # serves it into the current column, so before-images
            # across a rename boundary keep their values.
            log_types = {f.name: f.dataType for f in log.schema.fields}
            priors = table._rename_priors_map()

            def _base_src(c):
                if c in base.columns:
                    return F.col(c)
                for p in priors.get(c, ()):
                    if p in base.columns:
                        return F.col(p)
                return F.lit(None)

            base_payload = F.struct(
                *[
                    _base_src(c).cast(log_types[c]).alias(c)
                    for c in data_cols
                ]
            )
            seed = base.join(
                changes.select(key), key, "left_semi"
            ).select(
                F.col(key),
                F.col(COMMIT_COL),  # actual commit ≤ begin < window
                F.lit(False).alias("__is_delete"),
                F.lit(False).alias("__in_window"),
                base_payload.alias("__row"),
            )
            changes = changes.unionByName(seed)

    w_key = Window.partitionBy(key).orderBy(COMMIT_COL)
    w_epoch = (
        Window.partitionBy(key, "__epoch")
        .orderBy(COMMIT_COL)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if table.payload == "partial_update":
        # partial tables: the running state is per-column
        # last-non-null within the epoch (commit order) — the same
        # column-independent rule _merge_partial materializes; the
        # epoch split keeps a post-delete re-insert from inheriting
        # pre-delete columns
        after_state = F.struct(
            *[
                F.last(F.col("__row")[c], ignorenulls=True)
                .over(w_epoch)
                .alias(c)
                for c in data_cols
            ]
        )
    else:
        state_struct = F.when(
            ~F.col("__is_delete"),
            F.struct(
                F.col("__row")[pre].alias("__p"),
                F.col(COMMIT_COL).alias("__c"),
                F.col("__row").alias("__payload"),
            ),
        )
        after_state = F.max(state_struct).over(w_epoch)["__payload"]
    staged = changes.withColumn(
        "__epoch",
        F.coalesce(
            F.sum(F.col("__is_delete").cast("int")).over(
                w_key.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).withColumn(
        "__after",
        F.when(~F.col("__is_delete"), after_state),
    )
    out = (
        staged.withColumn("__before", F.lag("__after").over(w_key))
        .filter(F.col("__in_window"))
        .withColumn(
            "_change_op",
            F.when(F.col("__is_delete"), F.lit("d"))
            .when(F.col("__before").isNull(), F.lit("i"))
            .otherwise(F.lit("u")),
        )
    )
    if suppress_unchanged:
        out = out.filter(
            (F.col("_change_op") != "u")
            | ~F.col("__before").eqNullSafe(F.col("__after"))
        )
    return out.select(
        F.col(key),
        F.col(COMMIT_COL),
        F.col("_change_op"),
        F.col("__before").alias("_before"),
        F.col("__after").alias("_after"),
    )


class KeyedTable(Timeline):
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        record_key: str | list[str],
        precombine: str,
        partition_cols: list[str] | None = None,
        keep_versions: int = 3,
        table_type: str = "COPY_ON_WRITE",
        lock_provider=None,
        lock_timeout_s: float = 60.0,
        payload: str = "overwrite",
    ):
        if table_type not in ("COPY_ON_WRITE", "MERGE_ON_READ"):
            raise ValueError(f"unknown table_type: {table_type!r}")
        if payload not in ("overwrite", "partial_update"):
            raise ValueError(f"unknown payload: {payload!r}")
        if keep_versions < 1:
            # commits[:-0] is commits[:0] == [] — keep_versions=0 would
            # silently DISABLE the cleaner (r9 review), not minimize it
            raise ValueError(
                f"keep_versions={keep_versions}: must be >= 1 (the "
                "live version always survives)"
            )
        self.spark = spark
        self.root = root
        # composite record keys (Hudi ComplexKeyGenerator, late r7): a
        # list (or comma-separated string) of fields materializes a
        # derived `_record_key` meta column — exactly Hudi's
        # _hoodie_record_key — and EVERY downstream mechanism (merge,
        # conflict detection, tombstones, CDC, replication) works on
        # that single column unchanged. Encoding is null-safe
        # (unit-separator join with a null sentinel), so ("a", NULL)
        # and (NULL, "a") never collide; Hudi itself rejects null key
        # fields, this engine just keys them distinctly.
        if isinstance(record_key, str) and "," in record_key:
            record_key = [f.strip() for f in record_key.split(",")]
        if isinstance(record_key, list):
            self.key_fields: list[str] = list(record_key)
            self.record_key = COMPOSITE_KEY_COL
        else:
            self.key_fields = [record_key]
            self.record_key = record_key
        self.precombine = precombine
        self.partition_cols = partition_cols or []
        self.keep_versions = keep_versions
        self.table_type = table_type
        #: merge payload (the hoodie.datasource.write.payload.class
        #: analogue): "overwrite" = OverwriteWithLatestAvroPayload (the
        #: P2 rule — larger precombine wins whole-row). "partial_update"
        #: = PartialUpdateAvroPayload-style column patching: NULL
        #: incoming fields KEEP the existing value (so NULL cannot be
        #: written explicitly — Hudi's own limitation), non-null fields
        #: overwrite. Merge order for partial tables is (commit,
        #: precombine): ARRIVAL order decides between batches, the
        #: precombine field only orders within one batch — column-
        #: independent last-non-null under a total order is associative,
        #: which makes the incremental COW fold and the single MOR
        #: read-time window provably identical; Hudi's ordering-field-
        #: across-batches variant is NOT associative (a filled column
        #: inherits the winner's ordering label), so this engine
        #: deliberately trades cross-batch stale protection for
        #: fold/window equivalence. Late batches DO patch — partial
        #: tables are for CDC-style column-stream sources where arrival
        #: order IS the truth.
        self.payload = payload
        # P9: optimistic concurrency control. None = single-writer mode
        # (the r1 default, zero overhead); a lock provider from
        # sinks/concurrency.py turns on the Hudi-style OCC protocol —
        # commit phase under the lock, key-overlap conflict detection,
        # CommitConflictError for the caller to retry.
        self.lock_provider = lock_provider
        self.lock_timeout_s = lock_timeout_s
        os.makedirs(root, exist_ok=True)
        self._write_meta()

    # -- table metadata (lets readers open a root without config) -------
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_meta.json")

    def _write_meta(self) -> None:
        if os.path.exists(self._meta_path()):
            # identity guard (r9 review): constructing over an existing
            # root with a DIFFERENT key/merge config would split-brain
            # the table — this writer merging by one key while open()
            # readers (CDC, replication, conflict detection) key by the
            # persisted one. Operational knobs may differ: keep_versions
            # and locks per writer, and table_type too — it only picks
            # each commit's WRITE amplification (snapshot rewrite vs log
            # append); every read merges base ∪ log regardless, so a
            # COW root legitimately takes MOR-mode appends (the
            # compaction-backlog shape the index tests use).
            with open(self._meta_path()) as f:
                meta = json.load(f)
            mine = {
                "record_key": (
                    self.key_fields
                    if self.record_key == COMPOSITE_KEY_COL
                    else self.record_key
                ),
                "precombine": self.precombine,
                "partition_cols": self.partition_cols,
                "payload": self.payload,
            }
            diffs = {
                k: (meta.get(k), mine[k])
                for k in mine
                if meta.get(k) != mine[k]
            }
            if diffs:
                raise ValueError(
                    f"KeyedTable at {self.root} already exists with a "
                    f"different identity config: {diffs} (persisted vs "
                    "requested) — use KeyedTable.open() or match the "
                    "persisted record_key/precombine/partition_cols/"
                    "payload"
                )
            return
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    # the ORIGINAL key spec (field list for composite
                    # tables) so open() reconstructs the key generator
                    "record_key": (
                        self.key_fields
                        if self.record_key == COMPOSITE_KEY_COL
                        else self.record_key
                    ),
                    "precombine": self.precombine,
                    "partition_cols": self.partition_cols,
                    "keep_versions": self.keep_versions,
                    "table_type": self.table_type,
                    "payload": self.payload,
                },
                f,
            )
        os.replace(tmp, self._meta_path())

    @classmethod
    def open(
        cls, spark: SparkSession, root: str, lock_provider=None
    ) -> KeyedTable:
        """Open an existing KeyedTable root from its persisted metadata —
        the read-side analogue of the Hudi table config: a reader needs
        no out-of-band record-key/precombine knowledge. ``lock_provider``
        is process-local (not persisted): each writer brings its own
        handle to the shared lock, as with Hudi's lock configs."""
        with open(os.path.join(root, "_meta.json")) as f:
            meta = json.load(f)
        return cls(spark, root, lock_provider=lock_provider, **meta)

    # -- timeline layout ------------------------------------------------
    def commits(self) -> list[str]:
        snap_dir = os.path.join(self.root, "snapshots")
        if not os.path.isdir(snap_dir):
            return []
        return sorted(d.split("=", 1)[1] for d in os.listdir(snap_dir) if "=" in d)

    def instants(self) -> list[str]:
        """All PUBLISHED commit ids, oldest first: timeline markers ∪
        log dirs ∪ snapshot dirs, bounded by the ``_latest`` pointer
        (the commit point — anything beyond it is a crashed writer's
        orphan, not history). The union covers every table vintage:
        pre-timeline r1 tables have only dirs, cleaned commits may
        survive only as markers or log dirs."""
        latest = self.latest_commit()
        if latest is None:
            return []
        seen = (
            set(self._timeline_instants())
            | set(self._log_commits())
            | set(self.commits())
        )
        return sorted(c for c in seen if c <= latest)

    # -- composite key generator (late r7) ------------------------------
    def _with_key(self, df: DataFrame) -> DataFrame:
        """Materialize the derived ``_record_key`` column on composite
        tables (no-op for single-field keys or frames that already
        carry it, e.g. replication afters). The encoding is INJECTIVE
        — distinct field tuples can never collide:

          * each field value escapes ``\\x01`` → ``\\x01\\x01`` and the
            ``\\x1f`` separator → ``\\x01s`` (so the separator never
            occurs inside an escaped value),
          * NULL becomes the sentinel ``\\x01n`` (unreachable by
            escaping: escaped output only ever pairs ``\\x01`` with
            ``\\x01`` or ``s``),
          * fields join on ``\\x1f``.

        An unescaped join would silently MERGE keys like
        ('a\\x1fb', 'c') and ('a', 'b\\x1fc') — dropping the
        precombine loser's row for uncontrolled string inputs."""
        if self.record_key != COMPOSITE_KEY_COL:
            return df
        return with_composite_key(df, self.key_fields)

    # -- schema evolution (late r7) -------------------------------------
    def _schema_dir(self) -> str:
        return os.path.join(self.root, "schema")

    def _update_schema(self, incoming: DataFrame, commit: str):
        """Record the table's data schema AS OF ``commit`` (the Hudi
        commit-metadata schema analogue): the union of every committed
        upsert's columns, in first-seen order, all nullable. The
        explicit-schema log read (sources/incremental.read_commit_log)
        depends on it — pre-evolution commit dirs are NULL-filled by
        the parquet reader against this schema, with no per-file
        footer sweep (mergeSchema) at any scale.

        Crash-consistent like every other table mutation: the schema
        is stamped per commit (schema/<commit>.json) and readers honor
        only files ≤ the ``_latest`` pointer, so a widened schema
        becomes visible atomically WITH its data at the pointer flip —
        a crashed upsert's schema file is a beyond-pointer orphan that
        ``_rollback_failed`` reaps (no phantom columns, and a retry
        with a different type is not spuriously rejected).

        Supported evolution: ADDING nullable columns, and WIDENING a
        column's type along the :func:`_widened` promotion lattice
        (int chain upward, float→double, small-int→double,
        int→roomy decimal, covering decimal→decimal — Hudi's
        promotions intersected with what Spark's parquet readers widen
        at scan time). The recorded schema takes the wider type; data
        files keep their written (possibly narrower) types and every
        explicit-schema read widens at the scan — no rewrite of old
        files, ever. A narrower INCOMING batch leaves the schema
        unchanged (the batch is cast up before writing, see
        :func:`_conform_types`). A non-promotable change (string↔int,
        long→int as the table type, non-covering decimals) raises
        here, loudly, before any file is written — the union would
        otherwise fail (COW) or poison reads (MOR).

        Returns the schema in force for THIS commit (the staged one
        when it changed) — the writer conforms the batch to it."""
        from pyspark.sql.types import StructField, StructType

        from ..sources.incremental import _committed_schema

        new_fields = [
            f for f in incoming.schema.fields if f.name != COMMIT_COL
        ]
        if any(f.name == "c" for f in new_fields):
            # the commit-log layout reserves `c` for its partition dir
            # (log/c=<id>/); accepting the write would brick every
            # later log read (r9 review: the guard lived only in
            # read_commit_log, AFTER files were written)
            raise ValueError(
                "data column named 'c' collides with the commit-log "
                "partition column (log/c=<commit>/) — rename it before "
                "writing"
            )
        # the RAW record (tombstoned drops included): a re-added name
        # must be checked against the residual data old files still
        # hold under it, which the active view deliberately hides
        current = _committed_schema(self.root, include_dropped=True)
        had_recorded = current is not None
        if current is None:
            # legacy root (pre-schema-recording) with data already on
            # disk: seed the widening check from the FILES' inferred
            # schema, or the first recorded schema could be NARROWER
            # than existing files — which explicit-schema reads cannot
            # widen. One inference read, only until a schema is
            # recorded; empty tables skip it.
            current = self._inferred_file_schema()
        current_fields: list[StructField] = (
            list(current.fields) if current is not None else []
        )
        tombstoned = {
            f.name for f in current_fields if f.metadata.get("dropped")
        }
        renamed_away = {
            p
            for f in current_fields
            for p in f.metadata.get("renamed_from", ())
        }
        for f in new_fields:
            if f.name in tombstoned or f.name in renamed_away:
                # reads are NAME-based: a re-added column would
                # resurface the residual values old files still hold
                # under that name for pre-drop rows — silently wrong
                # for a user expecting a fresh column (Hudi avoids
                # this with column IDs; this engine refuses loudly —
                # the log dirs keep pre-drop files forever, so no
                # rewrite can safely free the name). A renamed-away
                # name is the same hazard: old files still serve it
                # into its successor via the rename mapping.
                how = (
                    "renamed (alter_rename_column)"
                    if f.name in renamed_away
                    else "dropped (alter_drop_column)"
                )
                raise ValueError(
                    f"column {f.name!r} was {how} on this table and "
                    "its name cannot be re-added: old data files still "
                    "hold the previous values, which name-based reads "
                    "would resurface in pre-change rows — use a new "
                    "column name"
                )
        current_fields, changed = merge_widened_fields(
            current_fields, new_fields
        )
        staged = StructType(current_fields)
        if changed or not had_recorded:
            _write_json_atomic(
                os.path.join(self._schema_dir(), f"{commit}.json"),
                json.loads(staged.json()),
            )
        return staged

    def table_schema(self):
        """The table's current COMMITTED data schema: the newest
        schema/<commit>.json at or below the ``_latest`` pointer
        (legacy single-file _schema.json honored as a fallback), or
        None for roots that never recorded one (they infer from
        files). A mid-transaction staged schema file (> pointer) is
        deliberately NOT consulted: it is a superset of the committed
        schema, and reads of committed data under the older schema
        stay correct (the merge unions tolerate missing columns), so
        the pointer bound keeps crashed writers' orphan schema files
        from ever surfacing phantom columns."""
        from ..sources.incremental import _committed_schema

        return _committed_schema(self.root)

    def _inferred_file_schema(self):
        """The data schema INFERRED from the commit-log files — the
        legacy-root fallback :meth:`_update_schema` seeds its widening
        check from when no schema was ever recorded. Every write path
        appends to the log (upsert, overwrite — deletes change no
        schema), and legacy logs are schema-UNIFORM (schema recording
        landed together with evolution, so an unrecorded root never
        evolved — one footer inference covers it); None for an empty
        table."""
        from pyspark.sql.types import StructType

        from ..sources.incremental import read_commit_log

        # read_commit_log returns None for missing AND emptied logs
        # (rollback-to-empty leaves log/ itself) — the guard lives
        # there so every caller is protected
        log = read_commit_log(self.spark, self.root)
        if log is None:
            return None
        return StructType(
            [f for f in log.schema.fields if f.name != COMMIT_COL]
        )

    # -- orphan reaping (the shared rule: see Timeline._rollback_failed)
    def _reap_layout(self, latest: str | None) -> None:
        """KeyedTable's beyond-pointer orphan families: snapshot dirs,
        schema files (a crashed widening upsert's record would
        re-reject a legitimately retyped retry) and timeline markers
        (written before the flip, so a crashed delete leaves one)."""
        _reap_dirs_beyond_pointer(
            os.path.join(self.root, "snapshots"), "v=", latest
        )
        for d in (self._schema_dir(), self._timeline_dir()):
            _reap_beyond_pointer(d, latest)

    def _log_commits(self) -> list[str]:
        log_dir = os.path.join(self.root, "log")
        if not os.path.isdir(log_dir):
            return []
        return sorted(d.split("=", 1)[1] for d in os.listdir(log_dir) if "=" in d)

    def _timeline_dir(self) -> str:
        return os.path.join(self.root, "timeline")

    def _record_instant(
        self, commit: str, op: str, meta: dict | None = None
    ) -> None:
        """Durable per-commit timeline marker (the .hoodie-timeline
        analogue). Snapshot dirs get cleaned (P6) and deletes write no
        log, so conflict detection needs a record of every completed
        instant that SURVIVES the cleaner — markers are a few bytes
        each and are removed only by the failed-write rollback (a
        beyond-pointer marker is an uncommitted delete attempt, see
        _rollback_failed). ``meta`` carries
        caller-supplied commit metadata (e.g. the streaming-ingest
        batch id, the Hudi DeltaStreamer checkpoint-in-commit
        pattern)."""
        _write_json_atomic(
            os.path.join(self._timeline_dir(), f"{commit}.json"),
            {"op": op, **(meta or {})},
        )

    def _timeline_meta(self) -> dict[str, dict]:
        """commit id → full marker doc (op + caller metadata). Memoized
        on the dir's (mtime, entry count): each transaction consults
        the timeline several times (rollback backfill, conflict
        detection, CDC rails) and a 10⁴-commit table would otherwise
        pay 10⁴ json loads per consult (r9 review); marker writes
        touch the dir, invalidating the key."""
        tl = self._timeline_dir()
        if not os.path.isdir(tl):
            return {}
        names = [
            n
            for n in os.listdir(tl)
            if n.endswith(".json") and not n.startswith(".")
        ]
        key = (os.stat(tl).st_mtime_ns, len(names))
        cached = getattr(self, "_tl_cache", None)
        if cached is not None and cached[0] == key:
            return cached[1]
        out: dict[str, dict] = {}
        for name in names:
            with open(os.path.join(tl, name)) as f:
                out[name[: -len(".json")]] = json.load(f)
        self._tl_cache = (key, out)
        return out

    def _timeline_instants(self) -> dict[str, str]:
        """commit id → operation, from the durable timeline markers.
        Pre-timeline tables (r1 layout) return {} and conflict detection
        falls back to log ∪ snapshot discovery."""
        return {c: d.get("op", "upsert") for c, d in self._timeline_meta().items()}

    def _check_conflict(self, base_instant: str | None, incoming: DataFrame) -> None:
        """Hudi OCC conflict resolution, run under the table lock: any
        commit completed after this transaction's ``base_instant`` that
        touched one of ``incoming``'s record keys is a conflict
        (HoodieWriteConflictException → CommitConflictError here).
        Non-overlapping concurrent commits pass — the merge that follows
        reads the now-current snapshot, so the write rebases onto them.

        Commit discovery reads the durable timeline markers (union'd
        with log/snapshot dirs for pre-timeline tables), so a concurrent
        delete stays visible even after the cleaner removed its
        snapshot dir. Cost: one semi-join + aggregate of the since-base
        log slice (bounded by concurrent-commit volume, not table size)
        against the incoming keys — AQE broadcasts the small side.
        """
        if self.lock_provider is None:
            return  # single-writer mode: nothing to race with
        timeline = self._timeline_instants()
        seen = set(timeline) | set(self._log_commits()) | set(self.commits())
        since = sorted(
            c for c in seen if base_instant is None or c > base_instant
        )
        if not since:
            return
        logged = set(self._log_commits())
        whole_table = [
            c
            for c in since
            if c not in logged or timeline.get(c, "upsert") != "upsert"
        ]
        if whole_table:
            # commits with no key manifest (deletes / snapshot
            # replacements rewrite the whole table) — conservatively
            # conflict
            raise CommitConflictError(whole_table)
        log = self.log()
        if log is None:
            return
        recent = (
            log.filter(F.col(COMMIT_COL) > F.lit(base_instant))
            if base_instant is not None
            else log
        )
        hit = (
            recent.select(self.record_key, COMMIT_COL)
            .join(
                incoming.select(self.record_key).distinct(),
                self.record_key,
                "left_semi",
            )
            .agg(
                F.countDistinct(self.record_key).alias("n_keys"),
                F.collect_set(COMMIT_COL).alias("commits"),
            )
            .first()
        )
        if hit is not None and hit["n_keys"]:
            raise CommitConflictError(sorted(hit["commits"]), hit["n_keys"])

    # -- reads ----------------------------------------------------------
    def _base_commit(self) -> str | None:
        """Most recent PUBLISHED materialized snapshot commit: the
        newest snapshot dir ≤ the ``_latest`` pointer. In MOR mode
        later commits may exist only in the log; in any mode a crashed
        writer may have left a newer UNPUBLISHED snapshot dir — the
        pointer, not directory listing, is the commit point (ADVICE r2
        high: adopting the newest dir exposed torn/uncommitted
        state to every reader)."""
        latest = self.latest_commit()
        if latest is None:
            return None
        commits = [c for c in self.commits() if c <= latest]
        return commits[-1] if commits else None

    def snapshot(self, as_of: str | None = None) -> DataFrame | None:
        """S1: full snapshot (one live row per key) — latest, or with
        ``as_of`` the table's state AS OF that instant (Hudi's
        ``as.of.instant`` time-travel read): every committed instant
        with id ≤ ``as_of`` is included. ``as_of`` past the latest
        commit reads latest (Hudi's clamp); before the first commit it
        reads an empty frame.

        COW: the materialized snapshot IS current. MOR (P3,
        generate_hudi_table.py:99/116): the read-time log-merge — base
        snapshot ∪ log rows after it, latest-per-key by (precombine,
        commit), which is provably the same state sequential COW
        application reaches (max by (precombine, commit) lexicographic =
        'larger precombine wins, ties → later commit'). That is the
        read-amplification half of the COW/MOR trade: O(base + delta)
        per read instead of a full rewrite per write.

        Time travel composes the same two pieces bounded at ``as_of``:
        the newest SURVIVING materialized snapshot ≤ as_of, plus the
        log window (base, as_of]. Correct because every commit is
        either snapshot-materialized (COW upsert, delete, compaction)
        or log-recorded (MOR upsert) — EXCEPT deletes, which write no
        log rows: when the cleaner (P6) has removed the snapshot a
        delete ≤ as_of materialized and no later surviving snapshot ≤
        as_of subsumes it, the state is unreconstructable and this
        RAISES rather than silently resurrecting deleted rows. Raise =
        'retained history does not reach that instant', the Hudi
        cleaner trade-off surfaced instead of corrupted."""
        latest = self.latest_commit()
        if latest is None:
            return None
        effective = latest if as_of is None or as_of > latest else as_of
        return self._snapshot_as_of(effective)

    def snapshot_where(
        self,
        predicates: dict,
        as_of: str | None = None,
        with_report: bool = False,
    ):
        """P8 data-skipping snapshot read — semantically IDENTICAL to
        ``snapshot(as_of).filter(lo <= col <= hi ...)``, but when the
        effective state is exactly a materialized snapshot carrying a
        ``_colstats.json`` index (written by ``compact_snapshot(...,
        stats_cols=...)``), the scan plans over ONLY the files whose
        [min, max] can intersect the predicates — at 100 TB that is
        the difference between listing/footer-probing 10⁵ files and
        reading the handful a clustered layout confines the range to.

        MOR log windows and pre-index snapshots fall back to the full
        merge + filter: filtering BEFORE a log merge would be wrong
        (a newer log row can move a key out of range, and the stale
        base row must still lose to it), so the fast path requires
        base_commit == effective. ``with_report=True`` also returns
        the skipping report (see colstats.prune_files); fallbacks
        report ``{"fallback": True}``."""
        from ..sources.colstats import predicates_to_filter, read_skipping

        latest = self.latest_commit()
        if latest is None:
            return (None, {"fallback": True}) if with_report else None
        effective = latest if as_of is None or as_of > latest else as_of
        surviving = [c for c in self.commits() if c <= effective]
        base_commit = surviving[-1] if surviving else None
        if base_commit == effective:
            path = os.path.join(self.root, "snapshots", f"v={base_commit}")
            got = read_skipping(
                self.spark, path, predicates, with_report=with_report
            )
            dropped = self._dropped_names(as_of=effective)
            if dropped:
                if with_report:
                    got = (got[0].drop(*dropped), got[1])
                else:
                    got = got.drop(*dropped)
            return got
        snap = self._snapshot_as_of(effective)
        df = (
            None
            if snap is None
            else snap.where(predicates_to_filter(predicates))
        )
        return (df, {"fallback": True}) if with_report else df

    def read_keys(self, keys: list, with_report: bool = False):
        """P7 point lookup: the live rows for the given record-key
        values — semantically ``snapshot().where(key.isin(keys))``.
        When the current state is a materialized snapshot carrying a
        ``_bloom.json`` index (``compact_snapshot(..., bloom_key=
        record_key)``), the scan opens ONLY files whose bloom may
        contain a probe key — layout-independent, unlike min/max
        skipping, so it works on z-ordered snapshots whose key the
        curve scattered. MOR log windows and unindexed snapshots fall
        back to the merged snapshot + exact filter (correctness
        identical either way: the isin filter always applies)."""
        return self.read_where_in(self.record_key, keys, with_report)

    def read_where_in(
        self, col: str, values: list, with_report: bool = False
    ):
        """P7+ secondary-index lookup: the live rows whose ``col`` is
        in ``values`` — semantically ``snapshot().where(col.isin(
        values))``. When the current state is a materialized snapshot
        whose ``_bloom.json`` covers ``col`` (``compact_snapshot(...,
        bloom_key=[record_key, col, ...])`` — Hudi 1.0's secondary
        index), only may-contain files are opened; any other state
        (MOR log window, unindexed snapshot, un-indexed column) falls
        back to the merged snapshot + exact filter."""
        from ..sources.bloomindex import read_keys_bloom

        latest = self.latest_commit()
        if latest is None:
            return (None, {"fallback": True}) if with_report else None
        base = self._base_commit()
        if base == latest:
            path = os.path.join(self.root, "snapshots", f"v={base}")
            got = read_keys_bloom(
                self.spark,
                path,
                col,
                values,
                with_report=with_report,
            )
            dropped = self._dropped_names()
            if dropped:
                if with_report:
                    got = (got[0].drop(*dropped), got[1])
                else:
                    got = got.drop(*dropped)
            return got
        snap = self.snapshot()
        df = None if snap is None else snap.where(F.col(col).isin(values))
        return (df, {"fallback": True}) if with_report else df

    def _snapshot_as_of(self, as_of: str) -> DataFrame | None:
        """State as of ``as_of``, presented under the schema AS OF that
        instant: the raw reconstruction (:meth:`_snapshot_raw`)
        projected to the vintage's ACTIVE recorded schema — dropped
        columns disappear from reads the moment the drop commits (old
        files are never rewritten; they are simply not projected), a
        time-travel read BEFORE the drop still shows the column, and
        types normalize to the vintage's recorded (possibly widened)
        form regardless of which mix of file vintages served the
        read."""
        df = self._snapshot_raw(as_of)
        if df is None:
            return None
        return self._project_active(df, as_of)

    def _project_active(self, df: DataFrame, as_of: str) -> DataFrame:
        from ..sources.incremental import _committed_schema

        sch = _committed_schema(self.root, as_of=as_of)
        if sch is None:
            return df  # legacy root: infer-from-files behavior
        have = {f.name: f.dataType for f in df.schema.fields}
        # vintage-name resolution: a time-travel read pinned BEFORE a
        # rename wants the OLD name, but the raw reconstruction above
        # carries CURRENT names (read_commit_log/_resolve_renames fold
        # priors forward) — map each wanted prior back to its live
        # successor column
        successor = {
            p: cur
            for cur, olds in self._rename_priors_map().items()
            for p in olds
        }
        cols = []
        for f in sch.fields:
            if f.name not in have:
                src = successor.get(f.name)
                if src is not None and src in have:
                    cols.append(
                        F.col(src).cast(f.dataType).alias(f.name)
                    )
                else:
                    cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif have[f.name] != f.dataType:
                # widened vintage over narrower files, or (time travel
                # before a widening) narrower vintage over a log read
                # that used the current wide schema — every value in
                # a ≤ as_of row fits the as-of type by construction
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(f.name))
        if COMMIT_COL in have:
            cols.append(F.col(COMMIT_COL))
        return df.select(*cols)

    def _dropped_names(self, as_of: str | None = None) -> list[str]:
        from ..sources.incremental import _committed_schema

        raw = _committed_schema(
            self.root, include_dropped=True, as_of=as_of
        )
        if raw is None:
            return []
        return [f.name for f in raw.fields if f.metadata.get("dropped")]

    def alter_drop_column(self, col: str) -> str:
        """ALTER TABLE DROP COLUMN as a metadata-only commit (Hudi's
        comprehensive-schema-evolution drop): the recorded schema
        tombstones the field — data files are NEVER rewritten; reads
        simply stop projecting the column (it leaves physically at the
        next COW rewrite / compaction of each file), time-travel reads
        before the drop still show it, and the name cannot be re-added
        (name-based reads would resurface pre-drop residual values —
        see _update_schema). Key, precombine, and partition columns
        cannot be dropped."""
        from pyspark.sql.types import StructField, StructType

        from ..sources.incremental import _committed_schema

        protected = {self.record_key, self.precombine, COMMIT_COL}
        protected.update(self.partition_cols)
        if self.record_key == COMPOSITE_KEY_COL:
            protected.update(self.key_fields)
        if col in protected:
            raise ValueError(
                f"alter_drop_column: {col!r} is a key/precombine/"
                "partition column — structural columns cannot be "
                "dropped"
            )
        with self._txn():
            raw = _committed_schema(self.root, include_dropped=True)
            if raw is None:
                raw = self._inferred_file_schema()
            if raw is None:
                raise ValueError(
                    "alter_drop_column on an empty table — nothing to "
                    "drop"
                )
            by_name = {f.name: f for f in raw.fields}
            target = by_name.get(col)
            if target is None or target.metadata.get("dropped"):
                raise ValueError(
                    f"alter_drop_column: no active column {col!r} "
                    f"(active: "
                    f"{[f.name for f in raw.fields if not f.metadata.get('dropped')]})"
                )
            commit = self._new_commit_id()
            staged = StructType(
                [
                    StructField(
                        f.name,
                        f.dataType,
                        True,
                        {**f.metadata, "dropped": True}
                        if f.name == col
                        else f.metadata,
                    )
                    for f in raw.fields
                ]
            )
            _write_json_atomic(
                os.path.join(self._schema_dir(), f"{commit}.json"),
                json.loads(staged.json()),
            )
            self._record_instant(commit, "alter")
            self._publish(commit)
            return commit

    def alter_rename_column(self, old: str, new: str) -> str:
        """ALTER TABLE RENAME COLUMN as a metadata-only commit (r9,
        VERDICT r8 #2 — the Iceberg-style name-mapping without column
        IDs): the recorded schema's field keeps its position and type
        but takes the new name, with the old name appended to its
        ``renamed_from`` metadata chain. Data files are NEVER
        rewritten — every explicit-schema read declares the prior
        names as extra same-typed fields and coalesces them into the
        logical column (sources/incremental.physical_read_schema);
        materialized snapshots resolve via :meth:`_resolve_renames`.
        Time-travel reads BEFORE the rename still show the old name
        (the vintage's recorded schema governs presentation), the old
        name can never be re-added (old files still serve it into the
        successor), and the new name must be globally fresh — not an
        active field, not a drop tombstone, not anyone's prior name.
        Key, precombine, and partition columns cannot be renamed (they
        are structural: the table config, layout dirs, and log
        machinery address them by name). The new name physicalizes at
        the next COW rewrite / compaction of each file."""
        from pyspark.sql.types import StructField, StructType

        from ..sources.incremental import _committed_schema

        protected = {self.record_key, self.precombine, COMMIT_COL}
        protected.update(self.partition_cols)
        if self.record_key == COMPOSITE_KEY_COL:
            protected.update(self.key_fields)
        if old in protected:
            raise ValueError(
                f"alter_rename_column: {old!r} is a key/precombine/"
                "partition column — structural columns cannot be "
                "renamed"
            )
        if new in protected or new == "c":
            raise ValueError(
                f"alter_rename_column: target name {new!r} collides "
                "with a structural column (key/precombine/partition/"
                "commit-stamp or the reserved log partition name 'c')"
            )
        with self._txn():
            raw = _committed_schema(self.root, include_dropped=True)
            if raw is None:
                raw = self._inferred_file_schema()
            if raw is None:
                raise ValueError(
                    "alter_rename_column on an empty table — nothing "
                    "to rename"
                )
            by_name = {f.name: f for f in raw.fields}
            target = by_name.get(old)
            if target is None or target.metadata.get("dropped"):
                raise ValueError(
                    f"alter_rename_column: no active column {old!r} "
                    f"(active: "
                    f"{[f.name for f in raw.fields if not f.metadata.get('dropped')]})"
                )
            taken = set(by_name)  # active + tombstoned names
            taken.update(
                p
                for f in raw.fields
                for p in f.metadata.get("renamed_from", ())
            )
            if new in taken:
                raise ValueError(
                    f"alter_rename_column: target name {new!r} is "
                    "already in use — as an active column, a dropped "
                    "column's tombstone, or a previous name of a "
                    "renamed column (old files still hold data under "
                    "it; name-based reads would conflate them)"
                )
            commit = self._new_commit_id()
            staged = StructType(
                [
                    StructField(
                        new,
                        f.dataType,
                        True,
                        {
                            **f.metadata,
                            "renamed_from": [old]
                            + list(f.metadata.get("renamed_from", ())),
                        },
                    )
                    if f.name == old
                    else f
                    for f in raw.fields
                ]
            )
            _write_json_atomic(
                os.path.join(self._schema_dir(), f"{commit}.json"),
                json.loads(staged.json()),
            )
            self._record_instant(commit, "alter")
            self._publish(commit)
            return commit

    def _rename_priors_map(self) -> dict[str, list[str]]:
        """current logical name → prior physical names (newest first),
        from the raw committed schema; {} for never-renamed tables."""
        from ..sources.incremental import _committed_schema, rename_priors

        raw = _committed_schema(self.root, include_dropped=True)
        return rename_priors(raw) if raw is not None else {}

    def _resolve_renames(self, df: DataFrame) -> DataFrame:
        """Present a MATERIALIZED snapshot dir's frame (inferred
        schema — written names) under the CURRENT logical names: a
        pre-rename snapshot carries exactly one of each rename chain's
        names; rename it forward. No-op on never-renamed tables."""
        priors = self._rename_priors_map()
        if not priors:
            return df
        cols = set(df.columns)
        for cur, olds in priors.items():
            if cur in cols:
                continue
            for p in olds:
                if p in cols:
                    df = df.withColumnRenamed(p, cur)
                    cols.discard(p)
                    cols.add(cur)
                    break
        return df

    def _snapshot_raw(self, as_of: str) -> DataFrame | None:
        """The one snapshot reconstruction path (``as_of`` = the latest
        commit for plain reads): newest surviving snapshot ≤ as_of ∪
        log window (base, as_of], with the cleaned-delete rail.
        Bounding the log at ``as_of`` also keeps a crashed writer's
        orphan log dirs (> the published pointer, not yet lazily
        rolled back) out of every read — the pointer flip is the
        commit point, so uncommitted rows must never surface."""
        surviving = [c for c in self.commits() if c <= as_of]
        base_commit = surviving[-1] if surviving else None
        lost_deletes = self._delete_instants_in(base_commit, as_of)
        if lost_deletes:
            raise ValueError(
                f"state as of {as_of} needs the snapshot that delete/"
                f"overwrite commit {lost_deletes[0]} materialized, but "
                "the cleaner removed it (keep_versions) — the log cannot "
                "replay those ops (deletes write no log rows; overwrite "
                "rows can lose the precombine merge against older log "
                "rows), so replaying would resurrect removed state; "
                "raise keep_versions or time-travel within retained "
                "history"
            )
        base = None
        if base_commit is not None:
            # a pre-rename materialized snapshot carries the OLD
            # physical names — fold them forward so the union below
            # (and _project_active's vintage projection) sees one
            # consistent set of current names
            base = self._resolve_renames(
                self.spark.read.parquet(
                    os.path.join(self.root, "snapshots", f"v={base_commit}")
                )
            )
        if base_commit == as_of:
            return base  # COW / delete instant / MOR right after compaction
        # RAW schema read: a time-travel instant BEFORE a drop must
        # still see the dropped column's values; _project_active
        # decides visibility per vintage
        log = read_commit_log(self.spark, self.root, include_dropped=True)
        delta = None
        if log is not None:
            delta = log.filter(F.col(COMMIT_COL) <= F.lit(as_of))
            if base_commit is not None:
                delta = delta.filter(F.col(COMMIT_COL) > F.lit(base_commit))
        if delta is None:
            return base  # pre-log table (or no log yet): base only
        unioned = (
            delta
            if base is None
            # allowMissingColumns: a pre-evolution base snapshot merges
            # with a post-evolution log window (missing cols NULL)
            else base.unionByName(delta, allowMissingColumns=True)
        )
        return self._combine(unioned)

    def _delete_instants_in(self, lo: str | None, hi: str) -> list[str]:
        """State-REPLACING commit ids (delete and overwrite ops) in
        (lo, hi], from the timeline markers — the ops whose effect the
        log cannot replay (deletes write no log rows; overwrite rows
        can lose the P2 merge against pre-overwrite log rows), so the
        reconstruction rail needs their materialized snapshots. Marker
        FILENAMES are the commit ids, so the window is selected before
        any file is opened — a ten-thousand-commit table pays a handful
        of json loads per read, not one per commit."""
        tl = self._timeline_dir()
        if not os.path.isdir(tl):
            return []  # pre-timeline (r1) table: no rail possible
        out = []
        for name in os.listdir(tl):
            if not name.endswith(".json") or name.startswith("."):
                continue
            c = name[: -len(".json")]
            if c > hi or (lo is not None and c <= lo):
                continue
            with open(os.path.join(tl, name)) as f:
                if json.load(f).get("op") in ("delete", "overwrite"):
                    out.append(c)
        return sorted(out)

    def log(self) -> DataFrame | None:
        """The change stream: all per-commit upserted rows, carrying
        _commit_time — what sources/incremental.py reads."""
        return read_commit_log(self.spark, self.root)

    def cdc(
        self,
        begin: str | None = None,
        end: str | None = None,
        suppress_unchanged: bool = True,
    ) -> DataFrame | None:
        """Change-data-capture read (Hudi's ``hoodie.table.cdc.enabled``
        incremental query, the Debezium-style op/before/after stream):
        one row per (record key, commit) whose table state changed in
        commits ``(begin, end]``, with

          * ``_change_op``: ``'i'`` (key absent before the commit),
            ``'u'`` (present, value replaced), ``'d'`` (delete);
          * ``_before`` / ``_after``: struct of the data columns — the
            key's merged state immediately before/after the commit
            (``_before`` NULL on insert, ``_after`` NULL on delete).

        ``begin=None`` starts from table creation (every first
        appearance is an insert); ``end=None``/past-latest clamps to
        the latest commit, like :meth:`snapshot`.

        Semantics note — ``suppress_unchanged`` (default True): an
        upsert whose incoming row LOSES the precombine merge rewrites
        the file but leaves the key's state identical; those no-op
        'u' rows are dropped (null-safe before≡after compare), which is
        the state-change notion a CDC consumer materializing downstream
        state wants. ``False`` keeps them — the file-level "this key
        was touched" notion.

        Implementation (all keyed by record key — one shuffle family):
        the change stream is the commit-log window plus fabricated
        delete rows — read from the delete commit's tombstone log
        (O(dropped keys), cleaner-proof) or, for pre-tombstone
        vintages, the key-diff of its neighbouring snapshots (one
        column-pruned anti-join per delete commit, subject to the
        retained-history rail) — seeded with the as-of-``begin`` state
        restricted (semi-join) to touched keys. Per key, deletes split
        history into epochs (running delete count); the state after
        each row is the epoch's running ``max(struct(precombine,
        commit, payload))`` — lexicographic struct ordering IS the P2
        merge rule ('larger precombine wins, ties → later commit') —
        and the before-image is ``lag`` of that state over the full
        key history (a delete's NULL state makes the next appearance
        an insert). Cleaned history raises the same
        retained-history rail as time travel."""
        return cdc_window(self, begin, end, suppress_unchanged)

    # -- writes ---------------------------------------------------------
    def upsert(self, incoming: DataFrame, instant_meta: dict | None = None) -> str:
        """K1: merge incoming into the table; returns the new commit id.

        COW: rewrite the merged snapshot per commit (write-amplified,
        read-optimal). MOR: append the combined batch to the log only —
        the write-optimal half of the trade; reads log-merge (snapshot())
        and ``compact()`` folds the log back into a base snapshot.

        With a lock provider (P9 OCC): the batch combine is planned
        optimistically, then conflict-check + merge + publish run under
        the table lock; raises CommitConflictError on key overlap with a
        concurrent commit (caller retries)."""
        # optimistic phase — no lock: combine-and-dedup the incoming
        # batch itself (precombine within batch,
        # generate_hudi_table.py:119 semantics)
        base_instant = self.latest_commit()
        incoming = self._with_key(incoming)
        deduped = self._combine_batch(incoming)

        with self._txn():
            self._check_conflict(base_instant, deduped)
            commit = self._new_commit_id()
            # widening recorded under THIS commit id — visible to
            # readers only after the pointer flip, reaped with the
            # other orphans if this write never publishes; the batch is
            # cast up to the commit's schema so no file is ever WIDER
            # than the declared read schema
            deduped = _conform_types(
                deduped, self._update_schema(deduped, commit)
            )
            stamped = deduped.withColumn(COMMIT_COL, F.lit(commit))

            if self.table_type == "MERGE_ON_READ":
                self._write_log(stamped, commit)
                # marker BEFORE the pointer flip (r9 review — the
                # delete/overwrite ordering, applied everywhere): a
                # crash between flip and marker would otherwise leave a
                # published commit permanently unmarked (instant_meta —
                # e.g. the streaming batch id — lost; nothing backfills
                # upsert markers). Beyond-pointer markers are reaped.
                self._record_instant(commit, "upsert", meta=instant_meta)
                self._publish(commit)
                return commit

            # COW: merge with existing snapshot — larger precombine
            # wins; on ties the incoming row (larger _commit_time) wins.
            # Read under the lock: non-conflicting concurrent commits
            # are thereby rebased onto automatically.
            # allowMissingColumns = schema evolution: columns either
            # side lacks are NULL-filled (Hudi reconcile semantics).
            existing = self.snapshot()
            merged = (
                stamped
                if existing is None
                else self._combine(
                    existing.unionByName(stamped, allowMissingColumns=True)
                )
            )

            self._write_snapshot(merged, commit)
            self._write_log(stamped, commit)
            self._record_instant(commit, "upsert", meta=instant_meta)
            self._publish(commit)
            self._clean()
            return commit

    def compact(self) -> str | None:
        """MOR compaction (the hoodie.compact.* knob family): materialize
        the current log-merged state as a base snapshot so subsequent
        reads are base-only until new log commits arrive. Runs under the
        table lock so a concurrent upsert's commit can't be folded in
        half-written or lost."""
        with self._txn():
            merged = self.snapshot()
            latest = self.latest_commit()
            if merged is None or latest is None:
                return None
            if self._base_commit() == latest:
                return latest  # nothing to compact
            self._write_snapshot(merged, latest)
            self._clean()
            return latest

    def delete(self, keys: DataFrame) -> str | None:
        """Hudi delete operation: drop the given record keys. The whole
        op runs under the table lock (it reads current state there, so
        it never conflicts; concurrent upserters see it as a
        whole-table commit and retry)."""
        with self._txn():
            return self._delete_locked(keys)

    def _delete_locked(self, keys: DataFrame) -> str | None:
        """Body of :meth:`delete`; assumes the caller holds ``_txn``
        (so both the snapshot read and any lazy frame the caller
        derived FROM that read resolve against locked state)."""
        existing = self.snapshot()
        if existing is None:
            return None
        keys = self._with_key(keys)
        commit = self._new_commit_id()
        remaining = existing.join(
            keys.select(self.record_key), self.record_key, "left_anti"
        )
        self._write_snapshot(remaining, commit)
        # tombstone log: the keys this delete actually dropped, as a
        # key-only parquet dir (late r7). CDC reads deleted keys
        # from here directly — O(dropped keys), no neighbouring-
        # snapshot diff — which also decouples CDC windows from the
        # cleaner: a lagging consumer can fabricate delete rows for
        # a commit whose snapshot dirs are long gone. Written
        # before the pointer flip like the marker (same crash
        # rail: beyond-pointer tombstones are orphans).
        dropped = existing.join(
            keys.select(self.record_key), self.record_key, "left_semi"
        ).select(self.record_key)
        self._staged_write(
            lambda p: dropped.write.mode("overwrite").parquet(p),
            os.path.join(self.root, "tombstones", f"c={commit}"),
        )
        # marker BEFORE the pointer flip — deletes are the one op
        # with no log rows, so the time-travel delete rail depends
        # on the marker existing for every PUBLISHED delete: with
        # the old after-publish order, a crash between the two left
        # a committed delete invisible to the rail, and once the
        # cleaner removed its snapshot a time-travel read would
        # silently resurrect the deleted keys. A crash between
        # marker and publish instead leaves a beyond-pointer marker
        # that _rollback_failed removes with the orphan dirs.
        self._record_instant(commit, "delete")
        self._publish(commit)
        self._clean()
        return commit

    def overwrite(self, incoming: DataFrame) -> str:
        """Hudi ``insert_overwrite_table``: one REPLACE commit whose
        batch becomes the ENTIRE live state — keys absent from the
        batch vanish, keys present take the batch's row even when it
        would LOSE the precombine merge (replace semantics beat P2 by
        definition). The batch still precombine-dedups within itself.

        Reconstruction safety: the commit materializes its snapshot
        and registers on the same retained-history rail as deletes —
        replaying pre-overwrite log rows would resurrect vanished keys
        and out-precombine replaced ones, so any read needing state at
        or after an overwrite whose snapshot the cleaner removed
        RAISES instead of silently merging wrong.

        Incremental consumers: the commit's rows land in the log like
        any upsert (an incremental scan sees the new data), but a CDC
        window SPANNING a replace commit raises — before-images across
        a replace are not derivable from the log under the P2 rule,
        the same reason Hudi's incremental/CDC queries tell consumers
        to re-seed from a snapshot across replacecommits. The IVM/
        replication escape hatch is exactly that re-seed
        (``MaintainedAggregate.rebuild`` / a fresh replica seed)."""
        incoming = self._with_key(incoming)
        deduped = self._combine_batch(incoming)
        with self._txn():
            commit = self._new_commit_id()
            deduped = _conform_types(
                deduped, self._update_schema(deduped, commit)
            )
            stamped = deduped.withColumn(COMMIT_COL, F.lit(commit))
            self._write_snapshot(stamped, commit)
            self._write_log(stamped, commit)
            self._record_instant(commit, "overwrite")
            self._publish(commit)
            # post-publish 'r' marker for the STREAMING lane (ADVICE
            # r8): written after the flip so an aborted overwrite never
            # streams a state-wiping phantom 'r'; a crash right here is
            # healed by _backfill_replace_markers
            self._record_replace_published(commit)
            self._clean()
            return commit

    def delete_where(self, condition) -> str | None:
        """Predicate delete: drop every live row matching ``condition``
        (a Column or SQL string). Sugar over :meth:`delete` — the key
        set is the filtered snapshot, so a predicate on partition
        columns prunes its scan to the affected partitions. The
        snapshot the predicate evaluates against is read INSIDE the
        table lock: planning it outside would let a concurrent commit
        change which rows match (or clean the planned snapshot's
        files) between the filter and the anti-join."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        with self._txn():
            snap = self.snapshot()
            if snap is None:
                return None
            return self._delete_locked(snap.where(cond))

    def delete_partition(self, values: dict) -> str | None:
        """Hudi ``delete_partition``: drop entire partitions by their
        column values (``{"ds": "2026-08-15"}``). Validates the columns
        against the table's partition spec so a typo can't silently
        delete by a non-partition predicate."""
        if not self.partition_cols:
            raise ValueError("delete_partition: table is not partitioned")
        bad = set(values) - set(self.partition_cols)
        if not values or bad:
            raise ValueError(
                f"delete_partition: columns {sorted(bad) or '(none)'} not in "
                f"partition spec {self.partition_cols}"
            )
        cond = F.lit(True)
        for c, v in values.items():
            cond = cond & (F.col(c) == F.lit(v))
        return self.delete_where(cond)

    def apply_cdc(self, cdc_df: DataFrame) -> list[str]:
        """Consume a CDC window (the :meth:`cdc` schema: key,
        ``_commit_time``, ``_change_op``, ``_before``/``_after``
        structs) into THIS table — the APPLY CHANGES INTO pattern that
        keeps a downstream replica in sync with an upstream table
        without full rescans. Returns the commit ids written (0-2).

        Net effect first: one ``max_by(commit)`` aggregate collapses a
        multi-commit window to each key's final (op, after) — a replica
        needs ending states, not intermediate hops. Keys whose final op
        is a delete are deleted; the rest are upserted with their final
        after-image.

        Precombine subtlety: a plain upsert is NOT always enough — an
        upstream delete + re-insert with a SMALLER precombine nets to
        an upsert whose after-image would LOSE the merge against the
        replica's stale row, silently pinning the replica to deleted
        state. Those keys (final after.precombine < replica's current
        precombine) are force-converged by delete-then-upsert; they are
        found with one key/precombine join against the replica
        snapshot (column-pruned — payloads never read). The two-commit
        force window is visible to replica readers (apply is not
        atomic across its commits); schedule applies accordingly.

        Idempotent in BOTH senses under at-least-once redelivery (the
        CDCReader checkpoint protocol, sources/incremental.py): state —
        re-applying the same window leaves the replica unchanged — and
        commits — deletes are presence-filtered against the replica and
        upserts drop rows already byte-equal in it, so a redelivered
        window writes NO commits at all (no whole-table COW rewrites,
        no cleaner advancement, no phantom rows in the replica's own
        incremental/CDC streams).

        The net aggregate is persisted for the duration of the apply:
        its consumers (the force probe, the delete's key frame, the
        changed-row filter, the upsert) would otherwise each re-run
        the full CDC window plan — log scan, delete fabrication,
        window family — once per action."""
        from pyspark import StorageLevel

        key, pre = self.record_key, self.precombine
        nets = (
            cdc_df.groupBy(key)
            .agg(
                F.max_by(
                    F.struct(
                        F.col("_change_op").alias("op"),
                        F.col("_after").alias("after"),
                    ),
                    F.col(COMMIT_COL),
                ).alias("net")
            )
            .select(
                F.col(key),
                F.col("net")["op"].alias("__op"),
                F.col("net")["after"].alias("__after"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            snap = self.snapshot()
            commits: list[str] = []
            upserts = nets.filter(F.col("__op") != "d").select(
                F.col(key), F.col("__after.*")
            )
            if snap is not None:
                # redelivery no-op FIRST: drop rows already byte-equal
                # in the replica (null-unsafe equality — NULL-bearing
                # rows are conservatively re-upserted, which is
                # state-harmless). Safe against the force pass below: a
                # force-deleted key's after-image differs from the
                # replica row by construction, so it never matches
                # here. Skipped when the window carries newly-evolved
                # columns the replica snapshot lacks (first
                # post-evolution apply): every row is genuinely
                # new-shaped then.
                if set(upserts.columns) <= set(snap.columns):
                    upserts = upserts.join(
                        snap.select(*upserts.columns),
                        on=list(upserts.columns),
                        how="left_anti",
                    )
                # force-convergence set: deletes of PRESENT keys, plus
                # upserted keys whose final after-image a plain merge
                # would NOT reproduce. overwrite replicas: only keys
                # whose after-image would LOSE the precombine merge to
                # the replica's stale row. partial_update replicas:
                # EVERY changed present key — the after-image is a full
                # authoritative state, but the partial rule keeps the
                # replica's stale value wherever the after carries NULL
                # (e.g. a reborn key whose upstream epoch-split cleared
                # a column), so convergence needs the delete first.
                d_present = (
                    nets.filter(F.col("__op") == "d")
                    .join(snap.select(key), key, "left_semi")
                    .select(key)
                )
                if self.payload == "partial_update":
                    risky = upserts.select(key).join(
                        snap.select(key), key, "left_semi"
                    )
                else:
                    risky = (
                        nets.filter(F.col("__op") != "d")
                        .join(
                            snap.select(
                                F.col(key), F.col(pre).alias("__cur_pre")
                            ),
                            key,
                        )
                        .filter(F.col("__after")[pre] < F.col("__cur_pre"))
                        .select(key)
                    )
                force = d_present.unionByName(risky)
                # materialize upserts BEFORE the force delete: its plan
                # anti-joins the PRE-delete snapshot, whose files the
                # delete's cleaner can remove at small keep_versions —
                # evaluating it afterwards would re-read deleted files
                # (r9 review). count() fills the cache fully (isEmpty
                # materializes one partition only).
                from pyspark import StorageLevel

                upserts = upserts.persist(StorageLevel.MEMORY_AND_DISK)
                try:
                    has_upserts = upserts.count() > 0
                    if not force.isEmpty():
                        c = self.delete(force)
                        if c is not None:
                            commits.append(c)
                    if has_upserts:
                        commits.append(self.upsert(upserts))
                finally:
                    upserts.unpersist()
                return commits
            if not upserts.isEmpty():
                commits.append(self.upsert(upserts))
            return commits
        finally:
            nets.unpersist()

    # -- savepoint / restore support -------------------------------------
    def _verify_reconstructable(self, commit: str) -> None:
        """Raise unless the state at ``commit`` can still be read: the
        time-travel reconstruction itself, with its cleaned-delete
        rail (see :meth:`snapshot`) — the cleaner may already have
        eaten the history behind the instant."""
        self._snapshot_as_of(commit)

    def _protected_commits(self) -> set[str]:
        """Snapshot commits the cleaner must keep: for each savepoint,
        the newest surviving snapshot ≤ it. That alone makes the
        instant reconstructable forever: any delete in (that snapshot,
        savepoint] would itself be a newer snapshot ≤ the savepoint, a
        contradiction — so the time-travel delete rail can never fire
        inside a savepointed window."""
        protected: set[str] = set()
        commits = self.commits()
        for sp in self.savepoints():
            base = [c for c in commits if c <= sp]
            if base:
                protected.add(base[-1])
        return protected

    def _write_snapshot(
        self, df: DataFrame, commit: str, presorted: bool = False
    ) -> None:
        path = os.path.join(self.root, "snapshots", f"v={commit}")
        if self.partition_cols:
            # P4 hive-style layout → partition pruning on read; P5
            # clustering-lite: sort within partitions on the record key
            # for row-group locality. ``presorted`` callers (z-order
            # compaction) already ordered the rows along their own
            # cluster key — re-sorting by the record key here would
            # silently destroy that layout inside every written file.
            out = df if presorted else df.sortWithinPartitions(self.record_key)
            self._staged_write(
                lambda p: out.write.mode("overwrite")
                .partitionBy(*self.partition_cols)
                .parquet(p),
                path,
            )
        else:
            self._staged_write(
                lambda p: df.write.mode("overwrite").parquet(p), path
            )

    def _clean(self) -> None:
        """P6 cleaner: KEEP_LATEST_FILE_VERSIONS over snapshot dirs.
        Log dirs are kept (they are the incremental history).
        Savepointed history is skipped (see _protected_commits) —
        Hudi's cleaner makes the same exception."""
        commits = self.commits()
        protected = self._protected_commits()
        for old in commits[: -self.keep_versions]:
            if old in protected:
                continue
            shutil.rmtree(
                os.path.join(self.root, "snapshots", f"v={old}"),
                ignore_errors=True,
            )


def hudi_write_options(
    table_name: str,
    record_key: str,
    precombine: str,
    partition_cols: list[str] | None = None,
    table_type: str = "COPY_ON_WRITE",
    index_type: str = "BLOOM",
    parquet_codec: str = "gzip",
    max_file_bytes: int = 512 * 1024 * 1024,
    small_file_bytes: int = 100 * 1024 * 1024,
    keep_versions: int = 3,
    concurrency_mode: str = "SINGLE_WRITER",
    lock_provider_class: str = (
        "org.apache.hudi.client.transaction.lock.FileSystemBasedLockProvider"
    ),
    payload: str = "overwrite",
) -> dict[str, str]:
    """Real-Hudi passthrough: the same physical-layout contract KeyedTable
    emulates, expressed as hoodie.* writer options (the full surface the
    reference configures, generate_hudi_table.py:114-203 / SURVEY.md
    §2.5 P1-P12). Use with ``df.write.format("hudi").options(**opts)``
    when Hudi jars are on the classpath (see write_hudi).

    ``concurrency_mode="OPTIMISTIC_CONCURRENCY_CONTROL"`` adds the P9
    multi-writer options (the reference pairs OCC with the DynamoDB
    lock provider, generate_hudi_table.py:174-175; default here is the
    filesystem provider — no AWS coupling, same protocol the KeyedTable
    emulation implements in sinks/concurrency.py)."""
    opts = {
        "hoodie.table.name": table_name,
        "hoodie.datasource.write.table.type": table_type,  # P3
        "hoodie.datasource.write.operation": "upsert",  # K1
        # P1; a comma-separated field list gets Hudi's composite key
        # generator (the KeyedTable list-key analogue)
        "hoodie.datasource.write.recordkey.field": record_key,
        **(
            {
                "hoodie.datasource.write.keygenerator.class": (
                    "org.apache.hudi.keygen.ComplexKeyGenerator"
                )
            }
            if "," in record_key
            else {}
        ),
        "hoodie.datasource.write.precombine.field": precombine,  # P2
        # payload class (KeyedTable ``payload`` analogue; note the
        # engine's partial rule merges in arrival order, see _combine)
        "hoodie.datasource.write.payload.class": (
            "org.apache.hudi.common.model.PartialUpdateAvroPayload"
            if payload == "partial_update"
            else "org.apache.hudi.common.model.OverwriteWithLatestAvroPayload"
        ),
        "hoodie.index.type": index_type,  # P7
        "hoodie.parquet.compression.codec": parquet_codec,  # P11
        "hoodie.parquet.max.file.size": str(max_file_bytes),  # P11
        "hoodie.parquet.small.file.limit": str(small_file_bytes),  # P11
        "hoodie.clean.automatic": "true",  # P6
        "hoodie.cleaner.policy": "KEEP_LATEST_FILE_VERSIONS",
        "hoodie.cleaner.fileversions.retained": str(keep_versions),
        "hoodie.metadata.enable": "true",  # P8
        "hoodie.metadata.index.column.stats.enable": "true",
    }
    if concurrency_mode == "OPTIMISTIC_CONCURRENCY_CONTROL":  # P9
        opts["hoodie.write.concurrency.mode"] = concurrency_mode
        opts["hoodie.write.lock.provider"] = lock_provider_class
        opts["hoodie.cleaner.policy.failed.writes"] = "LAZY"
    if partition_cols:  # P4
        opts["hoodie.datasource.write.partitionpath.field"] = ",".join(partition_cols)
        opts["hoodie.datasource.write.hive_style_partitioning"] = "true"
    elif "," not in record_key:
        # single-field key, no partitioning → Hudi's non-partitioned
        # generator; a COMPOSITE key keeps ComplexKeyGenerator (set
        # above) — NonpartitionedKeyGenerator resolves only one field
        # and would key 'a,b' wrongly on the real-Hudi passthrough
        opts["hoodie.datasource.write.keygenerator.class"] = (
            "org.apache.hudi.keygen.NonpartitionedKeyGenerator"
        )
    return opts


def hudi_available(spark: SparkSession) -> bool:
    """True when the Hudi Spark bundle is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "org.apache.hudi.DataSourceWriteOptions"
        )
        return True
    except Exception:  # noqa: BLE001
        return False


def write_hudi(df: DataFrame, path: str, options: dict[str, str]) -> bool:
    """K1 passthrough: upsert via the real Hudi datasource when jars are
    present; returns False (no-op) otherwise so callers fall back to
    KeyedTable emulation."""
    if not hudi_available(df.sparkSession):
        return False
    df.write.format("hudi").options(**options).mode("append").save(path)
    return True


def compact_snapshot(
    table: KeyedTable,
    target_files: int = 1,
    zorder_cols: list[str] | None = None,
    stats_cols: list[str] | None = None,
    bloom_key: str | list[str] | None = None,
) -> str | None:
    """P5/P11 compaction: rewrite the live snapshot into ``target_files``
    files sorted by the record key (small-file compaction + clustering in
    one pass — the observable effect of hoodie.clustering/parquet file
    sizing, generate_hudi_table.py:150-167). Creates a new commit so
    readers never see a half-compacted snapshot.

    ``zorder_cols`` clusters along a Morton curve over those columns
    (numeric, string, timestamp, or date — strings ride an
    order-preserving prefix surrogate, matching the reference's own
    string sort columns like ``state``) instead of the record key —
    Hudi's z-order clustering strategy
    (``hoodie.clustering.plan.strategy.sort.columns`` with the
    spatial-curve option): every listed column gets partial file-level
    min/max locality, so single-column filters prune files that a
    lexicographic sort would only prune for its leading column. See
    ``functions/layout.py`` for the curve mechanics and
    tests/test_layout.py for the measured pruning benefit.

    ``stats_cols`` additionally writes the P8 ``_colstats.json``
    per-file min/max index into the new snapshot dir (Hudi's metadata
    table ``col_stats``; ``hoodie.metadata.index.column.stats.enable``)
    — clustering creates the file-level value locality, the index lets
    ``KeyedTable.snapshot_where`` exploit it without opening a single
    pruned file's footer. The stats pass reads only the indexed
    columns of the snapshot just written (one column-pruned scan,
    write-time cost, amortized over every skipping read), and the
    manifest lands BEFORE the commit publishes — readers see
    snapshot+index together or not at all.

    ``bloom_key`` (usually the record key; a LIST adds Hudi 1.0-style
    secondary indexes over further equality-probed columns, all built
    in the same single scan) writes the P7 per-file Bloom index
    (``hoodie.index.type=BLOOM`` — sources/bloomindex.py) the same
    way: min/max stats prune point lookups only where the layout
    clusters the key, and a z-order over OTHER columns scatters it —
    the bloom is the layout-independent complement
    ``KeyedTable.read_keys`` / ``read_where_in`` probe."""
    with table._txn():
        snap = table.snapshot()
        if snap is None:
            return None
        commit = table._new_commit_id()
        if zorder_cols:
            from ..functions.layout import add_zorder_key

            compacted = (
                add_zorder_key(snap, zorder_cols)
                .repartitionByRange(target_files, "__zkey")
                .sortWithinPartitions("__zkey")
                .drop("__zkey")
            )
        else:
            compacted = snap.repartitionByRange(target_files, table.record_key)
        table._write_snapshot(compacted, commit, presorted=bool(zorder_cols))
        snap_path = os.path.join(table.root, "snapshots", f"v={commit}")
        if stats_cols:
            from ..sources.colstats import write_colstats

            write_colstats(table.spark, snap_path, stats_cols)
        if bloom_key:
            from ..sources.bloomindex import write_bloom

            write_bloom(table.spark, snap_path, bloom_key)
        # marker BEFORE the pointer flip (r9 review — the engine-wide
        # ordering): a crash between flip and marker would leave a
        # published replace invisible to the conflict/instants rails
        # forever; a beyond-pointer marker is reaped instead
        table._record_instant(commit, "replace")
        table._publish(commit)
        table._clean()
        return commit
