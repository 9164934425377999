"""Bucket-indexed COPY_ON_WRITE table: Hudi file groups made real.

:class:`.upsert.KeyedTable`'s COW path rewrites the FULL snapshot every
commit — correct, but O(table) write amplification: at 100 TB an upsert
of a 1 GB batch must not rewrite 100 TB. Hudi's answer is the two-level
structure this module implements (SURVEY.md §2.5 P7 — the index — as a
working mechanism instead of an option passthrough):

  * **file groups**: the key space is split into ``num_buckets`` groups
    by a stable hash of the record key (Hudi's BUCKET index,
    ``hoodie.index.type=BUCKET`` + ``hoodie.bucket.index.num.buckets``
    — the simple-bucket-engine variant with a fixed bucket count);
  * **file slices**: each commit writes a NEW merged slice only for the
    file groups the batch touches; untouched groups keep their current
    slice. A commit's cost is O(touched groups' data + batch), never
    O(table).

Layout::

    root/
      _table.json                (record_key / precombine / num_buckets /
                                  payload — lets readers open a root)
      slices/b=<bucket>/v=<commit>/   (merged state of that file group
                                       as of <commit>; rows keep their
                                       origin ``_commit_time`` stamp)
      manifests/<commit>.json    (op + {bucket → slice commit}: the
                                  commit's full file-slice view — the
                                  Hudi timeline-instant + metadata-table
                                  FILES partition in one document)
      log/c=<commit>/, tombstones/c=<commit>/, replaces/, savepoints/,
      _latest                    (the commit timeline shared with
                                  KeyedTable — see below)

Reads resolve a manifest, not a directory listing: ``snapshot()`` is
the union of the manifest's referenced slices (one parquet multi-path
scan), ``snapshot(as_of)`` is the SAME read off an older manifest —
time travel needs no delete rail here, because a manifest pins the
exact slice set (a delete is just a commit whose touched buckets got
smaller slices). ``read_keys`` routes probe keys to their buckets and
scans ONLY those slices — the metadata-index point-lookup win (P8),
measured in tests/test_filegroups.py via ``inputFiles()``.

Scale notes (the reason this module exists):

  * upsert shuffles (touched slices ∪ batch) once on the record key —
    a batch that hits b of B buckets reads and rewrites ~b/B of the
    table. With date-correlated keys and enough buckets, steady-state
    ingestion cost is bounded by batch size, not table size.
  * ``num_buckets`` is set at table creation; size it so table_bytes /
    num_buckets ≈ the 1-4 GB file-group target. When the table
    outgrows it, ``rescale_buckets`` (r11) rewrites the live state
    under a new count as one whole-table maintenance commit — Hudi's
    bucket rescale; every other commit stays O(touched groups).
  * the per-commit manifest is O(num_buckets) JSON — thousands of
    entries, not millions; the driver never lists data files.
  * the cleaner removes slices unreferenced by the last
    ``keep_versions`` manifests; older manifests stay (they are tiny)
    and raise a clear error if read past retained history.

Multi-writer (r11, VERDICT r10 #1): pass a ``lock_provider`` (the same
:mod:`.concurrency` providers KeyedTable takes) to run every commit
phase under the table lock with Hudi-style OCC. Conflict detection is
at BUCKET granularity — Hudi's own unit (its
SimpleConcurrentFileWritesConflictResolutionStrategy compares touched
FILE GROUPS, not record keys): each manifest records the bucket set
its commit touched; a transaction whose base instant predates a
concurrent commit conflicts iff their bucket sets overlap (whole-table
ops — overwrite, rename — conflict with everything). Disjoint writers
both land: the merge re-reads the now-current manifest under the lock,
so it rebases onto concurrent commits in other buckets automatically.

The commit timeline — the ``_latest`` pointer flip as the one commit
point, transactions, orphan reaping, replace markers, savepoints and
restore/rollback, and the ``log/c=`` layout sources/incremental.py
reads — is :class:`.timeline.Timeline`, shared with KeyedTable. This
engine supplies its layout to it: the manifests as ``instants()``,
manifests and slice versions as its extra orphan families, and a
manifest isdir probe as ``_verify_reconstructable``. A savepoint
therefore pins its manifest's slice set against the cleaner, and
restore republishes an older manifest.

Reference parity: generate_hudi_table.py:86-214 configures upsert by
record key + precombine; this class honors the identical P1/P2 merge
contract (shared ``_merge_latest`` / ``_merge_partial``), so every
behavioral test in tests/test_upsert.py has a twin here.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..sources.incremental import COMMIT_COL
from .concurrency import CommitConflictError
from .timeline import (
    Timeline,
    _reap_beyond_pointer,
    _reap_dirs_beyond_pointer,
    _write_json_atomic,
)
from .upsert import (
    COMPOSITE_KEY_COL,
    cdc_window,
    with_composite_key,
)

#: derived bucket-routing column (materialized transiently for writes,
#: recomputed from the key on reads — never stored in slice files)
BUCKET_COL = "_bucket"


class BucketedTable(Timeline):
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        record_key: str | list[str],
        precombine: str,
        num_buckets: int = 16,
        keep_versions: int = 3,
        payload: str = "overwrite",
        stats_cols: list[str] | None = None,
        bloom_cols: str | list[str] | None = None,
        lock_provider=None,
        lock_timeout_s: float = 60.0,
    ):
        if num_buckets < 1:
            raise ValueError(f"num_buckets must be >= 1, got {num_buckets}")
        if payload not in ("overwrite", "partial_update"):
            raise ValueError(f"unknown payload: {payload!r}")
        self.spark = spark
        self.root = root
        # P8/P7 data-skipping config (r10, VERDICT r9 #5): per-slice
        # min/max stats stamped into every commit's manifest
        # (snapshot_where plans over in-range slices) and per-slice
        # Bloom sidecars (read_where_in opens may-contain slices).
        # Empty = inherit the table's persisted config on an existing
        # root; setting them on an existing table applies to FUTURE
        # commits (old slices stay unindexed and are kept
        # conservatively by the skipping reads).
        self.stats_cols: list[str] = list(stats_cols or [])
        self.bloom_cols: list[str] = (
            [bloom_cols]
            if isinstance(bloom_cols, str)
            else list(bloom_cols or [])
        )
        if isinstance(record_key, str) and "," in record_key:
            record_key = [f.strip() for f in record_key.split(",")]
        if isinstance(record_key, list):
            self.key_fields: list[str] = list(record_key)
            self.record_key = COMPOSITE_KEY_COL
        else:
            self.key_fields = [record_key]
            self.record_key = record_key
        self.precombine = precombine
        self.num_buckets = num_buckets
        self.keep_versions = keep_versions
        self.payload = payload
        # P9 OCC (r11, VERDICT r10 #1): None = single-writer mode (the
        # r10 behavior, zero overhead); a lock provider from
        # sinks/concurrency.py turns on the Hudi-style protocol —
        # commit phase under the table lock, bucket-overlap conflict
        # detection, CommitConflictError for the caller to retry.
        self.lock_provider = lock_provider
        self.lock_timeout_s = lock_timeout_s
        os.makedirs(root, exist_ok=True)
        self._write_meta()

    # -- table metadata -------------------------------------------------
    def _meta_path(self) -> str:
        return os.path.join(self.root, "_table.json")

    def _write_meta(self) -> None:
        meta = {
            "engine": "bucketed",
            "record_key": self.key_fields
            if self.record_key == COMPOSITE_KEY_COL
            else self.record_key,
            "precombine": self.precombine,
            "num_buckets": self.num_buckets,
            "keep_versions": self.keep_versions,
            "payload": self.payload,
            "stats_cols": self.stats_cols,
            "bloom_cols": self.bloom_cols,
        }
        if os.path.exists(self._meta_path()):
            with open(self._meta_path()) as f:
                existing = json.load(f)
            if existing.get("num_buckets") != self.num_buckets:
                # re-routing every key silently would corrupt the table
                raise ValueError(
                    f"table at {self.root} has num_buckets="
                    f"{existing.get('num_buckets')}; cannot reopen with "
                    f"{self.num_buckets} (open() adopts the persisted "
                    "count; use rescale_buckets to resize)"
                )
            # index config: unset = inherit the persisted one; set =
            # update it (applies to future commits — see __init__)
            if not self.stats_cols:
                self.stats_cols = list(existing.get("stats_cols") or [])
            if not self.bloom_cols:
                self.bloom_cols = list(existing.get("bloom_cols") or [])
            if existing.get("stats_cols") != self.stats_cols or existing.get(
                "bloom_cols"
            ) != self.bloom_cols:
                meta["stats_cols"] = self.stats_cols
                meta["bloom_cols"] = self.bloom_cols
                tmp = self._meta_path() + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(meta, f, indent=1)
                os.replace(tmp, self._meta_path())
            return
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path())

    @classmethod
    def open(
        cls, spark: SparkSession, root: str, lock_provider=None
    ) -> "BucketedTable":
        """Open an existing root from its persisted metadata.
        ``lock_provider`` is process-local (not persisted): each writer
        brings its own handle to the shared lock, as with Hudi's lock
        configs."""
        with open(os.path.join(root, "_table.json")) as f:
            meta = json.load(f)
        return cls(
            spark,
            root,
            record_key=meta["record_key"],
            precombine=meta["precombine"],
            num_buckets=meta["num_buckets"],
            keep_versions=meta.get("keep_versions", 3),
            payload=meta.get("payload", "overwrite"),
            stats_cols=meta.get("stats_cols") or None,
            bloom_cols=meta.get("bloom_cols") or None,
            lock_provider=lock_provider,
        )

    # -- commit timeline layout -----------------------------------------
    def commits(self) -> list[str]:
        """Published commit ids, oldest first: manifest files at or
        below the pointer (a crashed writer's manifest beyond the
        pointer is an orphan, see Timeline._rollback_failed)."""
        latest = self.latest_commit()
        if latest is None:
            return []
        mdir = os.path.join(self.root, "manifests")
        if not os.path.isdir(mdir):
            return []
        out = [
            n[: -len(".json")]
            for n in os.listdir(mdir)
            if n.endswith(".json") and not n.startswith(".")
        ]
        return sorted(c for c in out if c <= latest)

    def _reap_layout(self, latest: str | None) -> None:
        """BucketedTable's beyond-pointer orphan families (the shared
        rule: see Timeline._rollback_failed): manifests and slice
        versions."""
        _reap_beyond_pointer(os.path.join(self.root, "manifests"), latest)
        sdir = os.path.join(self.root, "slices")
        if os.path.isdir(sdir):
            for bname in os.listdir(sdir):
                if bname.startswith("b="):
                    _reap_dirs_beyond_pointer(
                        os.path.join(sdir, bname), "v=", latest
                    )

    def _txn_begin(self) -> None:
        """Adopt the AUTHORITATIVE bucket count — the latest published
        manifest's (rescale_buckets changes it; a concurrent process's
        rescale, or a crash between a rescale's publish and its meta
        update, leaves this object's count stale) — and heal the
        _table.json cache. Runs inside every transaction, BEFORE the
        caller routes anything."""
        latest = self.latest_commit()
        if latest is None:
            return
        nb = self._manifest(latest).get("num_buckets")
        if nb is not None and int(nb) != self.num_buckets:
            self.num_buckets = int(nb)
            self._write_meta_update()

    def _touched_of(self, commit: str, prev: str | None) -> set[int] | None:
        """The bucket set a PUBLISHED commit touched, from its manifest:
        the recorded ``touched`` field (r11+ manifests), else derived by
        diffing its slice map against its predecessor's (pre-r11
        vintage). ``None`` = whole-table (overwrite / alter — conflicts
        with any in-flight transaction)."""
        m = self._manifest(commit)
        if m.get("op") in ("overwrite", "alter", "rescale"):
            return None
        rec = m.get("touched")
        if rec is not None:
            return {int(b) for b in rec}
        before = (
            self._manifest(prev)["slices"] if prev is not None else {}
        )
        return {
            int(b)
            for b, sc in m["slices"].items()
            if before.get(b, "__absent__") != sc
        }

    def _check_conflict(
        self, base_instant: str | None, touched: set[int]
    ) -> None:
        """Hudi OCC conflict resolution at Hudi's own granularity (file
        groups — SimpleConcurrentFileWritesConflictResolutionStrategy
        compares touched file IDs): any commit completed after this
        transaction's ``base_instant`` whose bucket set overlaps
        ``touched`` is a conflict; whole-table commits conflict with
        everything. Pure manifest reads — no data scan, no Spark job."""
        if self.lock_provider is None:
            return  # single-writer mode: nothing to race with
        commits = self.commits()
        # predecessor in one pass (r11 review: commits.index(c) per
        # since-commit made the check O(n²) in timeline length — the
        # manifests are never deleted, so n only grows)
        prev_of = {
            c: (commits[i - 1] if i else None)
            for i, c in enumerate(commits)
        }
        since = [
            c
            for c in commits
            if base_instant is None or c > base_instant
        ]
        if not since:
            return
        whole_table, hits, overlap = [], [], set()
        for c in since:
            t = self._touched_of(c, prev_of[c])
            if t is None:
                whole_table.append(c)
            elif t & touched:
                hits.append(c)
                overlap |= t & touched
        if whole_table:
            raise CommitConflictError(whole_table)
        if hits:
            raise CommitConflictError(
                hits, len(overlap), unit="file-group bucket"
            )

    # -- manifests ------------------------------------------------------
    def _manifest_path(self, commit: str) -> str:
        return os.path.join(self.root, "manifests", f"{commit}.json")

    def _manifest(self, commit: str) -> dict:
        with open(self._manifest_path(commit)) as f:
            return json.load(f)

    def _write_manifest(
        self,
        commit: str,
        op: str,
        slices: dict[int, str | None],
        schema: StructType,
        col_stats: dict | None = None,
        touched: list[int] | None = None,
    ) -> None:
        doc = {
            "op": op,
            # the routing this commit's slices were written under —
            # the AUTHORITATIVE current count is the latest manifest's
            # (rescale_buckets changes it; _table.json is a cache that
            # _txn heals), and time-travel reads route by the pinned
            # manifest's own count
            "num_buckets": self.num_buckets,
            # the bucket set this commit touched — the OCC conflict
            # unit (None on whole-table ops; pre-r11 manifests derive
            # it by slice-map diff, see _touched_of)
            "touched": sorted(touched) if touched is not None else None,
            # commit-time write accounting, so stats() reports what the
            # commit WROTE even after the cleaner removes the slices
            "bytes_written": getattr(self, "_last_bytes_written", 0),
            # bucket → commit of its current slice; None = group empty
            "slices": {str(b): c for b, c in sorted(slices.items())},
            # committed data schema — empty snapshots and explicit-
            # schema readers reconstruct from here (KeyedTable's
            # schema/ dir analogue, inlined since the manifest already
            # exists per commit)
            "schema": json.loads(schema.json()),
        }
        if col_stats:
            # P8 per-slice min/max/null stats (r10): the manifest IS
            # the file index — snapshot_where plans over in-range
            # slices from this one document, never probing footers
            doc["col_stats"] = col_stats
        _write_json_atomic(self._manifest_path(commit), doc)

    # -- key routing ----------------------------------------------------
    def _with_key(self, df: DataFrame) -> DataFrame:
        if self.record_key != COMPOSITE_KEY_COL:
            return df
        return with_composite_key(df, self.key_fields)

    def _bucket_expr(self, n: int | None = None):
        """Stable key → file-group routing: xxhash64 of the STRING form
        of the key (cast pins the hash input so int and bigint key
        columns route identically across writers), mod num_buckets.
        Pure codegen — routing adds no Python and no shuffle of its
        own."""
        return F.pmod(
            F.xxhash64(F.col(self.record_key).cast("string")),
            F.lit(n if n is not None else self.num_buckets),
        ).cast("int")

    def _slice_path(self, bucket: int, commit: str) -> str:
        return os.path.join(self.root, "slices", f"b={bucket}", f"v={commit}")

    def _read_slices(
        self, pairs: list[tuple[int, str]], schema: StructType | None = None
    ) -> DataFrame | None:
        """One multi-path parquet scan over the given (bucket, slice
        commit) set, declared under the manifest's committed ``schema``
        when given: schema evolution only rewrites the slices a batch
        touches, so a snapshot legitimately spans schema versions —
        the explicit schema NULL-fills columns a pre-evolution slice
        lacks and WIDENS its narrower types at scan time (parquet
        mergeSchema cannot: it refuses int32 vs int64), with no
        footer sweep. ``schema=None`` falls back to mergeSchema (the
        pre-widening vintage behavior, safe on add-only histories)."""
        if not pairs:
            return None
        paths = []
        for b, c in pairs:
            p = self._slice_path(b, c)
            if not os.path.isdir(p):
                raise ValueError(
                    f"file slice b={b}/v={c} was removed by the cleaner "
                    "(keep_versions) — raise keep_versions or read within "
                    "retained history"
                )
            paths.append(p)
        if schema is not None:
            from ..sources.incremental import (
                coalesce_renamed,
                physical_read_schema,
            )

            # renamed columns (r9): pre-rename slices keep the old
            # physical names — declare them as extra same-typed fields
            # and fold into the logical columns, one scan (the
            # KeyedTable read contract, applied to slice reads)
            phys, priors = physical_read_schema(schema)
            df = self.spark.read.schema(phys).parquet(*paths)
            if priors:
                df = coalesce_renamed(df, priors)
            return df
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    # -- data-skipping indexes (r10, VERDICT r9 #5) -----------------------
    def _collect_slice_stats(
        self, pairs: list[tuple[int, str]], schema: StructType
    ) -> dict:
        """Per-SLICE min/max/null stats for ``stats_cols`` over the
        just-written slices: one column-pruned multi-path scan grouped
        by the slice's bucket (parsed from the file path), collected
        driver-side (≤ touched-bucket rows). The write already paid for
        these bytes; the stats scan reads only the indexed columns."""
        from ..sources.colstats import _check_orderable, _enc

        if not pairs:
            return {}
        df = self._read_slices(pairs, schema)
        _check_orderable(df, self.stats_cols)
        bucket = F.regexp_extract(
            F.input_file_name(), r"[/\\]b=(\d+)[/\\]", 1
        ).cast("int")
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for i, c in enumerate(self.stats_cols):
            aggs.append(F.min(c).alias(f"__mn{i}"))
            aggs.append(F.max(c).alias(f"__mx{i}"))
            aggs.append(
                F.sum(F.col(c).isNull().cast("long")).alias(f"__nl{i}")
            )
        rows = (
            df.select(bucket.alias("__b"), *self.stats_cols)
            .groupBy("__b")
            .agg(*aggs)
            .collect()
        )
        return {
            str(r["__b"]): {
                "rows": r["__rows"],
                "cols": {
                    c: {
                        "min": _enc(r[f"__mn{i}"]),
                        "max": _enc(r[f"__mx{i}"]),
                        "nulls": r[f"__nl{i}"],
                    }
                    for i, c in enumerate(self.stats_cols)
                },
            }
            for r in rows
        }

    def _stamp_indexes(
        self,
        touched_map: dict[int, str | None],
        new_slices: dict[int, str | None],
        schema: StructType,
    ) -> dict | None:
        """Stamp the commit's data-skipping indexes: per-slice col
        stats for the manifest (untouched buckets carry their previous
        entry forward — their slice is byte-identical) and per-slice
        Bloom sidecars written INSIDE the just-renamed slice dirs
        (immutable with them; the cleaner reaps both together).
        Returns the manifest's col_stats dict, or None when the table
        indexes nothing."""
        col_stats: dict = {}
        if self.stats_cols:
            latest = self.latest_commit()
            prev = (
                (self._manifest(latest).get("col_stats") or {})
                if latest is not None
                else {}
            )
            for b, c in new_slices.items():
                if b in touched_map or c is None:
                    continue
                e = prev.get(str(b))
                if e is not None:
                    col_stats[str(b)] = e
            col_stats.update(
                self._collect_slice_stats(
                    [
                        (b, c)
                        for b, c in touched_map.items()
                        if c is not None
                    ],
                    schema,
                )
            )
        if self.bloom_cols:
            from ..sources.bloomindex import write_bloom

            for b, c in touched_map.items():
                if c is not None:
                    write_bloom(
                        self.spark, self._slice_path(b, c), self.bloom_cols
                    )
        return col_stats or None

    # -- write path -----------------------------------------------------
    def _write_touched(
        self, merged: DataFrame, touched: list[int], commit: str
    ) -> dict[int, str | None]:
        """Write the merged state of the touched buckets as new file
        slices: ONE partitionBy job into staging, then one rename per
        bucket. Returns the touched part of the new slice map (None for
        buckets left empty — partitionBy writes no dir for an empty
        partition, which is exactly the 'group is now empty' signal)."""
        out = (
            merged.withColumn(BUCKET_COL, self._bucket_expr())
            # ONE output file per file group: without the bucket
            # repartition, partitionBy fans each of the merge shuffle's
            # P tasks across every bucket dir → up to P small files per
            # group per commit — the classic small-files failure at
            # 1000 executors. The extra exchange moves only touched-
            # group data (each group's rows land in exactly one task).
            .repartition(max(len(touched), 1), F.col(BUCKET_COL))
            # key-sorted rows inside each slice file (P5 clustering-lite,
            # same as KeyedTable snapshots) → row-group locality for
            # point lookups
            .sortWithinPartitions(BUCKET_COL, self.record_key)
        )
        slice_of = {b: self._slice_path(b, commit) for b in touched}
        moved = set(
            self._staged_write(
                lambda p: out.write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .parquet(p),
                {f"{BUCKET_COL}={b}": dst for b, dst in slice_of.items()},
            )
        )
        self._last_bytes_written = sum(
            os.path.getsize(os.path.join(dst, f))
            for dst in moved
            for f in os.listdir(dst)
        )
        return {
            b: commit if dst in moved else None for b, dst in slice_of.items()
        }

    def _touched_buckets(
        self, keyed: DataFrame, n: int | None = None
    ) -> list[int]:
        """Distinct bucket ids the batch routes to — a bounded driver
        aggregate (≤ num_buckets ints), the ONLY collect in the write
        path. ``n`` routes under a non-current count (time travel
        across a rescale boundary)."""
        rows = (
            keyed.select(self._bucket_expr(n).alias(BUCKET_COL))
            .distinct()
            .collect()
        )
        return sorted(r[BUCKET_COL] for r in rows)

    def _current_slices(self) -> dict[int, str | None]:
        latest = self.latest_commit()
        if latest is None:
            return {}
        return {
            int(b): c for b, c in self._manifest(latest)["slices"].items()
        }

    def upsert(self, incoming: DataFrame) -> str:
        """K1 with bounded write amplification: merge the batch into
        ONLY the file groups it touches. Cost = one key shuffle over
        (touched slices ∪ batch) + one parquet write of the touched
        groups; untouched groups carry forward by manifest pointer —
        zero bytes moved.

        With a lock provider (P9 OCC, r11): the batch dedup and bucket
        routing are planned optimistically, then conflict-check +
        merge + publish run under the table lock; raises
        CommitConflictError on BUCKET overlap with a concurrent commit
        (caller retries). Disjoint-bucket concurrent commits rebase:
        the merge reads the now-current manifest under the lock."""
        # optimistic phase — no lock: combine the batch, route its keys
        base_instant = self.latest_commit()
        incoming = self._with_key(incoming)
        deduped = self._combine_batch(incoming)
        with self._txn():
            # routing depends only on the key SET, identical pre- and
            # post-dedupe — computed off the raw batch (narrow key-only
            # lineage, no merge window behind it), INSIDE the critical
            # section since r11: a concurrent rescale_buckets changes
            # the count this routes under (_txn refreshed it above)
            touched = self._touched_buckets(incoming)
            self._check_conflict(base_instant, set(touched))
            commit = self._new_commit_id()
            stamped = deduped.withColumn(COMMIT_COL, F.lit(commit))
            # the committed schema for THIS commit, computed (and its
            # widening lattice VALIDATED — non-promotable changes raise
            # here) BEFORE any slice is read or written; the existing
            # slices are then read directly under it, so pre-evolution
            # groups NULL-fill added columns and widen narrow types at
            # scan time
            schema_now = self._union_schema(stamped.schema)
            slices = self._current_slices()
            existing = self._read_slices(
                [
                    (b, slices[b])
                    for b in touched
                    if slices.get(b) is not None
                ],
                schema_now,
            )
            merged = (
                stamped
                if existing is None
                else self._combine(
                    existing.unionByName(stamped, allowMissingColumns=True)
                )
            )
            new_slices = dict(slices)
            touched_map = self._write_touched(merged, touched, commit)
            new_slices.update(touched_map)
            col_stats = self._stamp_indexes(
                touched_map, new_slices, schema_now
            )
            self._write_log(stamped, commit)
            self._write_manifest(
                commit,
                "upsert",
                new_slices,
                schema_now,
                col_stats,
                touched=touched,
            )
            self._publish(commit)
            self._clean()
            return commit

    def overwrite(self, incoming: DataFrame) -> str:
        """Hudi ``insert_overwrite_table``, the manifest-native way:
        the new commit's manifest references ONLY the batch's slices,
        so every pre-existing file group drops out by omission — no
        tombstones, no reconstruction rail (time travel here is
        manifest-pinned: older manifests keep referencing the old
        slices until the cleaner retires them with their commits).
        Replace semantics beat the P2 merge by construction: no
        existing slice is read, so a lower-precombine batch row cannot
        lose to the row it replaces. A whole-table op: under OCC it
        conflicts with ANY concurrent commit since its base instant
        (and any in-flight writer conflicts with it)."""
        base_instant = self.latest_commit()
        incoming = self._with_key(incoming)
        deduped = self._combine_batch(incoming)
        with self._txn():
            touched = self._touched_buckets(incoming)
            # replace rewrites the WHOLE live state: any concurrent
            # commit since base would be silently erased — conflict on
            # every bucket the table currently holds plus the batch's
            self._check_conflict(
                base_instant,
                set(touched) | set(self._current_slices()),
            )
            commit = self._new_commit_id()
            stamped = deduped.withColumn(COMMIT_COL, F.lit(commit))
            new_slices = {
                b: c
                for b, c in self._write_touched(
                    stamped, touched, commit
                ).items()
                if c is not None
            }
            schema_now = self._union_schema(stamped.schema)
            # replace: every surviving slice is new — nothing carries over
            col_stats = self._stamp_indexes(
                new_slices, new_slices, schema_now
            )
            self._write_log(stamped, commit)
            self._write_manifest(
                commit, "overwrite", new_slices, schema_now, col_stats
            )
            self._publish(commit)
            # post-publish replace marker: the stream_cdc 'r' lane's
            # publish gate (never emitted for an aborted overwrite)
            self._record_replace_published(commit)
            self._clean()
            return commit

    def delete_where(self, condition) -> str | None:
        """Predicate delete (sugar over :meth:`delete`): drop every
        live row matching ``condition`` (Column or SQL string). The
        key set is unbounded (whatever the predicate matches), so the
        anti-join is left UNHINTED — AQE broadcasts it only when its
        runtime size allows. The snapshot the predicate evaluates
        against is read INSIDE the table lock (see KeyedTable
        .delete_where for why)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        with self._txn():
            snap = self.snapshot()
            if snap is None:
                return None
            return self._delete_locked(
                snap.where(cond), broadcast_keys=False
            )

    def delete(
        self, keys: DataFrame, broadcast_keys: bool = True
    ) -> str | None:
        """Hudi delete: drop the given record keys — reads and rewrites
        only the buckets the keys route to. ``broadcast_keys`` hints
        the anti-join's key side; the default fits the point-delete
        call shape (explicit small key lists), but pass False when the
        key frame is derived and unbounded (``delete_where`` does) so
        a predicate matching millions of keys can't force a driver-
        sized broadcast. Runs wholly under the table lock (it reads
        current state there, so it never conflicts; concurrent writers
        conflict with it iff their buckets overlap its key set's)."""
        with self._txn():
            return self._delete_locked(keys, broadcast_keys)

    def _delete_locked(
        self, keys: DataFrame, broadcast_keys: bool = True
    ) -> str | None:
        """Body of :meth:`delete`; assumes the caller holds ``_txn``."""
        keys = self._with_key(keys)
        keyed = keys.select(self.record_key).distinct()
        touched = self._touched_buckets(keyed)
        slices = self._current_slices()
        live = [(b, slices[b]) for b in touched if slices.get(b) is not None]
        if not live:
            return None  # none of the keys' groups hold data
        commit = self._new_commit_id()
        schema = self._union_schema(None)  # one manifest read, both uses
        existing = self._read_slices(live, schema)
        anti = F.broadcast(keyed) if broadcast_keys else keyed
        remaining = existing.join(
            anti, on=self.record_key, how="left_anti"
        )
        new_slices = dict(slices)
        touched_map = self._write_touched(
            remaining, [b for b, _ in live], commit
        )
        new_slices.update(touched_map)
        col_stats = self._stamp_indexes(touched_map, new_slices, schema)
        # tombstone log (r10): the keys this delete actually dropped,
        # as a key-only parquet dir — the same layout KeyedTable
        # writes, so CDC fabricates delete rows O(dropped keys) and
        # stream_cdc's 'd' lane reads both engines. Written BEFORE the
        # pointer flip (beyond-pointer tombstones are orphans).
        dropped = existing.join(
            keyed, on=self.record_key, how="left_semi"
        ).select(self.record_key)
        self._staged_write(
            lambda p: dropped.write.mode("overwrite").parquet(p),
            os.path.join(self.root, "tombstones", f"c={commit}"),
        )
        self._write_manifest(
            commit,
            "delete",
            new_slices,
            schema,
            col_stats,
            touched=[b for b, _ in live],
        )
        self._publish(commit)
        self._clean()
        return commit

    def _union_schema(self, incoming: StructType | None) -> StructType:
        """Committed data schema: previous manifest's schema widened by
        the incoming batch — order-preserving name union (an evolved
        column keeps its first-seen position) PLUS type promotion
        along the same reader-verified lattice as KeyedTable
        (upsert.py `_widened`): a same-name type change either widens
        the recorded type or raises BEFORE any slice is written. The
        recorded (wide) schema is what `_read_slices` declares, so
        narrow untouched slices widen at scan time — a silent
        narrow-vs-wide mix would otherwise break the read (parquet
        mergeSchema refuses int32 vs int64)."""
        from .upsert import merge_widened_fields

        latest = self.latest_commit()
        prev = None
        if latest is not None:
            prev = StructType.fromJson(self._manifest(latest)["schema"])
        if incoming is None:
            return prev if prev is not None else StructType([])
        if prev is None:
            return incoming
        renamed_away = {
            p
            for f in prev.fields
            for p in f.metadata.get("renamed_from", ())
        }
        bad = [f.name for f in incoming.fields if f.name in renamed_away]
        if bad:
            raise ValueError(
                f"column(s) {bad} were renamed on this table "
                "(alter_rename_column) and their old names cannot be "
                "re-added: old slices still hold the previous values, "
                "which name-based reads would conflate — use the new "
                "name (or a fresh one)"
            )
        merged, _ = merge_widened_fields(prev.fields, incoming.fields)
        return StructType(merged)

    # -- read path ------------------------------------------------------
    def snapshot(self, as_of: str | None = None) -> DataFrame | None:
        """S1 snapshot (one live row per key), latest or as of an older
        instant. A manifest IS the snapshot definition: the read is the
        union of its referenced slices — already per-key merged at
        write time, so no read-side combine at all (the read-optimized
        half of COW, preserved). Time travel composes for free and
        needs NO delete rail: an old manifest pins the exact pre-delete
        slice set; the only failure mode is the cleaner having removed
        a referenced slice, which raises with the retained-history
        message."""
        latest = self.latest_commit()
        if latest is None:
            return None
        effective = latest if as_of is None or as_of > latest else as_of
        surviving = [c for c in self.commits() if c <= effective]
        if not surviving:
            return None  # as_of before the first commit
        manifest = self._manifest(surviving[-1])
        pairs = [
            (int(b), c)
            for b, c in manifest["slices"].items()
            if c is not None
        ]
        df = self._read_slices(
            pairs, StructType.fromJson(manifest["schema"])
        )
        if df is None:
            # every group empty (e.g. all rows deleted): an EMPTY frame
            # in the committed schema, not None — the table exists
            schema = StructType.fromJson(manifest["schema"])
            return self.spark.createDataFrame([], schema)
        return df

    def read_keys(
        self, keys: DataFrame, as_of: str | None = None
    ) -> DataFrame:
        """P8 point lookup: route the probe keys to their buckets and
        scan ONLY those file slices — 1/num_buckets of the table per
        probed group instead of a full scan. The probe side is joined
        broadcast (point lookups are small by definition).

        ``as_of`` composes with time travel (r11): the routing is a
        pure hash of the key, so it is instant-independent; only the
        slice map comes from the pinned manifest. This is what lets
        the IVM dim term read its F₀ (fact state at the PREVIOUS fact
        instant) as a touched-buckets read instead of a snapshot scan
        (operators/ivm.py routed_fact_base)."""
        keys = self._with_key(keys)
        keyed = keys.select(self.record_key).distinct()
        latest = self.latest_commit()
        if latest is None:
            return self.spark.createDataFrame([], self._union_schema(None))
        if as_of is None:
            manifest = self._manifest(latest)
            schema = self._union_schema(None)  # one manifest read, both uses
        else:
            surviving = [c for c in self.commits() if c <= as_of]
            if not surviving:
                return self.spark.createDataFrame(
                    [], self._union_schema(None)
                )
            manifest = self._manifest(surviving[-1])
            schema = StructType.fromJson(manifest["schema"])
        # route under the PINNED manifest's own bucket count — a
        # rescale between as_of and now (or since this object opened)
        # must not re-route the probe (r11, rescale_buckets)
        touched = self._touched_buckets(
            keyed, int(manifest.get("num_buckets", self.num_buckets))
        )
        slices = {int(b): c for b, c in manifest["slices"].items()}
        live = [(b, slices[b]) for b in touched if slices.get(b) is not None]
        df = self._read_slices(live, schema)
        if df is None:
            return self.spark.createDataFrame([], schema)
        return df.join(F.broadcast(keyed), on=self.record_key, how="left_semi")

    def alter_rename_column(self, old: str, new: str) -> str:
        """ALTER TABLE RENAME COLUMN, bucketed form (r9): a metadata-
        only commit whose manifest re-references the SAME slices under
        the renamed schema (the field keeps position/type and records
        the old name in its ``renamed_from`` chain). No slice is
        rewritten — `_read_slices` serves old slices through the
        prior-name mapping; time travel before the rename reads the
        old manifest's schema and shows the vintage name for free
        (manifests pin both slices AND schema). Old names are
        permanently reserved; structural columns refuse. A whole-table
        op under OCC: it reads current state under the lock (never
        conflicts itself); concurrent in-flight writers conflict with
        its published 'alter' manifest."""
        with self._txn():
            return self._alter_rename_locked(old, new)

    def _alter_rename_locked(self, old: str, new: str) -> str:
        from pyspark.sql.types import StructField

        protected = {self.record_key, self.precombine, COMMIT_COL}
        if self.record_key == COMPOSITE_KEY_COL:
            protected.update(self.key_fields)
        if old in protected:
            raise ValueError(
                f"alter_rename_column: {old!r} is a key/precombine "
                "column — structural columns cannot be renamed"
            )
        if new in protected or new == "c":
            raise ValueError(
                f"alter_rename_column: target name {new!r} collides "
                "with a structural column (or the reserved log "
                "partition name 'c')"
            )
        latest = self.latest_commit()
        if latest is None:
            raise ValueError(
                "alter_rename_column on an empty table — nothing to "
                "rename"
            )
        manifest = self._manifest(latest)
        prev = StructType.fromJson(manifest["schema"])
        by_name = {f.name: f for f in prev.fields}
        if old not in by_name:
            raise ValueError(
                f"alter_rename_column: no column {old!r} "
                f"(have: {[f.name for f in prev.fields]})"
            )
        taken = set(by_name)
        taken.update(
            pr
            for f in prev.fields
            for pr in f.metadata.get("renamed_from", ())
        )
        if new in taken:
            raise ValueError(
                f"alter_rename_column: target name {new!r} is already "
                "in use — as a column or a previous name of a renamed "
                "one (old slices still hold data under it)"
            )
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
                for f in prev.fields
            ]
        )
        commit = self._new_commit_id()
        slices = {int(b): c for b, c in manifest["slices"].items()}
        # carry the per-slice stats forward under the NEW name (the
        # slices are byte-identical; only the logical name moved)
        prev_stats = manifest.get("col_stats")
        renamed_stats = None
        if prev_stats:
            renamed_stats = {
                b: {
                    "rows": e["rows"],
                    "cols": {
                        (new if k == old else k): v
                        for k, v in e["cols"].items()
                    },
                }
                for b, e in prev_stats.items()
            }
        if old in self.stats_cols:
            self.stats_cols = [
                new if c == old else c for c in self.stats_cols
            ]
        if old in self.bloom_cols:
            # per-slice bloom sidecars were built under the OLD name
            # and probe by column name — they go stale on rename;
            # future commits stamp under the new name and old slices
            # fall back to the conservative keep
            self.bloom_cols = [
                new if c == old else c for c in self.bloom_cols
            ]
        self._write_meta_update()
        self._write_manifest(commit, "alter", slices, staged, renamed_stats)
        self._publish(commit)
        return commit

    def _write_meta_update(self) -> None:
        """Rewrite _table.json with the current index config (rename
        support — the normal path only writes meta at creation)."""
        with open(self._meta_path()) as f:
            meta = json.load(f)
        meta["stats_cols"] = self.stats_cols
        meta["bloom_cols"] = self.bloom_cols
        meta["num_buckets"] = self.num_buckets  # rescale support
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1)
        os.replace(tmp, self._meta_path())

    # -- data-skipping reads (r10, VERDICT r9 #5) -------------------------
    def snapshot_where(
        self,
        predicates: dict,
        as_of: str | None = None,
        with_report: bool = False,
    ):
        """P8 data-skipping snapshot read — semantically IDENTICAL to
        ``snapshot(as_of).filter(lo <= col <= hi ...)``: the manifest's
        per-slice min/max stats (stamped at write time when the table
        was created with ``stats_cols``) shrink the slice set the scan
        plans over; the residual filter always applies. Slices without
        stats (pre-index history, or a column added later) are kept
        conservatively. Composes with time travel for free: an old
        manifest pins both its slice set AND its stats. At 100 TB this
        is the KeyedTable col-stats win on the bounded-write-
        amplification engine: the driver prunes from ONE manifest
        document, never listing or footer-probing slice files.
        ``with_report=True`` also returns
        ``{n_slices, n_kept, indexed}``."""
        from ..sources.colstats import (
            _file_survives,
            _validate_predicates,
            predicates_to_filter,
        )

        _validate_predicates(predicates)
        latest = self.latest_commit()
        if latest is None:
            return (None, {"fallback": True}) if with_report else None
        effective = latest if as_of is None or as_of > latest else as_of
        surviving = [c for c in self.commits() if c <= effective]
        if not surviving:
            return (None, {"fallback": True}) if with_report else None
        manifest = self._manifest(surviving[-1])
        stats = manifest.get("col_stats") or {}
        pairs = [
            (int(b), c)
            for b, c in manifest["slices"].items()
            if c is not None
        ]
        kept = []
        for b, c in pairs:
            e = stats.get(str(b))
            if e is None:
                kept.append((b, c))  # unstamped slice: keep (safe)
                continue
            if _file_survives(
                {"rows": e["rows"], "stats": e["cols"]}, predicates
            ):
                kept.append((b, c))
        schema = StructType.fromJson(manifest["schema"])
        df = self._read_slices(kept, schema)
        if df is None:
            df = self.spark.createDataFrame([], schema)
        df = df.where(predicates_to_filter(predicates))
        if with_report:
            return df, {
                "n_slices": len(pairs),
                "n_kept": len(kept),
                "indexed": bool(stats),
            }
        return df

    def read_where_in(
        self, col: str, values: list, with_report: bool = False
    ):
        """P7+ secondary-index lookup — semantically
        ``snapshot().where(col.isin(values))``: each live slice's
        ``_bloom.json`` sidecar (stamped at write time when the table
        was created with ``bloom_cols``) answers "may this slice
        contain any probe value?", and only may-contain slices are
        scanned; the exact isin filter always applies. Record-key
        probes don't need this — bucket routing (:meth:`read_keys`)
        prunes them arithmetically; blooms cover the NON-key equality
        probes routing can't touch. Probe bit positions are computed
        once per (m, k, type) group, not per slice. Unindexed slices
        are kept conservatively."""
        import base64 as _b64

        from ..sources import bloomindex as _bi

        exact = F.col(col).isin(values) if values else F.lit(False)
        latest = self.latest_commit()
        if latest is None:
            return (None, {"fallback": True}) if with_report else None
        manifest = self._manifest(latest)
        pairs = [
            (int(b), c)
            for b, c in manifest["slices"].items()
            if c is not None
        ]
        kept, n_indexed = [], 0
        pos_memo: dict = {}
        for b, c in pairs:
            bm = _bi.load_bloom(self.spark, self._slice_path(b, c))
            resolved = (
                None if bm is None else _bi._resolve_col(bm, col)
            )
            if resolved is None:
                kept.append((b, c))  # unindexed slice: keep (safe)
                continue
            n_indexed += 1
            if not values:
                continue  # isin([]) is false everywhere
            gk = (
                bm["m_bits"],
                bm["num_hashes"],
                _bi.bloom_columns(bm).get(resolved),
            )
            if gk not in pos_memo:
                pos_memo[gk] = _bi._probe_positions(
                    self.spark, values, bm, resolved
                )
            positions = pos_memo[gk]
            hit = False
            for b64 in _bi._col_bitmaps(bm, resolved).values():
                bitmap = _b64.b64decode(b64)
                if any(
                    all(
                        bitmap[p >> 3] & (1 << (p & 7)) for p in pos
                    )
                    for pos in positions.values()
                ):
                    hit = True
                    break
            if hit:
                kept.append((b, c))
        schema = StructType.fromJson(manifest["schema"])
        df = self._read_slices(kept, schema)
        if df is None:
            df = self.spark.createDataFrame([], schema)
        df = df.where(exact)
        if with_report:
            return df, {
                "n_slices": len(pairs),
                "n_kept": len(kept),
                "n_indexed": n_indexed,
            }
        return df

    # -- CDC / streaming protocol (r10, VERDICT r9 #6) --------------------
    # The shared cdc_window algebra and the stream_cdc source speak a
    # small table protocol (log/, tombstones/c=, replaces/*.json,
    # instants, timeline ops, as-of snapshots); these methods implement
    # it on the manifest-native engine so CDC, replication, and the
    # streaming maintained views run over bucketed roots too.

    def instants(self) -> list[str]:
        """All PUBLISHED commit ids, oldest first — manifests ARE the
        timeline here (every commit writes one), so no dir-union is
        needed."""
        return self.commits()

    def _timeline_instants(self) -> dict[str, str]:
        """commit id → operation, from the manifests (the bucketed
        engine's timeline)."""
        return {c: self._manifest(c).get("op", "upsert") for c in self.commits()}

    def _snapshot_as_of(self, as_of: str):
        return self.snapshot(as_of=as_of)

    def _rename_priors_map(self) -> dict[str, list[str]]:
        """current logical name → prior physical names, from the latest
        manifest's schema metadata; {} for never-renamed tables."""
        latest = self.latest_commit()
        if latest is None:
            return {}
        sch = StructType.fromJson(self._manifest(latest)["schema"])
        return {
            f.name: list(f.metadata["renamed_from"])
            for f in sch.fields
            if f.metadata.get("renamed_from")
        }

    def log(self) -> DataFrame | None:
        """The change stream (all per-commit upserted rows, carrying
        ``_commit_time``) under the MANIFEST schema — explicit, so a
        pre-evolution log dir NULL-fills/widens at scan time and
        renamed columns fold through their prior physical names (the
        `_read_slices` contract applied to the log); bounded at the
        published pointer by a partition filter on the ``c=`` dir."""
        latest = self.latest_commit()
        log_dir = os.path.join(self.root, "log")
        if latest is None or not os.path.isdir(log_dir):
            return None
        if not any(n.startswith("c=") for n in os.listdir(log_dir)):
            return None
        from pyspark.sql.types import LongType

        from ..sources.incremental import (
            coalesce_renamed,
            physical_read_schema,
        )

        data_schema = StructType(
            [
                f
                for f in self._union_schema(None).fields
                if f.name != COMMIT_COL
            ]
        )
        if "c" in data_schema.fieldNames():
            # the log layout reserves `c` for its commit partition dir
            # (log/c=<id>/) — the same refusal the KeyedTable log
            # reader applies (a duplicate field would break the read)
            raise ValueError(
                f"{self.root}: table data schema contains a column "
                "named 'c', which collides with the commit-log "
                "partition column (log/c=<commit>/) — rename the data "
                "column before reading this table's log"
            )
        phys, priors = physical_read_schema(data_schema)
        df = (
            self.spark.read.schema(
                StructType(
                    list(phys.fields)
                    + [StructField("c", LongType(), True)]
                )
            )
            .option("basePath", log_dir)
            .parquet(os.path.join(log_dir, "c=*"))
            .filter(F.col("c") <= F.lit(int(latest)))
            .withColumnRenamed("c", COMMIT_COL)
            .withColumn(COMMIT_COL, F.col(COMMIT_COL).cast("string"))
        )
        if priors:
            df = coalesce_renamed(df, priors)
        return df

    def cdc(
        self,
        begin: str | None = None,
        end: str | None = None,
        suppress_unchanged: bool = True,
    ) -> DataFrame | None:
        """Change-data-capture window over the bucketed engine — the
        exact :meth:`..sinks.upsert.KeyedTable.cdc` semantics (op/
        before/after, precombine merge, delete epochs, replace-commit
        rail), via the shared :func:`..sinks.upsert.cdc_window`."""
        return cdc_window(self, begin, end, suppress_unchanged)

    # -- bucket rescale (r11) ---------------------------------------------
    def rescale_buckets(self, new_num_buckets: int) -> str | None:
        """Hudi bucket rescale: rewrite every live file group under a
        NEW bucket count — the maintenance commit that keeps file
        groups near their 1-4 GB target as the table grows past the
        creation-time sizing (without it a 100× table has 100× file
        groups' bytes behind a fixed count). One whole-table commit:

        * rows keep their origin ``_commit_time`` (a rescale changes
          no data — CDC windows spanning it emit nothing for its
          instant; the log/tombstone/replace streams are untouched);
        * the manifest records the new count, which becomes the
          AUTHORITATIVE routing for later commits and reads —
          ``_table.json`` is updated post-publish as a cache, healed
          by ``_txn_begin`` if a crash intervenes;
        * time travel keeps working across the boundary for free: an
          old manifest pins both its slice set AND its own count
          (``read_keys(as_of=...)`` routes by the pinned count);
        * under OCC it is a whole-table op: it reads current state
          inside the table lock (never conflicts itself) and any
          in-flight stale-base writer conflicts with its published
          manifest and retries under the new routing.

        Cost: one full-table read + one write of ``new_num_buckets``
        slices — the same O(table) a Hudi clustering/rescale service
        pays, scheduled by the operator, never implicit. Returns the
        rescale commit id, or None when the count is unchanged (or the
        table is empty — the count just repoints)."""
        if new_num_buckets < 1:
            raise ValueError(
                f"num_buckets must be >= 1, got {new_num_buckets}"
            )
        with self._txn():
            if new_num_buckets == self.num_buckets:
                return None
            latest = self.latest_commit()
            if latest is None:
                # empty table: nothing to rewrite, repoint the routing
                self.num_buckets = new_num_buckets
                self._write_meta_update()
                return None
            manifest = self._manifest(latest)
            pairs = [
                (int(b), c)
                for b, c in manifest["slices"].items()
                if c is not None
            ]
            schema = StructType.fromJson(manifest["schema"])
            df = self._read_slices(pairs, schema)
            commit = self._new_commit_id()
            old_n = self.num_buckets
            self.num_buckets = new_num_buckets
            try:
                touched = list(range(new_num_buckets))
                touched_map = (
                    self._write_touched(df, touched, commit)
                    if df is not None
                    else {}
                )
                new_slices = {
                    b: c for b, c in touched_map.items() if c is not None
                }
                col_stats = self._stamp_indexes(
                    new_slices, new_slices, schema
                )
                self._write_manifest(
                    commit, "rescale", new_slices, schema, col_stats
                )
                self._publish(commit)
            except BaseException:
                # nothing published: revert the in-memory routing (the
                # orphan manifest/slices are reaped by the next txn)
                self.num_buckets = old_n
                raise
            self._write_meta_update()
            self._clean()
            return commit

    # -- savepoint / restore support -------------------------------------
    def _verify_reconstructable(self, commit: str) -> None:
        """Raise (the retained-history message) unless every slice the
        commit's manifest references still exists — pure isdir probes,
        no Spark plan. The manifest-pointer design makes this THE
        reconstructability check: a manifest whose slices survive IS
        readable, with no delete rail to re-verify (a manifest pins
        the exact slice set)."""
        for b, c in self._manifest(commit)["slices"].items():
            if c is not None and not os.path.isdir(
                self._slice_path(int(b), c)
            ):
                raise ValueError(
                    f"file slice b={b}/v={c} was removed by the cleaner "
                    "(keep_versions) — raise keep_versions or read "
                    "within retained history"
                )

    # -- maintenance ----------------------------------------------------
    def _clean(self) -> None:
        """P6 cleaner, slice-granular: keep every file slice referenced
        by the last ``keep_versions`` manifests; remove the rest. A
        slice shared by many manifests (untouched group) survives as
        long as ANY retained manifest references it — carry-forward
        makes retention cheap: N versions of a table where commits
        touch b of B groups cost ~(1 + N·b/B)× table bytes, not N×."""
        commits = self.commits()
        retained = commits[-self.keep_versions :]
        # savepoints pin their manifest's whole slice set (r11) —
        # Hudi's cleaner makes the same exception
        retained = sorted(set(retained) | (set(self.savepoints()) & set(commits)))
        referenced: set[tuple[int, str]] = set()
        for c in retained:
            for b, sc in self._manifest(c)["slices"].items():
                if sc is not None:
                    referenced.add((int(b), sc))
        sdir = os.path.join(self.root, "slices")
        if not os.path.isdir(sdir):
            return
        for bname in os.listdir(sdir):
            if not bname.startswith("b="):
                continue
            b = int(bname[2:])
            bdir = os.path.join(sdir, bname)
            for vname in os.listdir(bdir):
                if not vname.startswith("v="):
                    continue
                if (b, vname[2:]) not in referenced:
                    shutil.rmtree(os.path.join(bdir, vname), ignore_errors=True)

    def stats(self) -> dict:
        """Observability for the write-amplification claim: per-commit
        touched-group counts and on-disk slice bytes, so an operator
        can SEE that commit cost tracks batch spread, not table size."""
        out: dict = {"num_buckets": self.num_buckets, "commits": {}}
        prev_slices: dict[str, str | None] = {}
        for c in self.commits():
            m = self._manifest(c)
            touched = [
                int(b)
                for b, sc in m["slices"].items()
                if prev_slices.get(b, "__absent__") != sc
            ]
            prev_slices = m["slices"]
            out["commits"][c] = {
                "op": m["op"],
                "touched_groups": len(touched),
                # recorded at commit time — survives the cleaner
                "bytes_written": m.get("bytes_written", 0),
            }
        return out


def open_any_table(spark: SparkSession, root: str, lock_provider=None):
    """Open a table root as whichever engine wrote it: a BucketedTable
    (``_table.json`` with ``engine: bucketed``) or a
    :class:`..sinks.upsert.KeyedTable` (``_meta.json``). The two
    engines share the streaming/CDC layout contract (``log/c=``,
    ``tombstones/c=``, ``replaces/*.json``, ``_latest`` pointer), so
    callers that only speak that protocol — ``stream_cdc`` and the
    streaming maintained-view drivers — work over both. Both engines
    accept a process-local ``lock_provider`` (P9 OCC)."""
    meta_path = os.path.join(root, "_table.json")
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            meta = json.load(f)
        if meta.get("engine") == "bucketed":
            return BucketedTable.open(spark, root, lock_provider=lock_provider)
    from .upsert import KeyedTable

    return KeyedTable.open(spark, root, lock_provider=lock_provider)
