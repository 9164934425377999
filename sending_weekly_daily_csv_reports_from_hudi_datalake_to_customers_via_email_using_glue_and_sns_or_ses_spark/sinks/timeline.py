"""The commit timeline both table engines share: the Hudi timeline
emulation under :class:`.upsert.KeyedTable` and
:class:`.filegroups.BucketedTable` (SURVEY.md §1.1 — the INC read
pulls rows by commit time from a checkpointed instant).

Layout the timeline owns (each engine adds its own snapshot layout —
``snapshots/`` + ``schema/`` + ``timeline/`` for KeyedTable,
``manifests/`` + ``slices/`` for BucketedTable)::

    root/
      _latest                     (pointer file → current commit; the
                                   flip is the ONE commit point)
      log/c=<commit>/             (rows upserted in that commit — the
                                   incremental/CDC stream)
      tombstones/c=<commit>/      (keys a delete commit dropped)
      replaces/<commit>.json      (post-publish replace-commit markers —
                                   the stream_cdc 'r' lane)
      savepoints/<commit>.json    (instants pinned against the cleaner)
      _staging/<uuid>/            (in-flight parquet writes; moved into
                                   place by one rename each)

Anything a crashed writer left beyond the pointer is an orphan by
definition, and the next transaction reaps it (``_rollback_failed``).
Restore and rollback are the same pointer flip run backwards.
"""

from __future__ import annotations

import json
import logging
import os
import shutil
import uuid
from contextlib import contextmanager
from datetime import datetime, timezone

from pyspark.sql import DataFrame

from ..sources.incremental import COMMIT_COL
from .concurrency import LockAcquireTimeout


def _write_json_atomic(path: str, doc: dict) -> None:
    """The engine's one crash-consistent small-file write idiom (r9
    review: previously copy-pasted at every marker/schema/meta site):
    dump to a dot-tmp sibling, then os.replace — readers see the old
    doc or the new one, never a torn write."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = os.path.join(
        os.path.dirname(path), "." + os.path.basename(path) + ".tmp"
    )
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, path)


def _reap_beyond_pointer(dirpath: str, latest: str | None) -> None:
    """Remove every ``<commit>.json`` marker in ``dirpath`` whose
    commit id is beyond the published pointer — a crashed writer's
    orphan (the pointer flip is the commit point). Shared by every
    marker family _rollback_failed cleans (r9 review)."""
    if not os.path.isdir(dirpath):
        return
    for name in os.listdir(dirpath):
        if not name.endswith(".json") or name.startswith("."):
            continue
        c = name[: -len(".json")]
        if latest is None or c > latest:
            try:
                os.remove(os.path.join(dirpath, name))
            except OSError:
                pass  # already gone: rollback is idempotent


def _reap_dirs_beyond_pointer(
    parent: str, prefix: str, latest: str | None
) -> None:
    """The directory twin of :func:`_reap_beyond_pointer`: remove every
    ``<prefix><commit>`` subdir of ``parent`` (``c=``, ``v=``) whose
    commit id is beyond the published pointer."""
    if not os.path.isdir(parent):
        return
    for name in os.listdir(parent):
        c = name[len(prefix) :]
        if name.startswith(prefix) and (latest is None or c > latest):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)


class Timeline:
    """Commit protocol base: the ``_latest`` pointer, transactions,
    orphan reaping, replace markers, savepoints, restore and rollback.

    A subclass sets ``spark``, ``root``, ``record_key``, ``precombine``,
    ``payload``, ``lock_provider`` and ``lock_timeout_s``, and provides
    its layout: ``instants()`` (published commit ids, oldest first),
    ``_timeline_instants()`` (commit id → op), ``_reap_layout(latest)``
    (its own beyond-pointer orphan families) and
    ``_verify_reconstructable(commit)`` (raise unless the state at
    ``commit`` can still be read)."""

    # -- the pointer ----------------------------------------------------
    def _latest_path(self) -> str:
        return os.path.join(self.root, "_latest")

    def latest_commit(self) -> str | None:
        try:
            with open(self._latest_path()) as f:
                return f.read().strip() or None
        except FileNotFoundError:
            return None

    def _new_commit_id(self) -> str:
        # yyyyMMddHHmmssSSS, strictly increasing even for rapid commits
        ts = datetime.now(timezone.utc).strftime("%Y%m%d%H%M%S%f")[:-3]
        last = self.latest_commit()
        if last is not None and ts <= last:
            ts = str(int(last) + 1).zfill(len(ts))
        return ts

    def _publish(self, commit: str) -> None:
        tmp = self._latest_path() + ".tmp"
        with open(tmp, "w") as f:
            f.write(commit)
        os.replace(tmp, self._latest_path())

    # -- P9: transactions -----------------------------------------------
    @contextmanager
    def _txn(self):
        """Commit-phase critical section. Single-writer mode (no lock
        provider) skips locking — the r1 behavior, near-zero overhead —
        but still rolls back failed writes (a previous crashed run of
        the same single writer can have left orphans). With a provider,
        the conflict check, the merge, the writes and the pointer flip
        all run under the table lock."""
        if self.lock_provider is None:
            self._rollback_failed()
            self._txn_begin()
            yield
            return
        if not self.lock_provider.try_lock(timeout_s=self.lock_timeout_s):
            raise LockAcquireTimeout(
                f"table lock not acquired within {self.lock_timeout_s}s"
            )
        try:
            self._rollback_failed()
            self._txn_begin()
            yield
        finally:
            self.lock_provider.unlock()

    def _txn_begin(self) -> None:
        """Engine state to re-read inside the critical section, after
        the reap and before the transaction body (default: none)."""

    def _rollback_failed(self) -> None:
        """Lazy failed-write cleaning (Hudi pairs OCC with
        hoodie.cleaner.policy.failed.writes=LAZY for exactly this): a
        crashed writer leaves data dirs — and markers, written BEFORE
        the pointer flip so the time-travel rail never misses a
        published delete — NEWER than the published ``_latest``
        pointer. The pointer flip is the commit point, so anything
        beyond the pointer is by definition an uncommitted write. Left
        in place those orphans would (a) be classified by conflict
        detection as completed commits, wedging every later locked
        write in permanent CommitConflictError, and (b) never be
        removed by the cleaner (they are the newest). Runs inside the
        critical section — under the table lock no live writer can be
        mid-write, so anything beyond the pointer is guaranteed dead,
        not in-flight."""
        latest = self.latest_commit()
        self._reap_layout(latest)
        for sub in ("log", "tombstones"):
            _reap_dirs_beyond_pointer(
                os.path.join(self.root, sub), "c=", latest
            )
        # replace markers (a restore moved the pointer back below a
        # published overwrite) and savepoints (dangling after a restore
        # removed the commit they pin). Published overwrites missing
        # their replace marker (crash between the flip and the marker
        # write) are then backfilled — see _record_replace_published.
        for d in (self._replace_marker_dir(), self._savepoint_dir()):
            _reap_beyond_pointer(d, latest)
        self._backfill_replace_markers()
        # abandoned staging dirs (crash mid-parquet-write)
        staging = os.path.join(self.root, "_staging")
        if os.path.isdir(staging):
            shutil.rmtree(staging, ignore_errors=True)

    # -- replace markers (the streaming 'r' lane) -------------------------
    def _replace_marker_dir(self) -> str:
        return os.path.join(self.root, "replaces")

    def _record_replace_published(self, commit: str) -> None:
        """POST-publish replace marker (ADVICE r8 medium): the
        streaming CDC source's 'r' lane reads THIS dir, not the
        timeline — timeline markers are written BEFORE the pointer
        flip (the time-travel rail needs that order), so a crashed,
        never-published overwrite would otherwise stream a phantom 'r'
        that makes replicas WIPE their state and apply the aborted
        batch. A marker here exists only for overwrites at or below
        the published pointer; the crash window between the flip and
        this write is closed by :meth:`_backfill_replace_markers`
        (every transaction start, and every stream open)."""
        _write_json_atomic(
            os.path.join(self._replace_marker_dir(), f"{commit}.json"),
            {"op": "overwrite"},
        )

    def _backfill_replace_markers(self) -> None:
        """Repair the flip→marker crash window (and upgrade tables that
        predate the markers): every PUBLISHED overwrite in the timeline
        gets its post-publish replace marker if missing. Idempotent,
        metadata-only; a marker backfilled late can reach a running
        stream AFTER the commit's 'u' rows — consumers that cannot
        tolerate a late 'r' (see stream_cdc) treat any 'r' as a
        re-seed-from-snapshot signal, which is order-insensitive."""
        latest = self.latest_commit()
        if latest is None:
            return
        have = set()
        rd = self._replace_marker_dir()
        if os.path.isdir(rd):
            have = {
                n[: -len(".json")]
                for n in os.listdir(rd)
                if n.endswith(".json") and not n.startswith(".")
            }
        for c, op in self._timeline_instants().items():
            if op == "overwrite" and c <= latest and c not in have:
                self._record_replace_published(c)

    # -- shared write/merge helpers -------------------------------------
    def _staged_write(
        self, write_fn, final_path: str | dict[str, str]
    ) -> list[str]:
        """Stage a Spark directory write under root/_staging and move it
        into place with one rename per destination — readers (and the
        failed-write scanner) never observe a half-written final dir.
        ``final_path`` is either the one destination of the whole
        staged dir, or a map of staged sub-dir name → destination (a
        ``partitionBy`` write fanning out into several final dirs; a
        sub-dir the write did not produce is skipped). Returns the
        destinations moved into place. rename is atomic on local
        FS/HDFS; on object stores the emulation does not apply (use the
        real-Hudi passthrough there)."""
        staging = os.path.join(self.root, "_staging", uuid.uuid4().hex)
        write_fn(staging)
        moves = (
            {"": final_path} if isinstance(final_path, str) else final_path
        )
        moved = []
        for sub, dst in moves.items():
            src = os.path.join(staging, sub) if sub else staging
            if not os.path.isdir(src):
                continue
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.rmtree(dst, ignore_errors=True)  # overwrite semantics
            os.rename(src, dst)
            moved.append(dst)
        shutil.rmtree(staging, ignore_errors=True)  # a fan-out's leftovers
        try:
            os.rmdir(os.path.dirname(staging))  # drop the empty parent
        except OSError as exc:
            # best-effort tidy-up only: a concurrent writer may still be
            # staging under the same parent — the commit already landed
            logging.getLogger(__name__).debug(
                "staging parent not removed (non-fatal): %s", exc
            )
        return moved

    def _write_log(self, df: DataFrame, commit: str) -> None:
        path = os.path.join(self.root, "log", f"c={commit}")
        out = df.drop(COMMIT_COL)
        self._staged_write(
            lambda p: out.write.mode("overwrite").parquet(p), path
        )

    def _combine(self, versions: DataFrame) -> DataFrame:
        """The payload-dispatching cross-commit merge: given a union of
        materialized state and/or stamped log rows, produce one live
        row per key. overwrite = the P2 rule (larger precombine wins,
        commit breaks ties toward the newer row); partial_update =
        column-independent last-non-null in (commit, precombine) order
        (see KeyedTable's ``payload`` attribute for why arrival order
        leads)."""
        # late: the merge rules live beside the engine that defines them
        from .upsert import _merge_latest, _merge_partial

        if self.payload == "partial_update":
            return _merge_partial(
                versions, self.record_key, [COMMIT_COL, self.precombine]
            )
        return _merge_latest(
            versions, self.record_key, self.precombine, prefer_col=COMMIT_COL
        )

    def _combine_batch(self, batch: DataFrame) -> DataFrame:
        """The within-batch precombine every write applies before it
        stamps a commit (generate_hudi_table.py:119 semantics): one
        row per key, by the payload's rule over the precombine field
        alone — rows of one batch share no commit to order by."""
        from .upsert import _merge_latest, _merge_partial

        if self.payload == "partial_update":
            return _merge_partial(batch, self.record_key, [self.precombine])
        return _merge_latest(batch, self.record_key, self.precombine)

    # -- savepoint / restore / rollback (Hudi table lifecycle) ----------
    def _savepoint_dir(self) -> str:
        return os.path.join(self.root, "savepoints")

    def savepoint(self, commit: str | None = None, name: str | None = None) -> str:
        """Hudi savepoint: pin a committed instant so the cleaner (P6)
        never removes the files needed to read — or :meth:`restore` to —
        its state. Defaults to the latest commit. What the pin keeps is
        the engine's cleaner's business (KeyedTable: the newest
        surviving snapshot ≤ the savepoint; BucketedTable: the pinned
        manifest's slice set)."""
        with self._txn():
            target = commit if commit is not None else self.latest_commit()
            if target is None:
                raise ValueError("cannot savepoint an empty table")
            if target not in self.instants():
                raise ValueError(f"unknown instant: {target!r}")
            # the instant must still be reconstructable NOW — the
            # cleaner may already have eaten the history behind it
            self._verify_reconstructable(target)
            _write_json_atomic(
                os.path.join(self._savepoint_dir(), f"{target}.json"),
                {
                    "name": name,
                    "created_at": datetime.now(timezone.utc).isoformat(),
                },
            )
            return target

    def savepoints(self) -> dict[str, dict]:
        """commit id → savepoint metadata (name, created_at)."""
        sp = self._savepoint_dir()
        if not os.path.isdir(sp):
            return {}
        out: dict[str, dict] = {}
        for fname in os.listdir(sp):
            if not fname.endswith(".json") or fname.startswith("."):
                continue
            with open(os.path.join(sp, fname)) as f:
                out[fname[: -len(".json")]] = json.load(f)
        return out

    def delete_savepoint(self, commit: str) -> None:
        """Unpin an instant; the next clean may collect its history."""
        try:
            os.remove(os.path.join(self._savepoint_dir(), f"{commit}.json"))
        except FileNotFoundError:
            raise ValueError(f"no savepoint at instant {commit!r}") from None

    def restore(self, commit: str) -> str:
        """Hudi restore-to-instant: drop every commit after ``commit``,
        returning the table — snapshot reads, time travel, incremental
        and CDC streams alike — to exactly its state at that instant.
        Typically pointed at a :meth:`savepoint`.

        Crash-safe by construction: after verifying the target is
        reconstructable, the ONLY mutation is the ``_latest`` pointer
        flip — the same commit point every write uses — which instantly
        reclassifies every newer data dir and marker as a
        beyond-pointer orphan; ``_rollback_failed`` (run here and
        lazily by every later transaction) physically removes them. A
        crash at any point leaves either the old table or the restored
        table, never a torn one.

        Caveat (same as Hudi): downstream incremental/CDC checkpoints
        that advanced past ``commit`` now refer to removed history —
        their next read RAISES (sources/incremental.CDCReader) and the
        consumer must reset and re-seed. Commit ids are time-based, so
        post-restore commits normally sort after the removed ones."""
        with self._txn():
            latest = self.latest_commit()
            if latest is None:
                raise ValueError("cannot restore an empty table")
            if commit not in self.instants():
                raise ValueError(f"unknown instant: {commit!r}")
            if commit == latest:
                return commit
            self._verify_reconstructable(commit)
            self._publish(commit)
            self._rollback_failed()
            return commit

    def rollback(self) -> str | None:
        """Hudi rollback: undo the LATEST commit (restore to its
        predecessor). Rolling back the only commit empties the table
        (pointer removed first — the same orphan-reclassification
        commit point as :meth:`restore`). Returns the new latest
        commit, or None when the table is now (or was already) empty."""
        with self._txn():
            latest = self.latest_commit()
            if latest is None:
                return None
            insts = self.instants()
            if len(insts) >= 2:
                prev = insts[-2]
                self._verify_reconstructable(prev)
                self._publish(prev)
                self._rollback_failed()
                return prev
            os.remove(self._latest_path())
            self._rollback_failed()
            return None
