"""Upsert writer semantics (SURVEY.md §2.5 P1/P2/P4/P6; FIXTURES.md §B
test scenarios 1-4)."""

from __future__ import annotations

import os

import pytest

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (
    fixtures,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.filegroups import (
    BucketedTable,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.upsert import (
    KeyedTable,
)


@pytest.fixture()
def table(spark, tmp_path):
    return KeyedTable(
        spark,
        str(tmp_path / "customers"),
        record_key="customer_id",
        precombine="created_at",
    )


def test_first_upsert_is_insert(spark, table):
    c = fixtures.customers(spark, 20)
    table.upsert(c)
    snap = table.snapshot()
    assert snap.count() == 20
    assert snap.select("customer_id").distinct().count() == 20
    assert "_commit_time" in snap.columns


def test_upsert_idempotence(spark, table):
    """Scenario 1: same batch twice ≡ once."""
    c = fixtures.customers(spark, 20)
    table.upsert(c)
    once = sorted(
        tuple(r) for r in table.snapshot().drop("_commit_time").collect()
    )
    table.upsert(c)
    twice = sorted(
        tuple(r) for r in table.snapshot().drop("_commit_time").collect()
    )
    assert once == twice


def test_precombine_larger_wins(spark, table):
    """Scenario 2: same key, larger precombine value wins — even when
    the OLDER value arrives in a LATER commit."""
    old = fixtures.customers(spark, 10, batch=0)
    new = fixtures.customers(spark, 10, batch=5)
    table.upsert(new)
    table.upsert(old)  # stale update arrives late
    snap = table.snapshot()
    assert snap.count() == 10
    # all rows should still be the batch=5 (newer created_at) versions
    max_created = [r["created_at"] for r in new.collect()]
    kept = [r["created_at"] for r in snap.collect()]
    assert sorted(kept) == sorted(max_created)


def test_precombine_within_batch(spark, table):
    """Duplicate keys inside ONE batch: only the largest precombine row
    survives (generate_hudi_table.py:119 combine-before-write)."""
    dup = fixtures.customers(spark, 10, batch=0).unionByName(
        fixtures.customers(spark, 10, batch=3)
    )
    table.upsert(dup)
    snap = table.snapshot()
    assert snap.count() == 10
    newer = {r["created_at"] for r in fixtures.customers(spark, 10, batch=3).collect()}
    assert {r["created_at"] for r in snap.collect()} == newer


def test_delete(spark, table):
    c = fixtures.customers(spark, 10)
    table.upsert(c)
    table.delete(c.limit(3))
    assert table.snapshot().count() == 7


def test_snapshot_as_of_time_travel(spark, tmp_path):
    """Hudi 'as.of.instant' time travel: snapshot(as_of=c) reproduces
    the state captured right after commit c — across COW and MOR, at
    between-commit instants, past-latest (clamps), before-first
    (empty), and through the cleaner via the log; a delete whose
    materialized snapshot the cleaner removed RAISES instead of
    silently resurrecting the deleted keys."""
    for table_type in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = KeyedTable(
            spark,
            str(tmp_path / f"tt_{table_type}"),
            record_key="customer_id",
            precombine="created_at",
            table_type=table_type,
        )
        states, commits = [], []
        for b in range(3):
            commits.append(t.upsert(fixtures.customers(spark, 10, batch=b)))
            states.append(
                sorted(
                    tuple(r)
                    for r in t.snapshot().drop("_commit_time").collect()
                )
            )
        for c, want in zip(commits, states):
            got = sorted(
                tuple(r)
                for r in t.snapshot(as_of=c).drop("_commit_time").collect()
            )
            assert got == want, f"{table_type} as_of={c}"
        # between-commit instant reads the earlier state; past-latest
        # clamps; before-first is empty
        between = commits[0] + "0"  # lexicographically c0 < between < c1
        assert commits[0] < between < commits[1]
        assert sorted(
            tuple(r)
            for r in t.snapshot(as_of=between).drop("_commit_time").collect()
        ) == states[0]
        assert sorted(
            tuple(r)
            for r in t.snapshot(as_of="99999999999999999")
            .drop("_commit_time")
            .collect()
        ) == states[-1]
        assert t.snapshot(as_of="0").count() == 0

    # through the cleaner: 5 COW commits with keep_versions=3 — the
    # first commits' snapshot dirs are gone, but the log reconstructs
    t2 = KeyedTable(
        spark,
        str(tmp_path / "tt_cleaned"),
        record_key="customer_id",
        precombine="created_at",
    )
    cs, sts = [], []
    for b in range(5):
        cs.append(t2.upsert(fixtures.customers(spark, 5, batch=b)))
        sts.append(
            sorted(
                tuple(r)
                for r in t2.snapshot().drop("_commit_time").collect()
            )
        )
    assert len(t2.commits()) == 3  # cleaner ran
    assert sorted(
        tuple(r)
        for r in t2.snapshot(as_of=cs[1]).drop("_commit_time").collect()
    ) == sts[1]

    # deletes: retained history reads fine; a cleaned delete RAISES
    t3 = KeyedTable(
        spark,
        str(tmp_path / "tt_del"),
        record_key="customer_id",
        precombine="created_at",
        keep_versions=1,
    )
    c_ins = t3.upsert(fixtures.customers(spark, 10))
    c_del = t3.delete(fixtures.customers(spark, 10).limit(3))
    assert t3.snapshot(as_of=c_del).count() == 7  # delete dir survives
    # pre-delete instant: reconstructable from the log alone
    assert t3.snapshot(as_of=c_ins).count() == 10
    t3.upsert(fixtures.customers(spark, 10, batch=1))
    t3.upsert(fixtures.customers(spark, 10, batch=2))  # cleans c_del dir
    assert c_del not in t3.commits()
    with pytest.raises(ValueError, match="delete"):
        t3.snapshot(as_of=c_del)
    # but instants at/after a SURVIVING snapshot still read fine
    assert t3.snapshot().count() == 10


def test_delete_crash_window_marker_before_publish(spark, tmp_path):
    """The delete commit protocol writes its timeline marker BEFORE
    the pointer flip (a published delete must never be invisible to
    the time-travel rail). The residual crash window — marker + dirs
    written, publish never happened — leaves a beyond-pointer marker:
    reads ignore it (bounded at the pointer) and the next write's
    lazy rollback removes it with the orphan dirs."""
    t = KeyedTable(
        spark,
        str(tmp_path / "crash_del"),
        record_key="customer_id",
        precombine="created_at",
    )
    t.upsert(fixtures.customers(spark, 10))
    latest = t.latest_commit()
    # simulate the crash: a delete attempt that wrote its snapshot and
    # marker but died before _publish
    orphan = str(int(latest) + 7).zfill(len(latest))
    t._write_snapshot(t.snapshot().limit(4), orphan)
    t._record_instant(orphan, "delete")
    assert t.snapshot().count() == 10  # reads bound at the pointer
    assert t.snapshot(as_of=latest).count() == 10
    # the next write rolls the orphan attempt back entirely
    t.upsert(fixtures.customers(spark, 10, batch=1))
    assert orphan not in t.commits()
    assert orphan not in t._timeline_instants()
    assert t.snapshot().count() == 10


def test_cleaner_keeps_n_versions(spark, table):
    for b in range(5):
        table.upsert(fixtures.customers(spark, 5, batch=b))
    assert len(table.commits()) == table.keep_versions
    # latest snapshot still readable after cleaning
    assert table.snapshot().count() == 5


def test_partitioned_layout(spark, tmp_path):
    """Scenario 4: hive-style partition dirs exist and a partition
    filter prunes (generate_hudi_table.py:144-148 emulation)."""
    t = KeyedTable(
        spark,
        str(tmp_path / "part_customers"),
        record_key="customer_id",
        precombine="created_at",
        partition_cols=["state"],
    )
    t.upsert(fixtures.customers(spark, 40))
    snap_dir = os.path.join(t.root, "snapshots", f"v={t.latest_commit()}")
    assert any(d.startswith("state=") for d in os.listdir(snap_dir))
    snap = t.snapshot()
    plan = snap.filter(snap.state == "NY")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(state" in plan or "state=NY" in plan


def test_log_carries_commit_stream(spark, table):
    """The per-commit log is the incremental/CDC source: each commit's
    rows appear once, stamped with that commit id."""
    c1 = table.upsert(fixtures.customers(spark, 5, batch=0))
    c2 = table.upsert(fixtures.customers(spark, 5, batch=1))
    log = table.log()
    counts = {r["_commit_time"]: r["n"] for r in
              log.groupBy("_commit_time").count().withColumnRenamed("count", "n").collect()}
    assert counts == {c1: 5, c2: 5}


def test_upsert_random_batches_property(spark, tmp_path):
    """Property-style check over randomized batch sequences (seeded):
    after any sequence of upserts, (a) keys are unique, (b) every key
    holds the max precombine value ever written for it."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(1234)
    t = KeyedTable(
        spark,
        str(tmp_path / "prop"),
        record_key="customer_id",
        precombine="created_at",
    )
    best: dict[str, object] = {}
    for _ in range(4):
        n = rng.randint(1, 25)
        batch_shift = rng.randint(0, 10)
        batch = fixtures.customers(spark, n, batch=batch_shift)
        for r in batch.collect():
            k, v = r["customer_id"], r["created_at"]
            if k not in best or v > best[k]:
                best[k] = v
        t.upsert(batch)

    snap = {r["customer_id"]: r["created_at"] for r in t.snapshot().collect()}
    assert len(snap) == t.snapshot().select("customer_id").distinct().count()
    assert snap == best


def test_hudi_passthrough_options(spark, tmp_path):
    """The hoodie.* option map mirrors the reference writer's surface
    (generate_hudi_table.py:114-203); without Hudi jars write_hudi is a
    clean no-op fallback."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.upsert import (
        hudi_available,
        hudi_write_options,
        write_hudi,
    )

    opts = hudi_write_options(
        "customers", "customer_id", "created_at", partition_cols=["state"]
    )
    assert opts["hoodie.datasource.write.recordkey.field"] == "customer_id"
    assert opts["hoodie.datasource.write.precombine.field"] == "created_at"
    assert opts["hoodie.datasource.write.partitionpath.field"] == "state"
    assert opts["hoodie.cleaner.policy"] == "KEEP_LATEST_FILE_VERSIONS"

    df = fixtures.customers(spark, 3)
    if not hudi_available(spark):
        assert write_hudi(df, str(tmp_path / "hudi_tbl"), opts) is False
    else:  # environment with jars: the write must succeed
        assert write_hudi(df, str(tmp_path / "hudi_tbl"), opts) is True


# -- MERGE_ON_READ emulation (P3 read half, VERDICT r1 missing #2) -----


def _sorted_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_mor_snapshot_equals_cow(spark, tmp_path):
    """Two upserts into a MOR table read back (log-merge) exactly what a
    COW table materializes for the same batches."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (
        fixtures,
    )

    b1 = fixtures.orders(spark, 40, batch=0)
    b2 = fixtures.orders(spark, 25, batch=1)
    cow = KeyedTable(
        spark, str(tmp_path / "cow"), record_key="order_id", precombine="order_date"
    )
    mor = KeyedTable(
        spark,
        str(tmp_path / "mor"),
        record_key="order_id",
        precombine="order_date",
        table_type="MERGE_ON_READ",
    )
    for b in (b1, b2):
        cow.upsert(b)
        mor.upsert(b)
    # MOR writes logs only — no snapshot dirs until compaction
    assert mor.commits() == []
    cow_rows = _sorted_rows(cow.snapshot().drop("_commit_time"))
    mor_rows = _sorted_rows(mor.snapshot().drop("_commit_time"))
    assert mor_rows == cow_rows


def test_mor_compaction_preserves_state(spark, tmp_path):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (
        fixtures,
    )

    mor = KeyedTable(
        spark,
        str(tmp_path / "mor2"),
        record_key="order_id",
        precombine="order_date",
        table_type="MERGE_ON_READ",
    )
    mor.upsert(fixtures.orders(spark, 30, batch=0))
    before = _sorted_rows(mor.snapshot())
    commit = mor.compact()
    assert commit == mor.latest_commit()
    assert mor.commits() == [commit]  # base materialized
    assert _sorted_rows(mor.snapshot()) == before
    # post-compaction upsert goes to the log; read merges base + delta
    mor.upsert(fixtures.orders(spark, 10, batch=5))
    assert mor.snapshot().count() >= 30


def test_open_table_from_meta(spark, tmp_path):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark import (
        fixtures,
    )

    t = KeyedTable(
        spark,
        str(tmp_path / "meta_t"),
        record_key="order_id",
        precombine="order_date",
        table_type="MERGE_ON_READ",
    )
    t.upsert(fixtures.orders(spark, 12))
    reopened = KeyedTable.open(spark, t.root)
    assert reopened.record_key == "order_id"
    assert reopened.table_type == "MERGE_ON_READ"
    assert reopened.snapshot().count() == t.snapshot().count()


# -- P9: optimistic concurrency control ---------------------------------


def test_occ_conflict_on_overlapping_keys(spark, tmp_path):
    """Hudi OCC semantics: a writer whose base instant predates a
    concurrent commit that touched one of its keys gets
    CommitConflictError; a retry (fresh base instant) succeeds."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        CommitConflictError,
        InProcessLockProvider,
    )

    lock = InProcessLockProvider()
    root = str(tmp_path / "occ")
    a = KeyedTable(
        spark, root, record_key="customer_id", precombine="created_at",
        lock_provider=lock,
    )
    a.upsert(fixtures.customers(spark, 10, batch=0))

    # writer A starts a transaction (captures its base instant) ...
    base = a.latest_commit()
    incoming = fixtures.customers(spark, 10, batch=2)
    # ... writer B lands an overlapping commit first
    b = KeyedTable.open(spark, root, lock_provider=lock)
    b.upsert(fixtures.customers(spark, 5, batch=1))

    with pytest.raises(CommitConflictError) as exc:
        with a._txn():
            a._check_conflict(base, incoming)
    assert exc.value.n_overlapping == 5

    # retry with a fresh base instant: no conflict, precombine rules apply
    a.upsert(incoming)
    snap = a.snapshot()
    assert snap.count() == 10
    assert snap.filter(snap.created_at >= "2024-01-03").count() == 10


def test_occ_nonoverlapping_commits_rebase(spark, tmp_path):
    """Concurrent commits on DISJOINT keys are not conflicts — the
    later writer rebases onto them and both writes survive."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        InProcessLockProvider,
    )
    from pyspark.sql import functions as F

    lock = InProcessLockProvider()
    root = str(tmp_path / "occ2")
    a = KeyedTable(
        spark, root, record_key="customer_id", precombine="created_at",
        lock_provider=lock,
    )
    c = fixtures.customers(spark, 40).withColumn(
        "num", F.substring("customer_id", 6, 10).cast("int")
    )
    low, high = c.filter("num < 20").drop("num"), c.filter("num >= 20").drop("num")
    a.upsert(low)
    base = a.latest_commit()
    b = KeyedTable.open(spark, root, lock_provider=lock)
    b.upsert(high)  # B commits disjoint keys
    # A's stale-base transaction passes the conflict check and rebases
    more_low = fixtures.customers(spark, 5, batch=3)
    with a._txn():
        a._check_conflict(base, more_low)  # must NOT raise
    a.upsert(more_low)
    assert a.snapshot().count() == 40


def test_occ_whole_table_commit_conflicts(spark, tmp_path):
    """Commits without a key manifest (deletes rewrite the whole
    snapshot) conservatively conflict with any in-flight transaction."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        CommitConflictError,
        InProcessLockProvider,
    )

    lock = InProcessLockProvider()
    root = str(tmp_path / "occ3")
    a = KeyedTable(
        spark, root, record_key="customer_id", precombine="created_at",
        lock_provider=lock,
    )
    a.upsert(fixtures.customers(spark, 10))
    base = a.latest_commit()
    b = KeyedTable.open(spark, root, lock_provider=lock)
    b.delete(fixtures.customers(spark, 3))
    with pytest.raises(CommitConflictError):
        with a._txn():
            a._check_conflict(base, fixtures.customers(spark, 2, batch=1))


def test_occ_threaded_writers_serialize(spark, tmp_path):
    """Two threads upserting concurrently through a shared lock: every
    commit id is unique, all keys land, retry-on-conflict converges."""
    import threading

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        CommitConflictError,
        InProcessLockProvider,
    )

    lock = InProcessLockProvider()
    root = str(tmp_path / "occ4")
    KeyedTable(
        spark, root, record_key="customer_id", precombine="created_at",
        lock_provider=lock,
    )
    commits, errors = [], []

    def writer(batch: int) -> None:
        t = KeyedTable.open(spark, root, lock_provider=lock)
        df = fixtures.customers(spark, 15, batch=batch)
        for _ in range(4):  # retry loop — the documented OCC caller contract
            try:
                commits.append(t.upsert(df))
                return
            except CommitConflictError:
                continue
        errors.append(f"batch {batch} never committed")

    threads = [threading.Thread(target=writer, args=(i,)) for i in (1, 2, 3)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors
    assert len(commits) == 3 and len(set(commits)) == 3
    final = KeyedTable.open(spark, root)
    assert final.snapshot().count() == 15
    # precombine: the largest batch's created_at must have won
    assert final.snapshot().filter("created_at >= '2024-01-04'").count() == 15


def test_filesystem_lock_provider(tmp_path):
    """Atomic-create mutual exclusion + stale-lock TTL break."""
    import time as _time

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        FileSystemLockProvider,
    )

    path = str(tmp_path / "table.lock")
    l1 = FileSystemLockProvider(path)
    l2 = FileSystemLockProvider(path)
    assert l1.try_lock(timeout_s=1)
    assert not l2.try_lock(timeout_s=0.3)  # held → timeout
    l1.unlock()
    assert l2.try_lock(timeout_s=1)
    l2.unlock()

    # liveness: a SLOW holder (commit outlasting the TTL) keeps its
    # lock — the heartbeat refreshes mtime, so waiters can't break it
    # mid-critical-section (ADVICE r2)
    slow = FileSystemLockProvider(path, ttl_s=0.2)
    assert slow.try_lock(timeout_s=1)
    _time.sleep(0.5)  # > 2 TTLs of "work"
    waiter = FileSystemLockProvider(path, ttl_s=0.2)
    assert not waiter.try_lock(timeout_s=0.5)
    slow.unlock()

    # stale break: a CRASHED holder (heartbeat dead with the process)
    # has its lock broken after the TTL
    stale = FileSystemLockProvider(path, ttl_s=0.2)
    assert stale.try_lock(timeout_s=1)
    stale._hb_stop.set()  # simulate process death: heartbeat stops
    stale._hb_thread.join(timeout=5)
    _time.sleep(0.3)
    taker = FileSystemLockProvider(path, ttl_s=0.2)
    assert taker.try_lock(timeout_s=1)
    # the zombie's unlock must not remove the successor's lock
    stale.unlock()
    assert not FileSystemLockProvider(path, ttl_s=0).try_lock(timeout_s=0.2)
    taker.unlock()


def test_occ_delete_conflict_survives_cleaner(spark, tmp_path):
    """The durable timeline marker keeps a concurrent delete visible to
    conflict detection even after the cleaner (keep_versions=1) removed
    its snapshot dir — the stale writer must still get a conflict."""
    import os as _os

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        CommitConflictError,
        InProcessLockProvider,
    )

    lock = InProcessLockProvider()
    t = KeyedTable(
        spark, str(tmp_path / "occ5"), record_key="customer_id",
        precombine="created_at", keep_versions=1, lock_provider=lock,
    )
    t.upsert(fixtures.customers(spark, 10))
    base = t.latest_commit()
    del_commit = t.delete(fixtures.customers(spark, 2))
    t.upsert(fixtures.customers(spark, 10, batch=1))
    t.upsert(fixtures.customers(spark, 10, batch=2))
    # the cleaner really removed the delete's snapshot dir ...
    assert not _os.path.isdir(
        _os.path.join(t.root, "snapshots", f"v={del_commit}")
    )
    # ... but the stale transaction still conflicts on it
    with pytest.raises(CommitConflictError):
        with t._txn():
            t._check_conflict(base, fixtures.customers(spark, 1, batch=3))


def test_filesystem_lock_non_owner_unlock_is_noop(tmp_path):
    """unlock() releases only the caller's own lock (ownership token):
    a stranger's unlock must not free a held lock."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        FileSystemLockProvider,
    )

    path = str(tmp_path / "t.lock")
    holder = FileSystemLockProvider(path)
    stranger = FileSystemLockProvider(path)
    assert holder.try_lock(timeout_s=1)
    stranger.unlock()  # must NOT release holder's lock
    assert not stranger.try_lock(timeout_s=0.3)
    holder.unlock()
    assert stranger.try_lock(timeout_s=1)
    stranger.unlock()


# -- crash safety (ADVICE r2: publish-pointer authority + failed-write
# -- rollback) --------------------------------------------------------


def _orphan_snapshot(spark, t: KeyedTable, rows) -> str:
    """Simulate a writer that crashed after materializing a snapshot but
    BEFORE publishing: a snapshots/v=<newer> dir with no _latest flip,
    no log entry, no timeline marker."""
    orphan = str(int(t.latest_commit()) + 7)
    rows.write.mode("overwrite").parquet(
        os.path.join(t.root, "snapshots", f"v={orphan}")
    )
    return orphan


def test_unpublished_snapshot_not_adopted_as_base(spark, tmp_path):
    """Readers must trust the _latest pointer, not directory listing: a
    crashed writer's unpublished snapshot (e.g. an uncommitted delete)
    must stay invisible (ADVICE r2 high)."""
    t = KeyedTable(
        spark, str(tmp_path / "crash1"), record_key="customer_id",
        precombine="created_at",
    )
    t.upsert(fixtures.customers(spark, 20))
    # crashed delete: snapshot with only 5 rows, never published
    _orphan_snapshot(spark, t, fixtures.customers(spark, 5))
    assert t.snapshot().count() == 20  # pointer state, not the orphan


def test_unpublished_log_rows_invisible(spark, tmp_path):
    """A crashed MOR append (log dir beyond the pointer) must not leak
    into snapshot() or the incremental change stream."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sources.incremental import (
        read_commit_log,
    )

    t = KeyedTable(
        spark, str(tmp_path / "crash2"), record_key="customer_id",
        precombine="created_at", table_type="MERGE_ON_READ",
    )
    t.upsert(fixtures.customers(spark, 10))
    orphan = str(int(t.latest_commit()) + 3)
    fixtures.customers(spark, 30, batch=9).write.mode("overwrite").parquet(
        os.path.join(t.root, "log", f"c={orphan}")
    )
    assert t.snapshot().count() == 10
    log = read_commit_log(spark, t.root)
    assert log.filter(log["_commit_time"] == orphan).count() == 0


def test_occ_orphan_rolled_back_not_wedged(spark, tmp_path):
    """The OCC wedge (ADVICE r2 medium): an orphan commit dir must be
    classified as a failed write and rolled back under the lock — the
    next upsert succeeds instead of raising CommitConflictError
    forever."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        InProcessLockProvider,
    )

    t = KeyedTable(
        spark, str(tmp_path / "crash3"), record_key="customer_id",
        precombine="created_at", lock_provider=InProcessLockProvider(),
    )
    t.upsert(fixtures.customers(spark, 10))
    orphan = _orphan_snapshot(spark, t, fixtures.customers(spark, 10, batch=1))
    # would raise CommitConflictError (whole-table, no manifest) before
    # the rollback fix; now the orphan is cleaned and the write lands
    c = t.upsert(fixtures.customers(spark, 10, batch=2))
    assert c == t.latest_commit()
    assert not os.path.isdir(
        os.path.join(t.root, "snapshots", f"v={orphan}")
    )
    assert t.snapshot().count() == 10
    # batch=2 won (later created_at)
    assert t.snapshot().filter("created_at >= '2024-01-03'").count() == 10


@pytest.mark.parametrize(
    "engine", [KeyedTable, BucketedTable], ids=["keyed", "bucketed"]
)
def test_staging_leftovers_cleaned(spark, tmp_path, engine):
    """A crash mid-parquet-write leaves only a _staging dir (never a
    half-written final dir); the next transaction clears it. The reap
    is the shared timeline's, so both engines must pass."""
    t = engine(
        spark, str(tmp_path / "crash4"), record_key="customer_id",
        precombine="created_at",
    )
    t.upsert(fixtures.customers(spark, 5))
    junk = os.path.join(t.root, "_staging", "deadbeef")
    os.makedirs(junk)
    with open(os.path.join(junk, "part-0.parquet"), "w") as f:
        f.write("torn")
    t.upsert(fixtures.customers(spark, 5, batch=1))
    assert not os.path.isdir(os.path.join(t.root, "_staging"))
    assert t.snapshot().count() == 5


# -- CDC / savepoint / restore / rollback (Hudi table lifecycle) --------


def _kv_df(spark, rows):
    return spark.createDataFrame(rows, "k int, pre int, v string")


def _lifecycle_table(spark, tmp_path, name="cdc", **kw):
    kw.setdefault("keep_versions", 10)
    return KeyedTable(
        spark, str(tmp_path / name), record_key="k", precombine="pre", **kw
    )


def test_cdc_ops_and_images(spark, tmp_path):
    """The op taxonomy end-to-end: insert, merge-winning update,
    merge-LOSING update (suppressed by default, visible as a no-op 'u'
    with suppress_unchanged=False), delete with before-image, and
    re-insert after delete classified as 'i' (not 'u')."""
    t = _lifecycle_table(spark, tmp_path)
    t.upsert(_kv_df(spark, [(1, 10, "a"), (2, 10, "b")]))
    c2 = t.upsert(_kv_df(spark, [(1, 20, "a2"), (3, 5, "c"), (2, 5, "stale")]))
    t.delete(spark.createDataFrame([(1,)], "k int"))
    t.upsert(_kv_df(spark, [(1, 1, "reborn"), (3, 50, "c2")]))

    rows = {
        (r["k"], r["_commit_time"]): r
        for r in t.cdc().collect()
    }
    insts = t.instants()
    assert len(rows) == 7
    assert rows[(1, insts[0])]["_change_op"] == "i"
    assert rows[(1, insts[0])]["_before"] is None
    assert rows[(1, insts[1])]["_change_op"] == "u"
    assert rows[(1, insts[1])]["_before"]["v"] == "a"
    assert rows[(1, insts[1])]["_after"]["v"] == "a2"
    # key 2's stale update lost the precombine merge → suppressed
    assert (2, insts[1]) not in rows
    assert rows[(1, insts[2])]["_change_op"] == "d"
    assert rows[(1, insts[2])]["_before"]["v"] == "a2"
    assert rows[(1, insts[2])]["_after"] is None
    # re-insert after delete is an insert, not an update
    assert rows[(1, insts[3])]["_change_op"] == "i"
    assert rows[(1, insts[3])]["_before"] is None

    noop = [
        r
        for r in t.cdc(suppress_unchanged=False).collect()
        if r["k"] == 2 and r["_commit_time"] == insts[1]
    ]
    assert len(noop) == 1 and noop[0]["_change_op"] == "u"
    assert noop[0]["_before"] == noop[0]["_after"]

    # windowed read: before-images come from the as-of-begin state
    win = {
        (r["k"], r["_commit_time"]): r for r in t.cdc(begin=c2).collect()
    }
    assert set(win) == {
        (1, insts[2]),
        (1, insts[3]),
        (3, insts[3]),
    }
    assert win[(3, insts[3])]["_change_op"] == "u"
    assert win[(3, insts[3])]["_before"]["v"] == "c"


def _brute_cdc(t):
    """Reference CDC: per-instant snapshot value-diffs."""
    expected = []
    prev: dict = {}
    for c in t.instants():
        snap = t._snapshot_as_of(c)
        cur = {
            r["k"]: (r["pre"], r["v"])
            for r in snap.collect()
        }
        for k in cur.keys() - prev.keys():
            expected.append((k, c, "i", None, cur[k]))
        for k in prev.keys() - cur.keys():
            expected.append((k, c, "d", prev[k], None))
        for k in cur.keys() & prev.keys():
            if cur[k] != prev[k]:
                expected.append((k, c, "u", prev[k], cur[k]))
        prev = cur
    return sorted(expected)


@pytest.mark.slow
@pytest.mark.parametrize("table_type", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_cdc_matches_bruteforce_snapshot_diffs(spark, tmp_path, table_type):
    """Property: over a seeded random upsert/delete history, cdc() is
    exactly the per-instant snapshot value-diff — both table types."""
    import random

    rng = random.Random(42)
    t = _lifecycle_table(spark, tmp_path, name=table_type, table_type=table_type)
    for step in range(7):
        live = t.snapshot()
        live_keys = (
            [r["k"] for r in live.select("k").collect()] if live is not None else []
        )
        if step in (3, 5) and live_keys:
            victims = rng.sample(live_keys, k=max(1, len(live_keys) // 3))
            t.delete(spark.createDataFrame([(k,) for k in victims], "k int"))
        else:
            batch = [
                (rng.randrange(8), rng.randrange(100), f"v{step}.{i}")
                for i in range(rng.randrange(1, 6))
            ]
            t.upsert(_kv_df(spark, batch))

    got = sorted(
        (
            r["k"],
            r["_commit_time"],
            r["_change_op"],
            tuple(r["_before"]) if r["_before"] is not None else None,
            tuple(r["_after"]) if r["_after"] is not None else None,
        )
        for r in t.cdc().collect()
    )
    assert got == _brute_cdc(t)

    # windowed reads partition the full stream at every instant boundary
    insts = t.instants()
    mid = insts[len(insts) // 2]
    head = {
        (r["k"], r["_commit_time"]) for r in t.cdc(end=mid).collect()
    }
    tail = {
        (r["k"], r["_commit_time"]) for r in t.cdc(begin=mid).collect()
    }
    assert head | tail == {(k, c) for k, c, *_ in got}
    assert not head & tail


def test_cdc_cleaned_delete_history(spark, tmp_path):
    """Deleted-key fabrication survives the cleaner on tombstone-vintage
    tables (the delete recorded its dropped keys); a pre-tombstone
    table falls back to the neighbouring-snapshot diff and hits the
    same retained-history rail as time travel — raise, never
    resurrect."""
    import shutil

    t = _lifecycle_table(spark, tmp_path, keep_versions=1)
    t.upsert(_kv_df(spark, [(1, 1, "a"), (2, 1, "b")]))
    d = t.delete(spark.createDataFrame([(1,)], "k int"))
    t.upsert(_kv_df(spark, [(3, 1, "c")]))
    t.upsert(_kv_df(spark, [(4, 1, "d")]))  # cleaner eats the delete snapshot
    rows = {(r["k"], r["_commit_time"]): r for r in t.cdc().collect()}
    assert rows[(1, d)]["_change_op"] == "d"
    assert rows[(1, d)]["_before"]["v"] == "a"
    # pre-tombstone vintage: remove the tombstone log → fallback rails
    shutil.rmtree(os.path.join(t.root, "tombstones"))
    with pytest.raises(ValueError, match="cleaner"):
        t.cdc().collect()


def test_savepoint_protects_history_from_cleaner(spark, tmp_path):
    """keep_versions=1 with churn would normally clean everything old;
    a savepoint keeps its instant readable (time travel) and restorable
    forever."""
    t = _lifecycle_table(spark, tmp_path, keep_versions=1)
    t.upsert(_kv_df(spark, [(1, 1, "a")]))
    sp = t.upsert(_kv_df(spark, [(2, 1, "b")]))
    t.savepoint(sp, name="weekly")
    for i in range(4):
        t.upsert(_kv_df(spark, [(9, i, f"x{i}")]))
    assert t.savepoints()[sp]["name"] == "weekly"
    state = sorted(
        (r["k"], r["v"]) for r in t.snapshot(as_of=sp).collect()
    )
    assert state == [(1, "a"), (2, "b")]
    t.restore(sp)
    assert t.latest_commit() == sp
    assert sorted(
        (r["k"], r["v"]) for r in t.snapshot().collect()
    ) == [(1, "a"), (2, "b")]


def test_savepoint_delete_rail_stays_closed(spark, tmp_path):
    """A savepoint BEHIND a delete: the delete's snapshot is ≤ later
    savepoints' bases, and the savepoint probe guarantees its window
    has no cleaned deletes — churn must never break the savepointed
    read."""
    t = _lifecycle_table(spark, tmp_path, keep_versions=1)
    t.upsert(_kv_df(spark, [(1, 1, "a"), (2, 1, "b")]))
    t.delete(spark.createDataFrame([(1,)], "k int"))
    sp = t.upsert(_kv_df(spark, [(3, 1, "c")]))
    t.savepoint(sp)
    for i in range(4):
        t.upsert(_kv_df(spark, [(9, i, f"x{i}")]))
    assert sorted(r["k"] for r in t.snapshot(as_of=sp).collect()) == [2, 3]


def test_savepoint_validation(spark, tmp_path):
    t = _lifecycle_table(spark, tmp_path)
    with pytest.raises(ValueError, match="empty"):
        t.savepoint()
    c1 = t.upsert(_kv_df(spark, [(1, 1, "a")]))
    with pytest.raises(ValueError, match="unknown instant"):
        t.savepoint("19990101000000000")
    t.savepoint()  # defaults to latest
    assert list(t.savepoints()) == [c1]
    t.delete_savepoint(c1)
    assert t.savepoints() == {}
    with pytest.raises(ValueError, match="no savepoint"):
        t.delete_savepoint(c1)


def test_restore_truncates_history(spark, tmp_path):
    """Restore drops every newer commit from EVERY read path: snapshot,
    instants, the incremental log stream, and CDC; new writes then
    continue from the restored instant."""
    t = _lifecycle_table(spark, tmp_path)
    t.upsert(_kv_df(spark, [(1, 1, "a")]))
    c2 = t.upsert(_kv_df(spark, [(2, 1, "b")]))
    t.upsert(_kv_df(spark, [(1, 9, "a-new"), (3, 1, "c")]))
    t.delete(spark.createDataFrame([(2,)], "k int"))
    t.restore(c2)
    assert t.latest_commit() == c2
    assert len(t.instants()) == 2
    assert sorted(
        (r["k"], r["v"]) for r in t.snapshot().collect()
    ) == [(1, "a"), (2, "b")]
    assert t.log().select("_commit_time").distinct().count() == 2
    assert t.cdc().count() == 2  # two inserts
    assert t.savepoints() == {}
    # table remains writable; restore to an unknown instant refuses
    t.upsert(_kv_df(spark, [(4, 1, "d")]))
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 2, 4]
    with pytest.raises(ValueError, match="unknown instant"):
        t.restore("19990101000000000")


def test_restore_removes_dangling_savepoints(spark, tmp_path):
    t = _lifecycle_table(spark, tmp_path)
    c1 = t.upsert(_kv_df(spark, [(1, 1, "a")]))
    c2 = t.upsert(_kv_df(spark, [(2, 1, "b")]))
    t.savepoint(c2)
    t.restore(c1)
    assert t.savepoints() == {}
    assert t.latest_commit() == c1


def test_rollback_last_commit_and_to_empty(spark, tmp_path):
    t = _lifecycle_table(spark, tmp_path)
    c1 = t.upsert(_kv_df(spark, [(1, 1, "a")]))
    t.upsert(_kv_df(spark, [(2, 1, "b")]))
    assert t.rollback() == c1
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1]
    assert t.rollback() is None
    assert t.snapshot() is None
    assert t.instants() == []
    assert t.rollback() is None  # idempotent on empty
    # the emptied table accepts fresh history
    t.upsert(_kv_df(spark, [(5, 1, "e")]))
    assert sorted(r["k"] for r in t.snapshot().collect()) == [5]


def test_restore_mor_table(spark, tmp_path):
    """MOR restore: log truncation alone must carry the state back
    (upserts live only in the log until compaction)."""
    t = _lifecycle_table(
        spark, tmp_path, name="mor", table_type="MERGE_ON_READ"
    )
    t.upsert(_kv_df(spark, [(1, 1, "a")]))
    c2 = t.upsert(_kv_df(spark, [(2, 1, "b")]))
    t.upsert(_kv_df(spark, [(1, 5, "a-new")]))
    t.compact()
    t.restore(c2)
    assert sorted(
        (r["k"], r["v"]) for r in t.snapshot().collect()
    ) == [(1, "a"), (2, "b")]


# -- schema evolution (late r7) -----------------------------------------


def test_schema_evolution_cow(spark, tmp_path):
    """Adding a nullable column mid-history: old rows read NULL, the
    log serves all commits under the evolved schema with no footer
    sweep, and an incoming batch MISSING a column NULLs it on win
    (overwrite-payload semantics, Hudi reconcile)."""
    t = _lifecycle_table(spark, tmp_path, name="evo")
    t.upsert(_kv_df(spark, [(1, 1, "a"), (2, 1, "b")]))
    t.upsert(
        spark.createDataFrame(
            [(3, 1, "c", "new"), (1, 5, "a2", "x")],
            "k int, pre int, v string, w string",
        )
    )
    snap = {r["k"]: (r["v"], r["w"]) for r in t.snapshot().collect()}
    assert snap == {1: ("a2", "x"), 2: ("b", None), 3: ("c", "new")}
    # the log stream carries every commit in the evolved shape
    log = t.log()
    assert "w" in log.columns
    assert log.count() == 4
    # incoming batch missing v: the winner's v becomes NULL
    t.upsert(
        spark.createDataFrame([(2, 9, "later")], "k int, pre int, w string")
    )
    row = {r["k"]: (r["v"], r["w"]) for r in t.snapshot().collect()}[2]
    assert row == (None, "later")


def test_schema_evolution_mor_and_reopen(spark, tmp_path):
    """MOR: evolution lives only in the log until compaction; the
    read-time merge NULL-fills the pre-evolution base, compaction
    materializes the evolved schema, and a reopened root keeps it."""
    t = _lifecycle_table(
        spark, tmp_path, name="evomor", table_type="MERGE_ON_READ"
    )
    t.upsert(_kv_df(spark, [(1, 1, "a")]))
    t.compact()  # pre-evolution base snapshot
    t.upsert(
        spark.createDataFrame(
            [(2, 1, "b", 7)], "k int, pre int, v string, z int"
        )
    )
    snap = {r["k"]: (r["v"], r["z"]) for r in t.snapshot().collect()}
    assert snap == {1: ("a", None), 2: ("b", 7)}
    t.compact()
    reopened = KeyedTable.open(spark, t.root)
    snap = {r["k"]: (r["v"], r["z"]) for r in reopened.snapshot().collect()}
    assert snap == {1: ("a", None), 2: ("b", 7)}
    assert [f.name for f in reopened.table_schema().fields] == [
        "k",
        "pre",
        "v",
        "z",
    ]


def test_schema_evolution_cdc_and_replication(spark, tmp_path):
    """CDC across an evolution boundary: pre-evolution before-images
    NULL-fill the new column (including the as-of-begin seed), and the
    apply loop carries the replica through the widening."""
    src = _lifecycle_table(spark, tmp_path, name="evosrc")
    dst = _lifecycle_table(spark, tmp_path, name="evodst")
    c1 = src.upsert(_kv_df(spark, [(1, 1, "a")]))
    dst.apply_cdc(src.cdc())
    src.upsert(
        spark.createDataFrame(
            [(1, 5, "a2", 42), (2, 1, "b", 7)],
            "k int, pre int, v string, z int",
        )
    )
    win = src.cdc(begin=c1)  # seed comes from the pre-evolution state
    rows = {r["k"]: r for r in win.collect()}
    assert rows[1]["_change_op"] == "u"
    assert rows[1]["_before"]["v"] == "a" and rows[1]["_before"]["z"] is None
    assert rows[1]["_after"]["z"] == 42
    dst.apply_cdc(win)
    assert sorted(
        (r["k"], r["v"], r["z"]) for r in dst.snapshot().collect()
    ) == [(1, "a2", 42), (2, "b", 7)]


def test_schema_type_change_raises(spark, tmp_path):
    t = _lifecycle_table(spark, tmp_path, name="evotype")
    t.upsert(_kv_df(spark, [(1, 1, "a")]))
    with pytest.raises(ValueError, match="not this change"):
        t.upsert(
            spark.createDataFrame([(2, 1, 99)], "k int, pre int, v int")
        )


# -- type-widening schema evolution (r8) ---------------------------------


def test_schema_type_widening_cow(spark, tmp_path):
    """Widening promotions on a COW table: a LONG batch widens an INT
    column (schema records long, old rows intact), a later NARROWER
    int batch is cast up (schema unchanged), and decimal precision
    growth rides the same lattice."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType, LongType

    t = KeyedTable(
        spark, str(tmp_path / "wide"), record_key="k", precombine="pre",
        keep_versions=10,
    )
    t.upsert(
        spark.createDataFrame(
            [(1, 1, 10, Decimal("1.50"))],
            "k int, pre int, n int, amt decimal(10,2)",
        )
    )
    t.upsert(
        spark.createDataFrame(
            [(2, 1, 4_000_000_000, Decimal("2.50"))],
            "k int, pre int, n long, amt decimal(14,2)",
        )
    )
    sch = {f.name: f.dataType for f in t.table_schema().fields}
    assert sch["n"] == LongType() and sch["amt"] == DecimalType(14, 2)
    snap = {r["k"]: (r["n"], str(r["amt"])) for r in t.snapshot().collect()}
    assert snap == {1: (10, "1.50"), 2: (4_000_000_000, "2.50")}
    # narrower follow-up batch: cast up on write, schema unchanged
    t.upsert(
        spark.createDataFrame(
            [(1, 9, 7, Decimal("3.25"))],
            "k int, pre int, n int, amt decimal(10,2)",
        )
    )
    assert {
        f.name: f.dataType for f in t.table_schema().fields
    }["n"] == LongType()
    snap = {r["k"]: (r["n"], str(r["amt"])) for r in t.snapshot().collect()}
    assert snap == {1: (7, "3.25"), 2: (4_000_000_000, "2.50")}
    # the snapshot frame itself carries the widened types
    live = {f.name: f.dataType for f in t.snapshot().schema.fields}
    assert live["n"] == LongType() and live["amt"] == DecimalType(14, 2)


def test_schema_type_widening_mor_mixed_vintage_files(spark, tmp_path):
    """MOR: the log keeps pre-widening int32 files and post-widening
    int64 files side by side; the explicit-schema read widens the old
    files at scan time (no rewrite), through compaction and reopen."""
    from pyspark.sql.types import LongType

    t = KeyedTable(
        spark, str(tmp_path / "widemor"), record_key="k", precombine="pre",
        table_type="MERGE_ON_READ", keep_versions=10,
    )
    t.upsert(spark.createDataFrame([(1, 1, 10)], "k int, pre int, n int"))
    t.compact()  # narrow base snapshot
    t.upsert(
        spark.createDataFrame(
            [(2, 1, 4_000_000_000), (1, 5, 11)], "k int, pre int, n long"
        )
    )
    snap = {r["k"]: r["n"] for r in t.snapshot().collect()}
    assert snap == {1: 11, 2: 4_000_000_000}
    t.compact()
    reopened = KeyedTable.open(spark, t.root)
    assert {
        f.name: f.dataType for f in reopened.table_schema().fields
    }["n"] == LongType()
    assert {r["k"]: r["n"] for r in reopened.snapshot().collect()} == {
        1: 11,
        2: 4_000_000_000,
    }


def test_schema_widening_decimal_rescale_and_int_to_decimal_mor(
    spark, tmp_path
):
    """The two _covers promotion paths the r8 suite never exercised
    (ADVICE r8): a decimal SCALE increase — (10,2)→(12,4) keeps
    p′−s′ ≥ p−s and s′ ≥ s, a distinct parquet-reader RESCALE path —
    and int→decimal(10,0)+ (the reader's INT32 physical bound), both
    over MOR mixed-vintage log files so the scan-time widening
    contract stays empirically pinned."""
    from decimal import Decimal

    from pyspark.sql.types import DecimalType

    t = KeyedTable(
        spark, str(tmp_path / "rescale"), record_key="k", precombine="pre",
        table_type="MERGE_ON_READ", keep_versions=10,
    )
    t.upsert(
        spark.createDataFrame(
            [(1, 1, Decimal("1.25"), 10)],
            "k int, pre int, amt decimal(10,2), n int",
        )
    )
    t.compact()  # narrow-vintage base file
    t.upsert(
        spark.createDataFrame(
            [(2, 1, Decimal("2.3456"), Decimal("12345678901")), (1, 5, Decimal("9.8765"), Decimal("7"))],
            "k int, pre int, amt decimal(12,4), n decimal(11,0)",
        )
    )
    sch = {f.name: f.dataType for f in t.table_schema().fields}
    assert sch["amt"] == DecimalType(12, 4)
    assert sch["n"] == DecimalType(11, 0)
    snap = {
        r["k"]: (str(r["amt"]), str(r["n"]))
        for r in t.snapshot().collect()
    }
    # key 1's old int/decimal(10,2) file rescales at scan time; key 1's
    # live row comes from the NEW vintage (precombine 5 wins)
    assert snap == {
        1: ("9.8765", "7"),
        2: ("2.3456", "12345678901"),
    }
    # time travel BEFORE the widening presents the narrow vintage types
    first = t.instants()[0]
    old = t.snapshot(as_of=first)
    old_types = {f.name: f.dataType for f in old.schema.fields}
    assert old_types["amt"] == DecimalType(10, 2)
    assert {r["k"]: str(r["amt"]) for r in old.collect()} == {1: "1.25"}
    # compaction + reopen keep the widened read green
    t.compact()
    reopened = KeyedTable.open(spark, t.root)
    assert {
        r["k"]: (str(r["amt"]), str(r["n"]))
        for r in reopened.snapshot().collect()
    } == snap
    # int→decimal without INT32 room (p−s < 10) is refused: the reader
    # cannot declare decimal(9,0) over an INT32-typed file
    t2 = KeyedTable(
        spark, str(tmp_path / "noroom"), record_key="k", precombine="pre",
        keep_versions=10,
    )
    t2.upsert(spark.createDataFrame([(1, 1, 10)], "k int, pre int, n int"))
    with pytest.raises(ValueError, match="not this change"):
        t2.upsert(
            spark.createDataFrame(
                [(2, 1, Decimal("5"))], "k int, pre int, n decimal(9,0)"
            )
        )


def test_schema_widening_cdc_and_replication(spark, tmp_path):
    """CDC across a widening boundary: the as-of-begin seed state is a
    pre-widening (narrow) snapshot — its before-images are cast up so
    the struct matches the evolved log shape, and apply_cdc carries a
    replica through the widening."""
    src = _lifecycle_table(spark, tmp_path, name="widesrc")
    dst = _lifecycle_table(spark, tmp_path, name="widedst")
    c1 = src.upsert(
        spark.createDataFrame([(1, 1, 10)], "k int, pre int, n int")
    )
    dst.apply_cdc(src.cdc())
    src.upsert(
        spark.createDataFrame(
            [(1, 5, 4_000_000_000), (2, 1, 7)], "k int, pre int, n long"
        )
    )
    win = src.cdc(begin=c1)
    rows = {r["k"]: r for r in win.collect()}
    assert rows[1]["_change_op"] == "u"
    assert rows[1]["_before"]["n"] == 10
    assert rows[1]["_after"]["n"] == 4_000_000_000
    dst.apply_cdc(win)
    assert sorted(
        (r["k"], r["n"]) for r in dst.snapshot().collect()
    ) == [(1, 4_000_000_000), (2, 7)]


def test_schema_widening_rejects_non_covering_pairs(spark, tmp_path):
    """Promotions outside the reader-tested lattice raise before any
    file is written: non-covering decimal pairs and long→double (lossy
    above 2^53) are rejected; float→double and int→double pass."""
    t = KeyedTable(
        spark, str(tmp_path / "nocov"), record_key="k", precombine="pre",
        keep_versions=10,
    )
    from decimal import Decimal

    t.upsert(
        spark.createDataFrame(
            [(1, 1, Decimal("1.25"), 2.5)],
            "k int, pre int, d decimal(10,2), f float",
        )
    )
    with pytest.raises(ValueError, match="not this change"):
        t.upsert(
            spark.createDataFrame(
                [(2, 1, Decimal("1.2345"), 2.5)],
                "k int, pre int, d decimal(9,4), f float",
            )
        )
    # float→double widens fine
    t.upsert(
        spark.createDataFrame(
            [(2, 1, Decimal("3.75"), 4.5)],
            "k int, pre int, d decimal(10,2), f double",
        )
    )
    from pyspark.sql.types import DoubleType

    assert {
        f.name: f.dataType for f in t.table_schema().fields
    }["f"] == DoubleType()
    # long measure into a double column: lossy, rejected
    t2 = KeyedTable(
        spark, str(tmp_path / "lossy"), record_key="k", precombine="pre",
        keep_versions=10,
    )
    t2.upsert(
        spark.createDataFrame([(1, 1, 1.5)], "k int, pre int, x double")
    )
    with pytest.raises(ValueError, match="not this change"):
        t2.upsert(
            spark.createDataFrame(
                [(2, 1, 4_000_000_000)], "k int, pre int, x long"
            )
        )


def test_schema_widening_small_int_to_decimal_needs_int32_room(
    spark, tmp_path
):
    """byte/short/int are all parquet INT32: the reader demands
    p−s ≥ 10 to widen them to decimal REGARDLESS of the declared
    logical width — decimal(5,0) over a short-typed file fails at scan
    time, so the lattice must reject it at write time (it did not,
    pre-fix: an accepted 'widening' poisoned every subsequent read)."""
    from decimal import Decimal

    t = KeyedTable(
        spark, str(tmp_path / "smallint"), record_key="k",
        precombine="pre", table_type="MERGE_ON_READ", keep_versions=10,
    )
    t.upsert(
        spark.createDataFrame([(1, 1, 7)], "k int, pre int, n short")
    )
    with pytest.raises(ValueError, match="not this change"):
        t.upsert(
            spark.createDataFrame(
                [(2, 1, Decimal("12345"))],
                "k int, pre int, n decimal(5,0)",
            )
        )
    # with INT32 room the widening commits and every read stays green
    t.upsert(
        spark.createDataFrame(
            [(2, 1, Decimal("12345"))], "k int, pre int, n decimal(10,0)"
        )
    )
    assert {r["k"]: str(r["n"]) for r in t.snapshot().collect()} == {
        1: "7",
        2: "12345",
    }


def test_legacy_root_first_recorded_schema_covers_files(spark, tmp_path):
    """A pre-schema-recording root (no schema/<commit>.json) whose
    files are WIDER than the first post-upgrade batch: the widening
    check seeds from the files' inferred schema, so the first recorded
    schema keeps the wider file type instead of stamping one the
    reader cannot widen old files to."""
    import shutil as _shutil

    from pyspark.sql.types import LongType

    t = KeyedTable(
        spark, str(tmp_path / "legacy"), record_key="k", precombine="pre",
        keep_versions=10,
    )
    t.upsert(
        spark.createDataFrame(
            [(1, 1, 4_000_000_000)], "k int, pre int, n long"
        )
    )
    _shutil.rmtree(str(tmp_path / "legacy" / "schema"))  # simulate legacy
    t2 = KeyedTable.open(spark, str(tmp_path / "legacy"))
    assert t2.table_schema() is None
    t2.upsert(spark.createDataFrame([(2, 9, 5)], "k int, pre int, n int"))
    assert {
        f.name: f.dataType for f in t2.table_schema().fields
    }["n"] == LongType()
    assert {r["k"]: r["n"] for r in t2.snapshot().collect()} == {
        1: 4_000_000_000,
        2: 5,
    }


# -- partial-update payload (late r7) -----------------------------------


def _patch_df(spark, rows):
    return spark.createDataFrame(rows, "k int, pre int, v string, n int")


def test_partial_update_payload_cow(spark, tmp_path):
    """PartialUpdateAvroPayload semantics: NULL incoming fields KEEP the
    existing value, non-null fields patch — within one batch (pre
    order) and across commits (arrival order); combined with schema
    evolution a batch can carry just the columns it updates."""
    t = KeyedTable(
        spark,
        str(tmp_path / "pp"),
        record_key="k",
        precombine="pre",
        payload="partial_update",
        keep_versions=10,
    )
    # within-batch fill: two partial rows of one key combine by pre
    t.upsert(
        _patch_df(spark, [(1, 1, "a", None), (1, 2, None, 10), (2, 1, "b", 5)])
    )
    snap = {r["k"]: (r["v"], r["n"]) for r in t.snapshot().collect()}
    assert snap == {1: ("a", 10), 2: ("b", 5)}
    # cross-commit patch: only n changes, v kept
    t.upsert(_patch_df(spark, [(1, 1, None, 99)]))
    snap = {r["k"]: (r["v"], r["n"]) for r in t.snapshot().collect()}
    assert snap[1] == ("a", 99)
    # schema-evolved subset batch: patches v only, everything else kept
    t.upsert(spark.createDataFrame([(2, 9, "b2")], "k int, pre int, v string"))
    snap = {r["k"]: (r["v"], r["n"]) for r in t.snapshot().collect()}
    assert snap == {1: ("a", 99), 2: ("b2", 5)}


def test_partial_update_mor_equals_cow(spark, tmp_path):
    """The commit-order partial rule is associative, so the incremental
    COW fold and the single MOR read-time window must produce identical
    state — including through compaction."""
    histories = [
        [(1, 5, "a", None), (2, 1, "b", 1)],
        [(1, 1, None, 7)],  # late batch with SMALLER pre still patches
        [(1, 9, "a3", None), (3, 1, "c", 3)],
    ]
    tables = {}
    for tt in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = KeyedTable(
            spark,
            str(tmp_path / f"pp_{tt}"),
            record_key="k",
            precombine="pre",
            table_type=tt,
            payload="partial_update",
            keep_versions=10,
        )
        for batch in histories:
            t.upsert(_patch_df(spark, batch))
        tables[tt] = t
    state = {
        tt: sorted(
            (r["k"], r["v"], r["n"])
            for r in t.snapshot().collect()
        )
        for tt, t in tables.items()
    }
    assert state["COPY_ON_WRITE"] == state["MERGE_ON_READ"]
    assert state["COPY_ON_WRITE"] == [(1, "a3", 7), (2, "b", 1), (3, "c", 3)]
    # compaction preserves the merged state
    tables["MERGE_ON_READ"].compact()
    assert state["MERGE_ON_READ"] == sorted(
        (r["k"], r["v"], r["n"])
        for r in tables["MERGE_ON_READ"].snapshot().collect()
    )


def test_partial_update_cdc_matches_snapshot_diffs(spark, tmp_path):
    """CDC on a partial table: after-images are the FILLED states (the
    per-column last-non-null rule), verified against per-instant
    snapshot diffs — patches, deletes, and post-delete re-inserts that
    must NOT inherit pre-delete columns."""
    t = KeyedTable(
        spark,
        str(tmp_path / "ppcdc"),
        record_key="k",
        precombine="pre",
        payload="partial_update",
        keep_versions=10,
    )
    t.upsert(_patch_df(spark, [(1, 1, "a", 1), (2, 1, "b", None)]))
    t.upsert(_patch_df(spark, [(1, 2, None, 42), (2, 2, "b2", None)]))
    t.delete(spark.createDataFrame([(1,)], "k int"))
    t.upsert(_patch_df(spark, [(1, 3, None, 7)]))  # reborn: v must be NULL

    expected = []
    prev: dict = {}
    for c in t.instants():
        cur = {
            r["k"]: (r["pre"], r["v"], r["n"])
            for r in t._snapshot_as_of(c).collect()
        }
        for k in cur.keys() - prev.keys():
            expected.append((k, c, "i", None, cur[k]))
        for k in prev.keys() - cur.keys():
            expected.append((k, c, "d", prev[k], None))
        for k in cur.keys() & prev.keys():
            if cur[k] != prev[k]:
                expected.append((k, c, "u", prev[k], cur[k]))
        prev = cur
    got = sorted(
        (
            r["k"],
            r["_commit_time"],
            r["_change_op"],
            tuple(r["_before"]) if r["_before"] is not None else None,
            tuple(r["_after"]) if r["_after"] is not None else None,
        )
        for r in t.cdc().collect()
    )
    assert got == sorted(expected)
    # the reborn key's state carries no pre-delete columns
    reborn = {r["k"]: r for r in t.snapshot().collect()}[1]
    assert (reborn["v"], reborn["n"]) == (None, 7)


def test_partial_update_payload_persisted_in_meta(spark, tmp_path):
    t = KeyedTable(
        spark,
        str(tmp_path / "ppmeta"),
        record_key="k",
        precombine="pre",
        payload="partial_update",
    )
    t.upsert(_patch_df(spark, [(1, 1, "a", 1)]))
    t.upsert(_patch_df(spark, [(1, 2, None, 9)]))
    reopened = KeyedTable.open(spark, t.root)
    assert reopened.payload == "partial_update"
    snap = {r["k"]: (r["v"], r["n"]) for r in reopened.snapshot().collect()}
    assert snap == {1: ("a", 9)}


# -- composite record keys (late r7) ------------------------------------


def _ck_df(spark, rows):
    return spark.createDataFrame(rows, "region string, item int, pre int, qty int")


def test_composite_key_upsert_merge_delete(spark, tmp_path):
    """ComplexKeyGenerator parity: a field-list record key materializes
    the derived _record_key meta column; merge, precombine, and delete
    all key on the composite identity. NULL key fields key distinctly
    (no cross-field collisions)."""
    t = KeyedTable(
        spark,
        str(tmp_path / "ck"),
        record_key=["region", "item"],
        precombine="pre",
        keep_versions=10,
    )
    t.upsert(
        _ck_df(
            spark,
            [("eu", 1, 1, 10), ("eu", 2, 1, 20), ("us", 1, 1, 30)],
        )
    )
    # same composite identity merges; different identities coexist
    t.upsert(_ck_df(spark, [("eu", 1, 5, 11)]))
    snap = {
        (r["region"], r["item"]): r["qty"] for r in t.snapshot().collect()
    }
    assert snap == {("eu", 1): 11, ("eu", 2): 20, ("us", 1): 30}
    assert "_record_key" in t.snapshot().columns
    # delete by composite key
    t.delete(
        spark.createDataFrame([("eu", 2)], "region string, item int")
    )
    assert sorted(
        (r["region"], r["item"]) for r in t.snapshot().collect()
    ) == [("eu", 1), ("us", 1)]
    # null-safe encoding: ("a", NULL) and (NULL, "a"-ish) don't collide
    t2 = KeyedTable(
        spark,
        str(tmp_path / "cknull"),
        record_key=["a", "b"],
        precombine="pre",
    )
    t2.upsert(
        spark.createDataFrame(
            [("x", None, 1, 1), (None, "x", 1, 2)],
            "a string, b string, pre int, v int",
        )
    )
    assert t2.snapshot().count() == 2


def test_composite_key_reopen_and_cdc_replication(spark, tmp_path):
    """The composite spec roundtrips through table meta; CDC and the
    replication loop work over the derived key unchanged."""
    src = KeyedTable(
        spark,
        str(tmp_path / "cksrc"),
        record_key="region,item",  # comma-string spec, Hudi style
        precombine="pre",
    )
    src.upsert(_ck_df(spark, [("eu", 1, 1, 10), ("us", 2, 1, 20)]))
    src.delete(spark.createDataFrame([("us", 2)], "region string, item int"))
    reopened = KeyedTable.open(spark, src.root)
    assert reopened.key_fields == ["region", "item"]
    assert reopened.record_key == "_record_key"

    cdc = {
        (r["_record_key"], r["_change_op"]) for r in src.cdc().collect()
    }
    assert len(cdc) == 3  # two inserts + one delete
    dst = KeyedTable(
        spark,
        str(tmp_path / "ckdst"),
        record_key=["region", "item"],
        precombine="pre",
    )
    dst.apply_cdc(src.cdc())
    assert sorted(
        (r["region"], r["item"], r["qty"]) for r in dst.snapshot().collect()
    ) == [("eu", 1, 10)]


def test_composite_key_separator_injection_no_collision(spark, tmp_path):
    """Injective encoding: field values containing the separator (or
    the escape/sentinel bytes) must not merge distinct composite
    identities."""
    t = KeyedTable(
        spark,
        str(tmp_path / "ckesc"),
        record_key=["a", "b"],
        precombine="pre",
    )
    t.upsert(
        spark.createDataFrame(
            [
                ("a\x1fb", "c", 1, 1),
                ("a", "b\x1fc", 1, 2),
                ("x\x01", "y", 1, 3),
                ("x", "\x01y", 1, 4),
                ("\x01n", None, 1, 5),  # literal sentinel vs real NULL
                (None, "\x01n", 1, 6),
            ],
            "a string, b string, pre int, v int",
        )
    )
    assert t.snapshot().count() == 6


def test_crashed_widening_upsert_leaves_no_phantom_schema(spark, tmp_path):
    """A schema file beyond the pointer (crashed widening upsert) must
    not surface phantom columns, and a retried batch whose column type
    differs must not be rejected by the orphan."""
    import json as _json

    t = _lifecycle_table(spark, tmp_path, name="schemacrash")
    t.upsert(_kv_df(spark, [(1, 1, "a")]))
    # simulate: a widening upsert wrote schema/<orphan>.json then died
    latest = t.latest_commit()
    orphan = str(int(latest) + 5).zfill(len(latest))
    os.makedirs(t._schema_dir(), exist_ok=True)
    from pyspark.sql.types import IntegerType, StructField, StructType

    base = t.table_schema()
    widened = StructType(
        list(base.fields) + [StructField("x", IntegerType(), True)]
    )
    with open(os.path.join(t._schema_dir(), f"{orphan}.json"), "w") as f:
        _json.dump(_json.loads(widened.json()), f)
    # readers never see the phantom column
    assert "x" not in [f.name for f in t.table_schema().fields]
    assert "x" not in t.snapshot().columns
    # the retry legitimately sends x as a STRING — must be accepted
    t.upsert(
        spark.createDataFrame(
            [(2, 1, "b", "s")], "k int, pre int, v string, x string"
        )
    )
    assert dict(
        (f.name, f.dataType.simpleString())
        for f in t.table_schema().fields
    )["x"] == "string"
    assert not os.path.exists(
        os.path.join(t._schema_dir(), f"{orphan}.json")
    )


def test_hudi_options_composite_key_generator(spark):
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.upsert import (
        hudi_write_options,
    )

    # composite + NO partition cols: ComplexKeyGenerator must survive
    opts = hudi_write_options("t", "region,item", "pre")
    assert opts["hoodie.datasource.write.keygenerator.class"].endswith(
        "ComplexKeyGenerator"
    )
    # single-field + no partition cols keeps the non-partitioned one
    opts = hudi_write_options("t", "k", "pre")
    assert opts["hoodie.datasource.write.keygenerator.class"].endswith(
        "NonpartitionedKeyGenerator"
    )


# ------------------------------------------------- overwrite / partition ops


def _kv(spark, rows):
    from pyspark.sql import SparkSession  # noqa: F401

    return spark.createDataFrame(rows, "k int, pre int, v string")


def test_overwrite_replaces_entire_state(spark, tmp_path):
    """insert_overwrite_table: the batch IS the new state — vanished
    keys gone, and a replaced key takes the batch row even with a
    SMALLER precombine (replace semantics beat the P2 merge)."""
    t = KeyedTable(
        spark, str(tmp_path / "ow"), record_key="k", precombine="pre"
    )
    t.upsert(_kv(spark, [(1, 10, "old1"), (2, 10, "old2"), (3, 10, "old3")]))
    ow = t.overwrite(_kv(spark, [(2, 1, "new2-lowpre"), (4, 1, "new4")]))
    got = sorted(
        (r["k"], r["pre"], r["v"])
        for r in t.snapshot().select("k", "pre", "v").collect()
    )
    assert got == [(2, 1, "new2-lowpre"), (4, 1, "new4")]
    # a LATER upsert merges normally against the overwritten state
    t.upsert(_kv(spark, [(2, 5, "after")]))
    assert [
        r["v"] for r in t.snapshot().filter("k = 2").collect()
    ] == ["after"]
    # time travel: state before the overwrite is intact, at it replaced
    pre_ow = [c for c in t.instants() if c < ow][-1]
    assert t.snapshot(as_of=pre_ow).count() == 3
    assert t.snapshot(as_of=ow).count() == 2


def test_overwrite_rail_when_cleaner_removes_snapshot(spark, tmp_path):
    """Replaying the log across a cleaned overwrite would resurrect
    vanished keys / out-precombine replaced rows — the retained-history
    rail must RAISE instead."""
    t = KeyedTable(
        spark,
        str(tmp_path / "owr"),
        record_key="k",
        precombine="pre",
        keep_versions=1,
    )
    t.upsert(_kv(spark, [(1, 99, "a"), (2, 99, "b")]))
    ow = t.overwrite(_kv(spark, [(1, 1, "ow")]))
    t.upsert(_kv(spark, [(3, 1, "c")]))  # keep_versions=1: ow snapshot gone
    assert t.snapshot().count() == 2  # latest state fine (fresh base)
    with pytest.raises(ValueError, match="delete/overwrite commit"):
        t.snapshot(as_of=ow)


def test_cdc_raises_across_overwrite_and_resumes_after(spark, tmp_path):
    t = KeyedTable(
        spark, str(tmp_path / "owc"), record_key="k", precombine="pre"
    )
    t.upsert(_kv(spark, [(1, 1, "a")]))
    ow = t.overwrite(_kv(spark, [(1, 2, "b"), (2, 2, "c")]))
    t.upsert(_kv(spark, [(2, 3, "d")]))
    with pytest.raises(ValueError, match="replace commit"):
        t.cdc()
    # re-seeded consumers resume from the replace instant onward
    rows = t.cdc(begin=ow).select("k", "_change_op").collect()
    assert sorted((r["k"], r["_change_op"]) for r in rows) == [(2, "u")]


def test_delete_where_and_delete_partition(spark, tmp_path):
    t = KeyedTable(
        spark,
        str(tmp_path / "dp"),
        record_key="k",
        precombine="pre",
        partition_cols=["ds"],
    )
    df = spark.createDataFrame(
        [
            (1, 1, "2026-01-01", 5.0),
            (2, 1, "2026-01-01", 50.0),
            (3, 1, "2026-01-02", 5.0),
            (4, 1, "2026-01-03", 5.0),
        ],
        "k int, pre int, ds string, amt double",
    )
    t.upsert(df)
    t.delete_where("amt > 10.0")
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 3, 4]
    t.delete_partition({"ds": "2026-01-02"})
    assert sorted(r["k"] for r in t.snapshot().collect()) == [1, 4]
    with pytest.raises(ValueError, match="not in partition spec"):
        t.delete_partition({"amt": 5.0})
    with pytest.raises(ValueError, match="not in partition spec"):
        t.delete_partition({})
    t2 = KeyedTable(
        spark, str(tmp_path / "dp2"), record_key="k", precombine="pre"
    )
    t2.upsert(_kv(spark, [(1, 1, "x")]))
    with pytest.raises(ValueError, match="not partitioned"):
        t2.delete_partition({"ds": "2026-01-01"})


def test_overwrite_on_mor_sets_new_base(spark, tmp_path):
    t = KeyedTable(
        spark,
        str(tmp_path / "owm"),
        record_key="k",
        precombine="pre",
        table_type="MERGE_ON_READ",
    )
    t.upsert(_kv(spark, [(1, 1, "a"), (2, 1, "b")]))
    t.upsert(_kv(spark, [(1, 2, "a2")]))
    t.overwrite(_kv(spark, [(9, 1, "z")]))
    assert sorted(
        (r["k"], r["v"]) for r in t.snapshot().select("k", "v").collect()
    ) == [(9, "z")]
    t.upsert(_kv(spark, [(9, 2, "z2"), (10, 1, "w")]))  # MOR log on new base
    assert sorted(
        (r["k"], r["v"]) for r in t.snapshot().select("k", "v").collect()
    ) == [(9, "z2"), (10, "w")]


@pytest.mark.parametrize("table_type", ["COPY_ON_WRITE", "MERGE_ON_READ"])
def test_cdc_overwrite_window_contract(spark, tmp_path, table_type):
    """With an overwrite in the history, cdc() must RAISE for every
    window spanning the replace instant and remain exactly the
    brute-force snapshot diff for every window on either side."""
    import random

    rng = random.Random(9)
    t = _lifecycle_table(
        spark, tmp_path, name=f"owp{table_type}", table_type=table_type
    )
    for step in range(3):
        t.upsert(
            _kv_df(
                spark,
                [
                    (rng.randrange(8), rng.randrange(100), f"v{step}.{i}")
                    for i in range(rng.randrange(1, 5))
                ],
            )
        )
    ow = t.overwrite(
        _kv_df(spark, [(1, 1, "ow1"), (9, 1, "ow9"), (2, 50, "ow2")])
    )
    for step in range(2):
        t.upsert(
            _kv_df(
                spark,
                [
                    (rng.randrange(10), rng.randrange(100), f"w{step}.{i}")
                    for i in range(rng.randrange(1, 5))
                ],
            )
        )
    insts = t.instants()
    pre = [c for c in insts if c < ow]
    post = [c for c in insts if c > ow]

    # spanning windows raise, from every side
    for begin, end in [(None, None), (None, ow), (pre[0], post[-1])]:
        with pytest.raises(ValueError, match="replace commit"):
            t.cdc(begin=begin, end=end)

    # strictly-before window: brute diff over the pre-overwrite history
    before = {
        (r["k"], r["_commit_time"], r["_change_op"])
        for r in t.cdc(begin=None, end=pre[-1]).collect()
    }
    assert before and all(c <= pre[-1] for _, c, _ in before)

    # from the replace instant onward: seeded by the overwrite state,
    # equal to the per-instant snapshot diffs
    got = sorted(
        (
            r["k"],
            r["_commit_time"],
            r["_change_op"],
            tuple(r["_before"]) if r["_before"] is not None else None,
            tuple(r["_after"]) if r["_after"] is not None else None,
        )
        for r in t.cdc(begin=ow).collect()
    )
    want = []
    prev_states = {}
    for c in [ow] + post:
        cur = {
            r["k"]: (r["pre"], r["v"])
            for r in t.snapshot(as_of=c).select("k", "pre", "v").collect()
        }
        if c != ow:
            for k in set(prev_states) | set(cur):
                b, a = prev_states.get(k), cur.get(k)
                if b == a:
                    continue
                op = "d" if a is None else ("i" if b is None else "u")
                want.append((k, c, op, b, a))
        prev_states = cur
    assert got == sorted(want)


def test_occ_overwrite_conflicts_with_inflight_writer(spark, tmp_path):
    """An overwrite that lands mid-transaction is a whole-table commit:
    the in-flight upsert must see CommitConflictError regardless of key
    overlap (its base state no longer exists)."""
    from pyspark.sql import functions as F

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.concurrency import (
        CommitConflictError,
        InProcessLockProvider,
    )

    lock = InProcessLockProvider()
    root = str(tmp_path / "occow")
    a = KeyedTable(
        spark, root, record_key="customer_id", precombine="created_at",
        lock_provider=lock,
    )
    a.upsert(fixtures.customers(spark, 10))
    base = a.latest_commit()
    b = KeyedTable.open(spark, root, lock_provider=lock)
    b.overwrite(fixtures.customers(spark, 2, batch=5))
    # DISJOINT keys (cust-900x vs the overwrite's cust-0/1): the
    # conflict must fire on the whole-table nature of the replace, not
    # on key overlap
    incoming = fixtures.customers(spark, 2, batch=1).withColumn(
        "customer_id", F.concat(F.lit("cust-900"), F.col("customer_id"))
    )
    with pytest.raises(CommitConflictError):
        with a._txn():
            a._check_conflict(base, incoming)


# -- drop-column schema evolution (r8) -----------------------------------


def test_alter_drop_column_cow(spark, tmp_path):
    """Metadata-only column drop: reads stop projecting the column
    immediately (no file rewrite), time travel BEFORE the drop still
    shows its values, later upserts proceed, and the name cannot be
    re-added (residual values in old files would resurface)."""
    t = KeyedTable(
        spark, str(tmp_path / "dropcow"), record_key="k", precombine="pre",
        keep_versions=10,
    )
    c1 = t.upsert(
        spark.createDataFrame(
            [(1, 1, "a", 7), (2, 1, "b", 8)],
            "k int, pre int, v string, w int",
        )
    )
    t.alter_drop_column("w")
    assert "w" not in t.snapshot().columns
    assert {r["k"]: r["v"] for r in t.snapshot().collect()} == {
        1: "a", 2: "b"
    }
    assert [f.name for f in t.table_schema().fields] == ["k", "pre", "v"]
    # time travel BEFORE the drop: the column and its VALUES are back
    old = t.snapshot(as_of=c1)
    assert {r["k"]: r["w"] for r in old.collect()} == {1: 7, 2: 8}
    # maintenance continues; the drop survives reopen
    t.upsert(spark.createDataFrame([(3, 1, "c")], "k int, pre int, v string"))
    reopened = KeyedTable.open(spark, t.root)
    assert "w" not in reopened.snapshot().columns
    assert reopened.snapshot().count() == 3
    # the name is tombstoned: re-adding raises
    with pytest.raises(ValueError, match="cannot be\\s+re-added"):
        reopened.upsert(
            spark.createDataFrame(
                [(4, 1, "d", 9)], "k int, pre int, v string, w int"
            )
        )


def test_alter_drop_column_mor_and_incremental(spark, tmp_path):
    """MOR: the drop hides the column from the log-merged snapshot and
    from the incremental change stream without touching any log file;
    compaction makes it physical."""
    t = KeyedTable(
        spark, str(tmp_path / "dropmor"), record_key="k", precombine="pre",
        table_type="MERGE_ON_READ", keep_versions=10,
    )
    c1 = t.upsert(
        spark.createDataFrame([(1, 1, "a", 7)], "k int, pre int, v string, w int")
    )
    t.alter_drop_column("w")
    t.upsert(spark.createDataFrame([(2, 1, "b")], "k int, pre int, v string"))
    snap = t.snapshot()
    assert "w" not in snap.columns
    assert {r["k"]: r["v"] for r in snap.collect()} == {1: "a", 2: "b"}
    # the change stream reads under the active schema
    assert "w" not in t.log().columns
    # time travel before the drop serves the value from the LOG file
    assert t.snapshot(as_of=c1).collect()[0]["w"] == 7
    # compaction materializes the post-drop shape
    t.compact()
    assert "w" not in KeyedTable.open(spark, t.root).snapshot().columns


def test_alter_drop_column_guards(spark, tmp_path):
    t = KeyedTable(
        spark, str(tmp_path / "dropg"), record_key="k", precombine="pre",
        keep_versions=10,
    )
    t.upsert(spark.createDataFrame([(1, 1, "a")], "k int, pre int, v string"))
    with pytest.raises(ValueError, match="structural columns"):
        t.alter_drop_column("k")
    with pytest.raises(ValueError, match="structural columns"):
        t.alter_drop_column("pre")
    with pytest.raises(ValueError, match="no active column"):
        t.alter_drop_column("nope")
    t.alter_drop_column("v")
    with pytest.raises(ValueError, match="no active column"):
        t.alter_drop_column("v")  # double drop


# -- column RENAME evolution (r9, VERDICT r8 #2) --------------------------


def test_schema_rename_cow_and_mor_mixed_vintage(spark, tmp_path):
    """alter_rename_column is metadata-only: old files keep the old
    physical name and every read serves them through the rename
    mapping — COW and MOR, across compaction and reopen; time travel
    BEFORE the rename still shows the old name; the old name cannot
    be re-added; a second rename chains."""
    for ttype in ("COPY_ON_WRITE", "MERGE_ON_READ"):
        t = KeyedTable(
            spark, str(tmp_path / f"rn_{ttype}"), record_key="k",
            precombine="pre", table_type=ttype, keep_versions=10,
        )
        t.upsert(
            spark.createDataFrame(
                [(1, 1, "a", 10), (2, 1, "b", 20)],
                "k int, pre int, v string, amt int",
            )
        )
        t.compact()  # old-name base file (no-op on COW)
        pre_rename = t.latest_commit()
        t.alter_rename_column("v", "label")
        # reads serve old files under the new name immediately
        snap = {r["k"]: (r["label"], r["amt"]) for r in t.snapshot().collect()}
        assert snap == {1: ("a", 10), 2: ("b", 20)}
        assert "v" not in t.snapshot().columns
        # new-name writes merge with old-name files
        t.upsert(
            spark.createDataFrame(
                [(1, 5, "a2", 11), (3, 1, "c", 30)],
                "k int, pre int, label string, amt int",
            )
        )
        snap = {r["k"]: (r["label"], r["amt"]) for r in t.snapshot().collect()}
        assert snap == {1: ("a2", 11), 2: ("b", 20), 3: ("c", 30)}
        # time travel BEFORE the rename: the vintage name, same values
        old = t.snapshot(as_of=pre_rename)
        assert "label" not in old.columns and "v" in old.columns
        assert {r["k"]: r["v"] for r in old.collect()} == {1: "a", 2: "b"}
        # the old name cannot be re-added
        with pytest.raises(ValueError, match="renamed"):
            t.upsert(
                spark.createDataFrame(
                    [(4, 1, "x", 40)], "k int, pre int, v string, amt int"
                )
            )
        # compaction physicalizes the new name; reopened reads stay green
        t.compact()
        reopened = KeyedTable.open(spark, t.root)
        assert {
            r["k"]: (r["label"], r["amt"])
            for r in reopened.snapshot().collect()
        } == snap
        # chained rename: label -> tag serves ALL vintages
        reopened.alter_rename_column("label", "tag")
        assert {
            r["k"]: r["tag"] for r in reopened.snapshot().collect()
        } == {1: "a2", 2: "b", 3: "c"}
        # neither prior name is reusable
        with pytest.raises(ValueError, match="already in use"):
            reopened.alter_rename_column("amt", "v")
        with pytest.raises(ValueError, match="already in use"):
            reopened.alter_rename_column("amt", "label")


def test_schema_rename_refuses_structural_columns(spark, tmp_path):
    t = KeyedTable(
        spark, str(tmp_path / "rnguard"), record_key="k",
        precombine="pre", partition_cols=["ds"], keep_versions=10,
    )
    t.upsert(
        spark.createDataFrame(
            [(1, 1, "d1", 5)], "k int, pre int, ds string, x int"
        )
    )
    for col in ("k", "pre", "ds"):
        with pytest.raises(ValueError, match="structural"):
            t.alter_rename_column(col, "zz")
    for new in ("k", "pre", "ds", "c"):
        with pytest.raises(ValueError, match="structural|collides"):
            t.alter_rename_column("x", new)
    with pytest.raises(ValueError, match="no active column"):
        t.alter_rename_column("nope", "yes")


def test_schema_rename_cdc_and_replication(spark, tmp_path):
    """CDC across a rename boundary: before-images seeded from the
    pre-rename vintage keep their VALUES under the new name, and a
    replica stays in sync when the rename DDL is replayed on it
    between the pre- and post-rename windows (rename is not inferable
    from row data — the standard schema-change-event contract)."""
    src = _lifecycle_table(spark, tmp_path, name="rnsrc")
    dst = _lifecycle_table(spark, tmp_path, name="rndst")
    c1 = src.upsert(_kv_df(spark, [(1, 1, "a"), (2, 1, "b")]))
    dst.apply_cdc(src.cdc())
    src.alter_rename_column("v", "label")
    src.upsert(
        spark.createDataFrame(
            [(1, 5, "a2"), (3, 1, "c")], "k int, pre int, label string"
        )
    )
    win = src.cdc(begin=c1)
    rows = {r["k"]: r for r in win.collect()}
    # the before-image's value crossed the rename (served from the
    # old-name vintage into the new-name struct field)
    assert rows[1]["_change_op"] == "u"
    assert rows[1]["_before"]["label"] == "a"
    assert rows[1]["_after"]["label"] == "a2"
    # replicate: DDL first, then the post-rename window
    dst.alter_rename_column("v", "label")
    dst.apply_cdc(win)
    assert sorted(
        (r["k"], r["label"]) for r in dst.snapshot().collect()
    ) == [(1, "a2"), (2, "b"), (3, "c")]


def test_schema_rename_then_widen_keeps_mapping(spark, tmp_path):
    """A widening commit AFTER a rename must preserve the rename
    mapping (the r9 metadata-preservation fix): old-name files still
    serve the widened, renamed column."""
    from pyspark.sql.types import LongType

    t = KeyedTable(
        spark, str(tmp_path / "rnwide"), record_key="k", precombine="pre",
        table_type="MERGE_ON_READ", keep_versions=10,
    )
    t.upsert(
        spark.createDataFrame([(1, 1, 10)], "k int, pre int, n int")
    )
    t.alter_rename_column("n", "qty")
    t.upsert(
        spark.createDataFrame(
            [(2, 1, 4_000_000_000)], "k int, pre int, qty long"
        )
    )
    sch = {f.name: f.dataType for f in t.table_schema().fields}
    assert sch["qty"] == LongType()
    assert {r["k"]: r["qty"] for r in t.snapshot().collect()} == {
        1: 10,
        2: 4_000_000_000,
    }


@pytest.mark.slow
def test_schema_evolution_random_lifecycle_property(spark, tmp_path):
    """Seeded random interleave of the FULL evolution surface — upserts
    (sometimes narrow-typed, sometimes with a fresh column), widenings,
    RENAMEs, DROPs, and deletes — checked against a pure-Python model
    after every commit: the snapshot must always equal the model under
    the current logical names, and a time-travel read pinned at each
    commit must show that vintage's column set."""
    import random

    from pyspark.sql.types import LongType, StructField, StructType

    rng = random.Random(99)
    t = KeyedTable(
        spark, str(tmp_path / "life"), record_key="k", precombine="pre",
        table_type="MERGE_ON_READ", keep_versions=50,
    )
    # model: key -> {logical_col: value}; cols: logical name -> None
    model: dict[int, dict] = {}
    cols = ["a"]  # data columns beside k/pre (long-typed in the model)
    renamed_away: set[str] = set()
    dropped: set[str] = set()
    next_col = 0
    vintages: list[tuple[str, list[str]]] = []  # (commit, cols at commit)

    def upsert(with_new_col=False):
        nonlocal next_col
        cs = list(cols)
        if with_new_col:
            next_col += 1
            new = f"c{next_col}"
            cs.append(new)
            cols.append(new)
        rows, fields = [], [
            StructField("k", LongType()),
            StructField("pre", LongType()),
            *[StructField(c, LongType()) for c in cs],
        ]
        for _ in range(rng.randrange(1, 4)):
            k = rng.randrange(8)
            pre = rng.randrange(1000)
            vals = {
                c: (None if rng.random() < 0.2 else rng.randrange(100))
                for c in cs
            }
            rows.append((k, pre, *[vals[c] for c in cs]))
            cur = model.get(k)
            if cur is None or pre >= cur["pre"]:
                model[k] = {"pre": pre, **{c: vals[c] for c in cs},
                            **{c: None for c in cols if c not in cs}}
        return t.upsert(
            spark.createDataFrame(rows, StructType(fields))
        )

    c = upsert()
    vintages.append((c, list(cols)))
    for step in range(14):
        roll = rng.random()
        if roll < 0.45:
            c = upsert(with_new_col=rng.random() < 0.3)
        elif roll < 0.6 and cols:
            old = rng.choice(cols)
            new = f"r{step}"
            c = t.alter_rename_column(old, new)
            cols[cols.index(old)] = new
            renamed_away.add(old)
            for v in model.values():
                v[new] = v.pop(old, None)
        elif roll < 0.72 and len(cols) > 1:
            victim = rng.choice(cols)
            c = t.alter_drop_column(victim)
            cols.remove(victim)
            dropped.add(victim)
            for v in model.values():
                v.pop(victim, None)
        elif roll < 0.85 and model:
            ks = rng.sample(sorted(model), max(1, len(model) // 3))
            c = t.delete(spark.createDataFrame([(k,) for k in ks], "k long"))
            for k in ks:
                model.pop(k)
        else:
            c = upsert()
        vintages.append((c, list(cols)))
        # snapshot ≡ model under the live logical names
        snap = t.snapshot()
        got = {
            r["k"]: tuple(r[col] for col in cols)
            for r in (snap.collect() if snap is not None else [])
        }
        want = {
            k: tuple(v.get(col) for col in cols) for k, v in model.items()
        }
        assert got == want, f"step {step}: {got} != {want}"
        # every historical name stays reserved
        for name in renamed_away | dropped:
            with pytest.raises(ValueError, match="cannot be re-added"):
                t.upsert(
                    spark.createDataFrame(
                        [(999, 1, 1)], f"k long, pre long, {name} long"
                    )
                )
    # time travel: each vintage shows exactly its column set
    for commit, vcols in vintages[:: max(1, len(vintages) // 5)]:
        old = t.snapshot(as_of=commit)
        have = [
            x
            for x in old.columns
            if x not in ("k", "pre", "_commit_time")
        ]
        assert sorted(have) == sorted(vcols), (commit, have, vcols)


def test_keyed_table_write_time_guards(spark, tmp_path):
    """r9 review fixes: a data column named 'c' is refused at WRITE
    time (not first discovered by a bricked read), keep_versions=0 is
    refused (it silently disabled the cleaner), and re-constructing an
    existing root with a different identity config raises instead of
    split-braining the table (table_type stays a per-writer mode)."""
    t = KeyedTable(
        spark, str(tmp_path / "g"), record_key="k", precombine="pre"
    )
    with pytest.raises(ValueError, match="collides with the commit-log"):
        t.upsert(
            spark.createDataFrame([(1, 1, 5)], "k int, pre int, c int")
        )
    with pytest.raises(ValueError, match="keep_versions"):
        KeyedTable(
            spark, str(tmp_path / "kv"), record_key="k",
            precombine="pre", keep_versions=0,
        )
    t.upsert(spark.createDataFrame([(1, 1, 5)], "k int, pre int, v int"))
    with pytest.raises(ValueError, match="identity config"):
        KeyedTable(
            spark, t.root, record_key="other", precombine="pre"
        )
    with pytest.raises(ValueError, match="identity config"):
        KeyedTable(
            spark, t.root, record_key="k", precombine="v"
        )
    # operational modes may differ: MOR-mode appends on a COW root
    t2 = KeyedTable(
        spark, t.root, record_key="k", precombine="pre",
        table_type="MERGE_ON_READ",
    )
    t2.upsert(spark.createDataFrame([(2, 1, 7)], "k int, pre int, v int"))
    assert {r["k"]: r["v"] for r in t2.snapshot().collect()} == {1: 5, 2: 7}
