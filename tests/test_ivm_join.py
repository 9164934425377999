"""Delta-join view maintenance (operators/ivm.py,
MaintainedJoinAggregate): a grouped aggregate over fact ⋈ dim kept in
sync from BOTH tables' CDC windows must equal a direct recompute of the
join after every coordinated window pair — fact churn, dimension
attribute churn (group migration through the dim side), deletes on
either side, NULL measures, and unmatched fact keys included.

The maintained query is the reference's actual report shape: orders ⋈
customers with customer attributes projected in (template.py:485-490).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.ivm import (
    MaintainedJoinAggregate,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.upsert import (
    KeyedTable,
)
from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sources.incremental import (
    CDCReader,
)

FACT_SCHEMA = "fk int, fpre int, jk int, famount long"
DIM_SCHEMA = "jk int, dpre int, grp string"


def _fact(spark, rows):
    return spark.createDataFrame(rows, FACT_SCHEMA)


def _dim(spark, rows):
    return spark.createDataFrame(rows, DIM_SCHEMA)


def _joined(fact_t: KeyedTable, dim_t: KeyedTable, f_asof=None, d_asof=None):
    fs, ds = fact_t.snapshot(as_of=f_asof), dim_t.snapshot(as_of=d_asof)
    if fs is None or ds is None:
        return None
    return fs.join(ds, fs["jk"] == ds["jk"], "inner").select(
        ds["grp"], fs["famount"]
    )


def _recompute(fact_t, dim_t):
    j = _joined(fact_t, dim_t)
    if j is None:
        return []
    return sorted(
        (r["grp"], r["n_rows"], r["sum_famount"], r["min_famount"],
         r["max_famount"])
        for r in j.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("famount").alias("sum_famount"),
            F.min("famount").alias("min_famount"),
            F.max("famount").alias("max_famount"),
        )
        .collect()
    )


def _nskey(t):
    """None-safe tuple sort key (the outer view's NULL group)."""
    return tuple((v is None, v) for v in t)


def _maintained(df):
    if df is None:
        return []
    return sorted(
        (
            (r["grp"], r["n_rows"], r["sum_famount"], r["min_famount"],
             r["max_famount"])
            for r in df.collect()
        ),
        key=_nskey,
    )


def _make(spark, tmp_path, tag):
    fact_t = KeyedTable(
        spark, str(tmp_path / f"fact{tag}"), record_key="fk",
        precombine="fpre", keep_versions=25,
    )
    dim_t = KeyedTable(
        spark, str(tmp_path / f"dim{tag}"), record_key="jk",
        precombine="dpre", keep_versions=25,
    )
    f_reader = CDCReader(
        spark, f"fact{tag}", fact_t.root,
        checkpoint_root=str(tmp_path / f"ckf{tag}"),
    )
    d_reader = CDCReader(
        spark, f"dim{tag}", dim_t.root,
        checkpoint_root=str(tmp_path / f"ckd{tag}"),
    )
    view = MaintainedJoinAggregate(
        spark,
        str(tmp_path / f"view{tag}"),
        on=("jk", "jk"),
        group_cols=["grp"],
        sum_cols=["famount"],
        minmax_cols=["famount"],
    )
    return fact_t, dim_t, f_reader, d_reader, view


def _run_pair(view, fact_t, dim_t, f_reader, d_reader):
    """One coordinated maintenance run — the run_maintained_join_report
    protocol in miniature: windows start at max(checkpoint, view
    through), through is the instant PAIR, snapshots are time-travel
    pinned to the pair (never 'latest'). Each side's covered instant
    is the staged window end, else the view token, else the reader
    checkpoint (a window consumed by a run that folded nothing — the
    dim seed at fact genesis — leaves only the checkpoint)."""
    seen = view.through() or {}
    f_win = f_reader.read(after=seen.get("fact"))
    d_win = d_reader.read(after=seen.get("dim"))
    f_end = f_reader.staged_end() or seen.get("fact") or f_reader.checkpoint()
    d_end = d_reader.staged_end() or seen.get("dim") or d_reader.checkpoint()
    if f_win is None and d_win is None:
        f_reader.commit()
        d_reader.commit()
        return False
    f_prev = seen.get("fact")
    view.apply(
        f_win,
        {"dim": d_win},
        dim_states={"dim": lambda t: dim_t.snapshot(as_of=t)},
        fact_base=(
            (lambda: fact_t.snapshot(as_of=f_prev)) if f_prev else None
        ),
        through={"fact": f_end, "dim": d_end},
        base=lambda: _joined(fact_t, dim_t, f_asof=f_end, d_asof=d_end),
    )
    f_reader.commit()
    d_reader.commit()
    return True


@pytest.mark.slow
def test_join_ivm_tracks_recompute_over_random_history(spark, tmp_path):
    """Property: after every coordinated window pair the maintained
    join aggregate equals a full fact⋈dim recompute — random interleaved
    fact/dim upserts and deletes, dim attribute churn (group migration
    via the DIM side), NULL measures, unmatched fact keys (jk beyond the
    dim domain), heavy precombine collisions."""
    rng = random.Random(13)
    fact_t, dim_t, f_reader, d_reader, view = _make(spark, tmp_path, "r")
    # seed the dimension (genesis pair: dim-only window at fact genesis)
    dim_t.upsert(_dim(spark, [(j, 0, rng.choice("xyz")) for j in range(6)]))
    _run_pair(view, fact_t, dim_t, f_reader, d_reader)
    assert _maintained(view.current()) == _recompute(fact_t, dim_t) == []

    for step in range(8):
        roll = rng.random()
        if roll < 0.45:  # fact churn (inserts + updates)
            fact_t.upsert(
                _fact(
                    spark,
                    [
                        (
                            rng.randrange(12),
                            step * 100 + i,
                            rng.randrange(8),  # jk 6,7 unmatched
                            None
                            if rng.random() < 0.2
                            else rng.randrange(-50, 500),
                        )
                        for i in range(rng.randrange(2, 6))
                    ],
                )
            )
        elif roll < 0.65:  # dim attribute churn → group migrations
            dim_t.upsert(
                _dim(
                    spark,
                    [
                        (rng.randrange(6), step * 100 + i, rng.choice("xyz"))
                        for i in range(rng.randrange(1, 4))
                    ],
                )
            )
        elif roll < 0.8 and fact_t.latest_commit():  # fact deletes
            keys = [r["fk"] for r in fact_t.snapshot().select("fk").collect()]
            if keys:
                fact_t.delete(
                    spark.createDataFrame(
                        [(k,) for k in rng.sample(keys, max(1, len(keys) // 3))],
                        "fk int",
                    )
                )
        else:  # dim deletes: every matched fact row leaves the view
            keys = [r["jk"] for r in dim_t.snapshot().select("jk").collect()]
            if keys:
                dim_t.delete(
                    spark.createDataFrame(
                        [(k,) for k in rng.sample(keys, 1)], "jk int"
                    )
                )
        _run_pair(view, fact_t, dim_t, f_reader, d_reader)
        assert _maintained(view.current()) == _recompute(fact_t, dim_t), (
            f"diverged at step {step}"
        )


def test_join_ivm_dim_term_group_migration(spark, tmp_path):
    """The F₀⋈ΔD path in isolation: a dimension attribute update must
    migrate every matching fact row between groups without any fact
    window — the case the r7 single-table view could only rebuild()
    for."""
    fact_t, dim_t, f_reader, d_reader, view = _make(spark, tmp_path, "m")
    dim_t.upsert(_dim(spark, [(1, 0, "x"), (2, 0, "y")]))
    fact_t.upsert(
        _fact(spark, [(10, 0, 1, 100), (11, 0, 1, 7), (12, 0, 2, 50)])
    )
    _run_pair(view, fact_t, dim_t, f_reader, d_reader)
    assert _maintained(view.current()) == [
        ("x", 2, 107, 7, 100),
        ("y", 1, 50, 50, 50),
    ]
    # dim-only window: jk=1 migrates x → y (both its fact rows move)
    dim_t.upsert(_dim(spark, [(1, 1, "y")]))
    _run_pair(view, fact_t, dim_t, f_reader, d_reader)
    assert (
        _maintained(view.current())
        == _recompute(fact_t, dim_t)
        == [("y", 3, 157, 7, 100)]
    )


def test_join_ivm_dim_delete_and_reappear(spark, tmp_path):
    """Deleting a dim key retracts all its fact matches (inner-join
    semantics); re-inserting it brings them back — both through the
    dim term, no fact window involved."""
    fact_t, dim_t, f_reader, d_reader, view = _make(spark, tmp_path, "d")
    dim_t.upsert(_dim(spark, [(1, 0, "x"), (2, 0, "x")]))
    fact_t.upsert(_fact(spark, [(10, 0, 1, 5), (11, 0, 2, 9)]))
    _run_pair(view, fact_t, dim_t, f_reader, d_reader)
    dim_t.delete(spark.createDataFrame([(1,)], "jk int"))
    _run_pair(view, fact_t, dim_t, f_reader, d_reader)
    assert (
        _maintained(view.current())
        == _recompute(fact_t, dim_t)
        == [("x", 1, 9, 9, 9)]
    )
    dim_t.upsert(_dim(spark, [(1, 1, "z")]))  # reappears in a new group
    _run_pair(view, fact_t, dim_t, f_reader, d_reader)
    assert (
        _maintained(view.current())
        == _recompute(fact_t, dim_t)
        == [("x", 1, 9, 9, 9), ("z", 1, 5, 5, 5)]
    )


def test_join_ivm_exactly_once_pair_token(spark, tmp_path):
    """Redelivering the SAME pair is a guarded no-op; a pair with one
    side covered and the other advancing raises (partial redelivery
    would double-count the covered side)."""
    fact_t, dim_t, f_reader, d_reader, view = _make(spark, tmp_path, "t")
    dim_t.upsert(_dim(spark, [(1, 0, "x")]))
    fact_t.upsert(_fact(spark, [(10, 0, 1, 5)]))
    f_win = f_reader.read()
    d_win = d_reader.read()
    pair = {"fact": f_reader.staged_end(), "dim": d_reader.staged_end()}
    dim_states = {"dim": lambda t: dim_t.snapshot(as_of=t)}
    assert view.apply(
        f_win, {"dim": d_win}, dim_states=dim_states, through=pair
    )
    # crash before the readers commit: same pair redelivered → no-op
    f_win2, d_win2 = f_reader.read(), d_reader.read()
    assert (
        view.apply(
            f_win2, {"dim": d_win2}, dim_states=dim_states, through=pair
        )
        is False
    )
    f_reader.commit()
    d_reader.commit()
    assert _maintained(view.current()) == [("x", 1, 5, 5, 5)]
    # partial redelivery: fact side already covered, dim advances
    dim_t.upsert(_dim(spark, [(1, 1, "y")]))
    d_win3 = d_reader.read()
    bad = {"fact": pair["fact"], "dim": d_reader.staged_end()}
    with pytest.raises(ValueError, match="double-count"):
        view.apply(
            f_win2,  # a fact window whose instants the view already folded
            {"dim": d_win3},
            dim_states=dim_states,
            fact_base=fact_t.snapshot(as_of=pair["fact"]),
            through=bad,
        )


def test_join_ivm_lazy_snapshots(spark, tmp_path):
    """dim_state is not constructed on a dim-only window; fact_base is
    not constructed on a fact-only window (each term's time-travel read
    happens only when that term runs)."""
    fact_t, dim_t, f_reader, d_reader, view = _make(spark, tmp_path, "l")
    dim_t.upsert(_dim(spark, [(1, 0, "x")]))
    fact_t.upsert(_fact(spark, [(10, 0, 1, 5)]))
    _run_pair(view, fact_t, dim_t, f_reader, d_reader)

    def explode():
        raise AssertionError("lazily-guarded snapshot was constructed")

    # fact-only window: fact_base must not be touched
    fact_t.upsert(_fact(spark, [(11, 1, 1, 6)]))
    f_win = f_reader.read(after=(view.through() or {}).get("fact"))
    seen = view.through()
    view.apply(
        f_win,
        {"dim": None},
        dim_states={"dim": lambda t: dim_t.snapshot(as_of=t)},
        fact_base=explode,
        through={"fact": f_reader.staged_end(), "dim": seen["dim"]},
    )
    f_reader.commit()
    # dim-only window: dim_state must not be touched
    dim_t.upsert(_dim(spark, [(1, 1, "y")]))
    d_win = d_reader.read(after=(view.through() or {}).get("dim"))
    seen = view.through()
    view.apply(
        None,
        {"dim": d_win},
        dim_states={"dim": lambda t: explode()},
        fact_base=lambda: fact_t.snapshot(as_of=seen["fact"]),
        through={"fact": seen["fact"], "dim": d_reader.staged_end()},
    )
    d_reader.commit()
    assert _maintained(view.current()) == _recompute(fact_t, dim_t)


def test_join_ivm_ambiguous_and_unknown_columns_raise(spark, tmp_path):
    """Side resolution fails loudly: a maintained column found on both
    sides, or on neither, raises at apply time."""
    fact_t, dim_t, f_reader, d_reader, _ = _make(spark, tmp_path, "a")
    d1 = dim_t.upsert(_dim(spark, [(1, 0, "x")]))
    fact_t.upsert(_fact(spark, [(10, 0, 1, 5)]))
    f_win = f_reader.read()
    pair = {"fact": f_reader.staged_end(), "dim": d1}
    dim_states = {"dim": lambda t: dim_t.snapshot(as_of=t)}
    bad = MaintainedJoinAggregate(
        spark,
        str(tmp_path / "viewbad"),
        on=("jk", "jk"),
        group_cols=["nope"],
        sum_cols=["famount"],
    )
    with pytest.raises(ValueError, match="NEITHER"):
        bad.apply(f_win, {"dim": None}, dim_states=dim_states, through=pair)
    # 'jk' exists on both sides (fact data col AND dim record key) and
    # is NOT the equi-join pair here (fact joins on 'fk') — ambiguous
    ambiguous = MaintainedJoinAggregate(
        spark,
        str(tmp_path / "viewamb"),
        on=("fk", "jk"),
        group_cols=["jk"],
        sum_cols=["famount"],
    )
    with pytest.raises(ValueError, match="BOTH"):
        ambiguous.apply(
            f_win, {"dim": None}, dim_states=dim_states, through=pair
        )
    # but the SAME-NAMED equi-join key is legal (r9): the join equality
    # makes the two copies identical, the fact side serves it — e.g.
    # grouping or distinct-counting by the join key itself
    by_key = MaintainedJoinAggregate(
        spark,
        str(tmp_path / "viewkey"),
        on=("jk", "jk"),
        group_cols=["jk"],
        sum_cols=["famount"],
    )
    by_key.apply(f_win, {"dim": None}, dim_states=dim_states, through=pair)
    assert sorted(
        (r["jk"], r["n_rows"], r["sum_famount"])
        for r in by_key.current().collect()
    ) == [(1, 1, 5)]


def _joined_outer(fact_t, dim_t, f_asof=None, d_asof=None):
    fs, ds = fact_t.snapshot(as_of=f_asof), dim_t.snapshot(as_of=d_asof)
    if fs is None:
        return None
    if ds is None:
        # outer semantics with an empty dim: every fact row is
        # unmatched (the all-NULL group)
        return fs.select(
            F.lit(None).cast("string").alias("grp"), fs["famount"]
        )
    return fs.join(ds, fs["jk"] == ds["jk"], "left").select(
        ds["grp"], fs["famount"]
    )


def _recompute_outer(fact_t, dim_t):
    j = _joined_outer(fact_t, dim_t)
    if j is None:
        return []
    return sorted(
        (
            (
                r["grp"],
                r["n_rows"],
                r["sum_famount"],
                r["min_famount"],
                r["max_famount"],
            )
            for r in j.groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("famount").alias("sum_famount"),
                F.min("famount").alias("min_famount"),
                F.max("famount").alias("max_famount"),
            )
            .collect()
        ),
        key=_nskey,
    )


@pytest.mark.slow
def test_outer_join_ivm_tracks_recompute_over_random_history(
    spark, tmp_path
):
    """how='left' (r9, VERDICT r8 #6): after every coordinated pair the
    maintained LEFT-OUTER join aggregate equals a full fact⟕dim
    recompute — unmatched fact keys live in the NULL dim-attribute
    group, a dim key appearing migrates its rows OUT of it, a dim
    delete migrates them back IN, dim attribute updates move rows
    between real groups without touching the NULL group, and the NULL
    group's MIN/MAX heal through the (null-safe) dirty recompute."""
    rng = random.Random(29)
    fact_t = KeyedTable(
        spark, str(tmp_path / "ofact"), record_key="fk",
        precombine="fpre", keep_versions=25,
    )
    dim_t = KeyedTable(
        spark, str(tmp_path / "odim"), record_key="jk",
        precombine="dpre", keep_versions=25,
    )
    f_reader = CDCReader(
        spark, "ofact", fact_t.root,
        checkpoint_root=str(tmp_path / "ockf"),
    )
    d_reader = CDCReader(
        spark, "odim", dim_t.root,
        checkpoint_root=str(tmp_path / "ockd"),
    )
    view = MaintainedJoinAggregate(
        spark,
        str(tmp_path / "oview"),
        on=("jk", "jk"),
        group_cols=["grp"],
        sum_cols=["famount"],
        minmax_cols=["famount"],
        how="left",
    )

    def run_pair():
        seen = view.through() or {}
        f_win = f_reader.read(after=seen.get("fact"))
        d_win = d_reader.read(after=seen.get("dim"))
        f_end = f_reader.staged_end() or seen.get("fact")
        d_end = d_reader.staged_end() or seen.get("dim")
        if f_win is None and d_win is None:
            f_reader.commit()
            d_reader.commit()
            return
        f_prev = seen.get("fact")
        view.apply(
            f_win,
            {"dim": d_win},
            dim_states={"dim": lambda t: dim_t.snapshot(as_of=t)},
            fact_base=(
                (lambda: fact_t.snapshot(as_of=f_prev)) if f_prev else None
            ),
            through={"fact": f_end, "dim": d_end},
            base=lambda: view.joined(
                fact_t.snapshot(as_of=f_end),
                {"dim": dim_t.snapshot(as_of=d_end)},
            ),
        )
        f_reader.commit()
        d_reader.commit()

    # genesis with a dim that matches NOTHING: with OUTER semantics the
    # view is non-empty from the start — every fact row in the NULL
    # group (an inner view would be empty here)
    dim_t.upsert(_dim(spark, [(99, 0, "zz")]))
    fact_t.upsert(
        _fact(spark, [(1, 0, 6, 40), (2, 0, 0, 10), (3, 0, 1, None)])
    )
    run_pair()
    assert _maintained(view.current()) == _recompute_outer(fact_t, dim_t)
    assert (
        view.current().filter(F.col("grp").isNull()).collect()[0]["n_rows"]
        == 3
    )

    dim_t.upsert(_dim(spark, [(j, 0, rng.choice("xyz")) for j in range(6)]))
    run_pair()
    assert _maintained(view.current()) == _recompute_outer(fact_t, dim_t)

    for step in range(8):
        roll = rng.random()
        if roll < 0.45:  # fact churn; jk 6,7 stay PERSISTENTLY unmatched
            fact_t.upsert(
                _fact(
                    spark,
                    [
                        (
                            rng.randrange(12),
                            step * 100 + i,
                            rng.randrange(8),
                            None
                            if rng.random() < 0.2
                            else rng.randrange(-50, 500),
                        )
                        for i in range(rng.randrange(2, 6))
                    ],
                )
            )
        elif roll < 0.6:  # dim attribute churn → real-group migrations
            dim_t.upsert(
                _dim(
                    spark,
                    [
                        (rng.randrange(6), step * 100 + i, rng.choice("xyz"))
                        for i in range(rng.randrange(1, 4))
                    ],
                )
            )
        elif roll < 0.7:  # dim key APPEARS: rows leave the NULL group
            dim_t.upsert(
                _dim(spark, [(rng.choice([6, 7]), step * 100, "new")])
            )
        elif roll < 0.85 and fact_t.latest_commit():  # fact deletes
            keys = [
                r["fk"] for r in fact_t.snapshot().select("fk").collect()
            ]
            if keys:
                fact_t.delete(
                    spark.createDataFrame(
                        [
                            (k,)
                            for k in rng.sample(keys, max(1, len(keys) // 3))
                        ],
                        "fk int",
                    )
                )
        else:  # dim deletes: matched rows fall back INTO the NULL group
            keys = [
                r["jk"] for r in dim_t.snapshot().select("jk").collect()
            ]
            if keys:
                dim_t.delete(
                    spark.createDataFrame(
                        [(k,) for k in rng.sample(keys, 1)], "jk int"
                    )
                )
        run_pair()
        assert _maintained(view.current()) == _recompute_outer(
            fact_t, dim_t
        ), f"diverged at step {step}"


def test_outer_join_ivm_dim_key_as_maintained_column(spark, tmp_path):
    """r9 review fix: a maintained column that IS the dim record key
    (different name from the fact join column) must flow through the
    outer NULL-group term — its type comes from the window's top-level
    key column, not the payload struct (which excludes the key)."""
    fact_t = KeyedTable(
        spark, str(tmp_path / "kfact"), record_key="fk",
        precombine="fpre", keep_versions=25,
    )
    dim_t = KeyedTable(
        spark, str(tmp_path / "kdim"), record_key="dkey",
        precombine="dpre", keep_versions=25,
    )
    view = MaintainedJoinAggregate(
        spark,
        str(tmp_path / "kview"),
        on=("jk", "dkey"),
        group_cols=["dkey"],  # group by the DIM KEY itself
        sum_cols=["famount"],
        how="left",
    )
    dim_t.upsert(
        spark.createDataFrame([(1, 0, "x")], "dkey int, dpre int, grp string")
    )
    f1 = fact_t.upsert(
        _fact(spark, [(10, 0, 1, 5), (11, 0, 2, 7)])
    )
    d1 = dim_t.latest_commit()
    dim_states = {"dim": lambda t: dim_t.snapshot(as_of=t)}
    view.apply(
        fact_t.cdc(end=f1),
        {"dim": None},
        dim_states=dim_states,
        through={"fact": f1, "dim": d1},
    )
    got = sorted(
        ((r["dkey"], r["n_rows"], r["sum_famount"]) for r in view.current().collect()),
        key=_nskey,
    )
    assert got == [(1, 1, 5), (None, 1, 7)]
    # the dim key APPEARS: the F0 ⋈ ΔD existence term must move key 2's
    # row out of the NULL group — exercising dim_types[record_key]
    d2 = dim_t.upsert(
        spark.createDataFrame([(2, 0, "y")], "dkey int, dpre int, grp string")
    )
    view.apply(
        None,
        {"dim": dim_t.cdc(begin=d1, end=d2)},
        dim_states=dim_states,
        fact_base=lambda: fact_t.snapshot(as_of=f1),
        through={"fact": f1, "dim": d2},
    )
    got = sorted(
        ((r["dkey"], r["n_rows"], r["sum_famount"]) for r in view.current().collect()),
        key=_nskey,
    )
    assert got == [(1, 1, 5), (2, 1, 7)]


# -- r11 (VERDICT r10 #3): dim-term F₀ routed through the bucket index --


def test_routed_fact_base_reads_only_touched_buckets(spark, tmp_path):
    """With the fact a BucketedTable RECORD-KEYED on the join column,
    the dim term's F₀ read opens ONLY the changed keys' buckets' file
    slices (inputFiles), pinned to the OLD fact instant — and returns
    exactly the rows the full-snapshot read would after the key
    prune. Non-routable shapes fall back to the snapshot."""
    import re

    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.operators.ivm import (
        routed_fact_base,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.filegroups import (
        BucketedTable,
    )

    fact_t = BucketedTable(
        spark, str(tmp_path / "bfact"), record_key="jk",
        precombine="fpre", num_buckets=8, keep_versions=25,
    )
    dim_t = KeyedTable(
        spark, str(tmp_path / "bdim"), record_key="jk",
        precombine="dpre", keep_versions=25,
    )
    fact_t.upsert(
        _fact(spark, [(k, 0, k, 10 * k) for k in range(40)]).drop("fk")
        .withColumnRenamed("famount", "famount")
    )
    f1 = fact_t.latest_commit()
    dim_t.upsert(_dim(spark, [(k, 0, "A") for k in range(40)]))
    d1 = dim_t.latest_commit()
    # fact moves on (so f1 is genuinely OLD), then a dim-only change
    fact_t.upsert(
        _fact(spark, [(0, 1, 0, 999)]).drop("fk")
    )
    dim_t.upsert(_dim(spark, [(1, 1, "B"), (9, 1, "B")]))
    win = dim_t.cdc(begin=d1)

    fb = routed_fact_base(fact_t, [("jk", "jk", win)], as_of=f1)
    got = sorted((r["jk"], r["famount"]) for r in fb.collect())
    assert got == [(1, 10), (9, 90)]  # the OLD instant's rows, pruned
    buckets = {
        int(m.group(1))
        for f in fb.inputFiles()
        for m in [re.search(r"/b=(\d+)/", f)]
        if m
    }
    expected = set(fact_t._touched_buckets(win.select("jk")))
    assert buckets and buckets <= expected
    assert len(buckets) <= 2 < 8  # O(touched buckets), not the table

    # fallback 1: KeyedTable fact → the plain time-travel snapshot
    kfact = KeyedTable(
        spark, str(tmp_path / "kfact"), record_key="fk", precombine="fpre"
    )
    kfact.upsert(_fact(spark, [(i, 0, i % 5, i) for i in range(10)]))
    kf1 = kfact.latest_commit()
    fb2 = routed_fact_base(kfact, [("jk", "jk", win)], as_of=kf1)
    assert fb2.count() == 10  # unpruned snapshot (fold prunes later)

    # fallback 2: bucketed fact NOT keyed on the join column
    fb3 = routed_fact_base(fact_t, [("other_col", "jk", win)], as_of=f1)
    assert fb3.count() == 40

    # fallback 3 (r11 review): dim joined off a NON-key column — the
    # window's record-key values are NOT fact_on probes; must fall
    # back to the snapshot, never a silently-empty routed read
    fb4 = routed_fact_base(fact_t, [("jk", "some_attr", win)], as_of=f1)
    assert fb4.count() == 40


def test_join_ivm_bucketed_fact_end_to_end(spark, tmp_path):
    """The scheduled join loop over a BUCKETED fact keyed on the join
    column (the routable layout): seed, fact-only, dim-only (the
    routed F₀⋈ΔD path), dim delete — maintained view equals direct
    recompute at every step."""
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.pipeline import (
        MaintainedJoinReportConfig,
        run_maintained_join_report,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.delivery import (
        EmailSender,
    )
    from sending_weekly_daily_csv_reports_from_hudi_datalake_to_customers_via_email_using_glue_and_sns_or_ses_spark.sinks.filegroups import (
        BucketedTable,
    )

    FACT_S = "cust int, opre int, amount long"
    DIM_S = "ckey int, cpre int, segment string"
    fact = BucketedTable(
        spark, str(tmp_path / "bjfact"), record_key="cust",
        precombine="opre", num_buckets=8, keep_versions=25,
    )
    dim = KeyedTable(
        spark, str(tmp_path / "bjdim"), record_key="ckey", precombine="cpre"
    )
    cfg = MaintainedJoinReportConfig(
        fact_path=fact.root,
        fact_name="orders_bj",
        dim_path=dim.root,
        dim_name="customers_bj",
        on=("cust", "ckey"),
        group_cols=["segment"],
        sum_cols=["amount"],
        view_path=str(tmp_path / "bjview"),
        report_base=str(tmp_path / "bjreports"),
        checkpoint_root=str(tmp_path / "bjck"),
        recipients=["a@example.com"],
    )
    sender = EmailSender()

    def recompute():
        fs, ds = fact.snapshot(), dim.snapshot()
        if fs is None or ds is None:
            return []
        return sorted(
            (r["segment"], r["n_rows"], r["sum_amount"])
            for r in fs.join(ds, fs["cust"] == ds["ckey"])
            .groupBy("segment")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("amount").alias("sum_amount"),
            )
            .collect()
        )

    def rows(df):
        return sorted(
            (r["segment"], r["n_rows"], r["sum_amount"])
            for r in df.collect()
        )

    dim.upsert(
        spark.createDataFrame(
            [(k, 0, "RETAIL" if k % 2 else "AUTO") for k in range(20)],
            DIM_S,
        )
    )
    fact.upsert(
        spark.createDataFrame(
            [(k, 0, 10 * k) for k in range(20)], FACT_S
        )
    )
    res = run_maintained_join_report(spark, cfg, sender=sender)
    assert rows(res.df) == recompute()

    # fact-only window
    fact.upsert(spark.createDataFrame([(3, 1, 1000)], FACT_S))
    res2 = run_maintained_join_report(spark, cfg, sender=sender)
    assert rows(res2.df) == recompute()

    # dim-only window: the ROUTED F₀⋈ΔD path (bucketed fact, dim keys
    # resolve to buckets)
    dim.upsert(spark.createDataFrame([(3, 1, "GOV"), (8, 1, "GOV")], DIM_S))
    res3 = run_maintained_join_report(spark, cfg, sender=sender)
    assert rows(res3.df) == recompute()

    # dim delete: joined fact rows leave the view through the dim term
    dim.delete(spark.createDataFrame([(8,)], "ckey int"))
    res4 = run_maintained_join_report(spark, cfg, sender=sender)
    assert rows(res4.df) == recompute()
