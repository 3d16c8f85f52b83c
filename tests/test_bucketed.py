"""Bucketed snapshot tests — the 100 TB headline optimization: two
snapshots bucketed+sorted by key diff with ZERO exchanges (the shuffle
is the entire cost of the naive diff plan at scale)."""

from pyspark.sql import functions as F

from dbdiff_spark.diff import DELETED, INSERTED, UPDATED, DiffMode
from dbdiff_spark.io import load_table
from dbdiff_spark.snapshot import SnapshotStore, diff_snapshots


def _mutate(customer):
    return (
        customer.filter(F.col("c_custkey") % 10 != 7)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") % 10 == 3, F.col("c_acctbal") + 100.0
            ).otherwise(F.col("c_acctbal")),
        )
    )


def test_bucketed_diff_is_exchange_free_and_correct(spark, sf_dir, tmp_path, monkeypatch):
    """In the exchange regime, forced (sf0.001's customer falls under the
    one-task bound, whose plan has no exchange either): no exchange must
    then come from the bucketing alone."""
    from conftest import force_diff_regime

    force_diff_regime(monkeypatch, "exchange")
    customer = load_table(spark, sf_dir, "customer")
    store = SnapshotStore(spark)
    before = store.collect(
        {"customer": customer},
        {"customer": ["c_custkey"]},
        str(tmp_path / "b"),
        buckets=4,
    )
    after = store.collect(
        {"customer": _mutate(customer)},
        {"customer": ["c_custkey"]},
        str(tmp_path / "a"),
        buckets=4,
    )
    assert before.catalog_tables and before.buckets == 4

    results = diff_snapshots(spark, before, after, mode=DiffMode.TYPED)
    res = results["customer"]
    plan = res.df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, f"bucketed diff should not shuffle:\n{plan}"

    # and the diff itself is still exactly right
    rows = res.df.collect()
    statuses = sorted(
        (r["c_custkey"], r["diff_status"], r["is_before"]) for r in rows
    )
    base = customer.collect()
    expect = []
    for r in base:
        k = r["c_custkey"]
        if k % 10 == 7:
            expect.append((k, DELETED, True))
        elif k % 10 == 3:
            expect.append((k, UPDATED, True))
            expect.append((k, UPDATED, False))
    assert statuses == sorted(expect)


def test_unbucketed_diff_has_exchanges(spark, sf_dir, tmp_path, monkeypatch):
    """Control: the same diff without bucketing shuffles both sides (in
    the exchange regime, forced: sf0.001's customer falls under the
    one-task bound)."""
    from conftest import force_diff_regime

    force_diff_regime(monkeypatch, "exchange")
    customer = load_table(spark, sf_dir, "customer")
    store = SnapshotStore(spark)
    before = store.collect(
        {"customer": customer}, {"customer": ["c_custkey"]}, str(tmp_path / "b")
    )
    after = store.collect(
        {"customer": _mutate(customer)},
        {"customer": ["c_custkey"]},
        str(tmp_path / "a"),
    )
    results = diff_snapshots(spark, before, after, mode=DiffMode.TYPED)
    plan = results["customer"].df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


def test_bucketed_manifest_roundtrip(spark, sf_dir, tmp_path):
    customer = load_table(spark, sf_dir, "customer")
    store = SnapshotStore(spark)
    snap = store.collect(
        {"customer": customer},
        {"customer": ["c_custkey"]},
        str(tmp_path / "b"),
        buckets=4,
    )
    from dbdiff_spark.snapshot import Snapshot

    loaded = Snapshot.load_manifest(str(tmp_path / "b"))
    assert loaded.buckets == 4
    assert loaded.catalog_tables == snap.catalog_tables
    # same session: catalog read works and row count matches
    assert loaded.load(spark, "customer").count() == customer.count()
