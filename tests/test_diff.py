"""Per-operator tests for the diff core (SURVEY §5.2 item 1).

Covers: classification truth table, modified_columns exactness, NULL
semantics, composite keys (incl. the reference's concat-collision case,
which we must NOT reproduce), no-PK all-columns keys, schema drift, and
string-vs-typed comparison modes.
"""

from functools import reduce

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dbdiff_spark.diff import (
    DELETED,
    INSERTED,
    NOT_MODIFIED,
    UPDATED,
    DiffMode,
    diff_summary,
    diff_tables,
    ordered_output,
)
from dbdiff_spark.io import load_table


def collect_sorted(res):
    return [
        r.asDict()
        for r in ordered_output(res).collect()
    ]


def test_classification_truth_table(spark):
    before = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "id int, s string, v double"
    )
    after = spark.createDataFrame(
        [(1, "a", 10.0), (2, "B", 20.0), (4, "d", 40.0)], "id int, s string, v double"
    )
    res = diff_tables(before, after, ["id"], mode=DiffMode.TYPED)
    rows = collect_sorted(res)
    # id=1 unchanged -> absent; id=2 updated pair; id=3 deleted; id=4 inserted
    assert [(r["id"], r["diff_status"], r["is_before"]) for r in rows] == [
        (2, UPDATED, True),
        (2, UPDATED, False),
        (3, DELETED, True),
        (4, INSERTED, False),
    ]
    upd_before = rows[0]
    assert upd_before["modified_columns"] == ["s"]
    assert upd_before["s"] == "b"
    assert rows[1]["s"] == "B"
    assert rows[2]["v"] == 30.0
    assert rows[3]["v"] == 40.0


def test_include_unchanged(spark):
    before = spark.createDataFrame([(1, "a")], "id int, s string")
    after = spark.createDataFrame([(1, "a")], "id int, s string")
    res = diff_tables(before, after, ["id"], include_unchanged=True)
    rows = collect_sorted(res)
    assert len(rows) == 1
    assert rows[0]["diff_status"] == NOT_MODIFIED


def test_modified_columns_exactness_many_columns(spark):
    cols = "id int, a string, b string, c string, d string, e string"
    before = spark.createDataFrame([(1, "1", "2", "3", "4", "5")], cols)
    after = spark.createDataFrame([(1, "1", "x", "3", "y", "5")], cols)
    res = diff_tables(before, after, ["id"])
    rows = collect_sorted(res)
    assert rows[0]["modified_columns"] == ["b", "d"]
    assert rows[1]["modified_columns"] == ["b", "d"]


def test_null_semantics_null_equals_null(spark):
    """Reference renders NULL as '<NULL>' so NULL==NULL (SURVEY §1.4).
    We reproduce via null-safe equality: a row whose nullable column is
    NULL on both sides is NOT_MODIFIED."""
    before = spark.createDataFrame([(1, None), (2, "x")], "id int, s string")
    after = spark.createDataFrame([(1, None), (2, None)], "id int, s string")
    res = diff_tables(before, after, ["id"], mode=DiffMode.TYPED)
    rows = collect_sorted(res)
    # id=1: NULL->NULL unchanged. id=2: "x"->NULL updated.
    assert [(r["id"], r["diff_status"]) for r in rows] == [
        (2, UPDATED),
        (2, UPDATED),
    ]
    assert rows[0]["modified_columns"] == ["s"]


def test_null_in_key_matches(spark):
    """NULL key values must match across snapshots (reference keys on the
    '<NULL>' string, so NULL keys are legal and match)."""
    before = spark.createDataFrame([(None, "a")], "k int, v string")
    after = spark.createDataFrame([(None, "b")], "k int, v string")
    res = diff_tables(before, after, ["k"], mode=DiffMode.TYPED)
    rows = collect_sorted(res)
    assert [r["diff_status"] for r in rows] == [UPDATED, UPDATED]


def test_composite_key_no_collision(spark):
    """Reference concatenates PK strings with no separator so
    ('ab','c') == ('a','bc') — extract_data.go:149-160.  Composite join
    keys must NOT collide (SURVEY §1.5.1 regression)."""
    before = spark.createDataFrame([("ab", "c", 1)], "k1 string, k2 string, v int")
    after = spark.createDataFrame([("a", "bc", 1)], "k1 string, k2 string, v int")
    res = diff_tables(before, after, ["k1", "k2"], mode=DiffMode.TYPED)
    rows = collect_sorted(res)
    assert sorted(r["diff_status"] for r in rows) == [DELETED, INSERTED]


def test_no_pk_all_columns_key(spark):
    """events-style fallback: key = all columns → only INSERT/DELETE."""
    before = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    after = spark.createDataFrame([(1, "a"), (2, "c")], "id int, s string")
    res = diff_tables(before, after, ["id", "s"], mode=DiffMode.TYPED)
    rows = collect_sorted(res)
    assert [(r["id"], r["s"], r["diff_status"]) for r in rows] == [
        (2, "b", DELETED),
        (2, "c", INSERTED),
    ]


def test_schema_drift_all_columns_modified(spark):
    """Column-set change ⇒ every column modified, row UPDATED
    (extract_data.go:162-171)."""
    before = spark.createDataFrame([(1, "a")], "id int, s string")
    after = spark.createDataFrame([(1, "a", 5)], "id int, s string, extra int")
    res = diff_tables(before, after, ["id"], mode=DiffMode.TYPED)
    rows = collect_sorted(res)
    assert [r["diff_status"] for r in rows] == [UPDATED, UPDATED]
    assert set(rows[0]["modified_columns"]) == {"id", "s", "extra"}
    assert rows[0]["extra"] is None  # before side lacks the new column
    assert rows[1]["extra"] == 5


def test_string_mode_formatting_sensitivity(spark):
    """Fidelity mode compares string renderings: 1.0 vs 1.00 in a
    DECIMAL column differs after cast (reference behavior §1.5.2).
    Typed mode ALSO flags it here because the column TYPE changed
    between snapshots (decimal(10,1) → decimal(10,2)): cross-side type
    conflicts compare on the string rendering the output carries —
    numeric coercion would silently hide real changes."""
    before = spark.createDataFrame([(1, "1.0")], "id int, v string").select(
        "id", F.col("v").cast("decimal(10,1)").alias("v")
    )
    after = spark.createDataFrame([(1, "1.00")], "id int, v string").select(
        "id", F.col("v").cast("decimal(10,2)").alias("v")
    )
    res_string = diff_tables(before, after, ["id"], mode=DiffMode.STRING)
    assert [r["diff_status"] for r in collect_sorted(res_string)] == [UPDATED, UPDATED]
    res_typed = diff_tables(before, after, ["id"], mode=DiffMode.TYPED)
    assert [r["diff_status"] for r in collect_sorted(res_typed)] == [UPDATED, UPDATED]


def test_typed_mode_same_type_value_formats_equal(spark):
    """With NO type conflict, typed mode compares native values: the
    same double on both sides is NOT_MODIFIED regardless of rendering."""
    before = spark.createDataFrame([(1, 1.0)], "id int, v double")
    after = spark.createDataFrame([(1, 1.0)], "id int, v double")
    res = diff_tables(before, after, ["id"], mode=DiffMode.TYPED)
    assert collect_sorted(res) == []


def test_empty_before_and_after(spark):
    schema = "id int, s string"
    empty = spark.createDataFrame([], schema)
    data = spark.createDataFrame([(1, "a")], schema)
    res = diff_tables(empty, data, ["id"])
    assert [r["diff_status"] for r in collect_sorted(res)] == [INSERTED]
    res = diff_tables(data, empty, ["id"])
    assert [r["diff_status"] for r in collect_sorted(res)] == [DELETED]
    res = diff_tables(empty, empty, ["id"])
    assert collect_sorted(res) == []


def test_diff_summary_counts_pairs_once(spark):
    before = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id int, s string")
    after = spark.createDataFrame([(1, "x"), (2, "y"), (4, "d")], "id int, s string")
    res = diff_tables(before, after, ["id"])
    counts = {r["diff_status"]: r["n_rows"] for r in diff_summary(res.df).collect()}
    assert counts == {UPDATED: 2, DELETED: 1, INSERTED: 1}


def test_key_validation(spark):
    df = spark.createDataFrame([(1,)], "id int")
    with pytest.raises(ValueError):
        diff_tables(df, df, [])
    with pytest.raises(ValueError):
        diff_tables(df, df, ["nope"])


def test_seeded_mutation_recovery(spark, sf_dir):
    """SURVEY §5.2 item 4: mutate customer with known inserts/updates/
    deletes; the diff must recover exactly those keys and columns."""
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    before = customer
    after = (
        customer.filter(F.col("c_custkey") % 10 != 7)  # deletes
        .withColumn(
            "c_acctbal",
            F.when(F.col("c_custkey") % 10 == 3, F.col("c_acctbal") + 100.0).otherwise(
                F.col("c_acctbal")
            ),
        )
        .unionByName(
            customer.filter(F.col("c_custkey") % 10 == 1).withColumn(
                "c_custkey", F.col("c_custkey") + 1_000_000
            )
        )
    )
    res = diff_tables(before, after, ["c_custkey"], mode=DiffMode.TYPED)
    rows = collect_sorted(res)
    base = [r.asDict() for r in customer.collect()]
    expect_deleted = {r["c_custkey"] for r in base if r["c_custkey"] % 10 == 7}
    expect_updated = {r["c_custkey"] for r in base if r["c_custkey"] % 10 == 3}
    expect_inserted = {
        r["c_custkey"] + 1_000_000 for r in base if r["c_custkey"] % 10 == 1
    }
    got_deleted = {r["c_custkey"] for r in rows if r["diff_status"] == DELETED}
    got_updated = {r["c_custkey"] for r in rows if r["diff_status"] == UPDATED}
    got_inserted = {r["c_custkey"] for r in rows if r["diff_status"] == INSERTED}
    assert got_deleted == expect_deleted
    assert got_updated == expect_updated
    assert got_inserted == expect_inserted
    for r in rows:
        if r["diff_status"] == UPDATED:
            assert r["modified_columns"] == ["c_acctbal"]


# --- unorderable (map) column support — ADVICE r1 #3 ------------------------


def _map_frames(spark):
    b = spark.createDataFrame(
        [(1, {"a": "1"}, "x"), (2, {"b": "2"}, "y"), (3, {"c": "3"}, "z")],
        "id int, props map<string,string>, s string",
    )
    a = spark.createDataFrame(
        [(1, {"a": "1"}, "x"), (2, {"b": "9"}, "y"), (4, {"d": "4"}, "w")],
        "id int, props map<string,string>, s string",
    )
    return b, a


def test_typed_diff_with_map_value_column(spark):
    b, a = _map_frames(spark)
    res = diff_tables(b, a, ["id"], mode=DiffMode.TYPED, dedup_keys=True)
    by_status = {}
    for r in res.df.collect():
        by_status.setdefault(r["diff_status"], []).append(r)
    assert len(by_status[UPDATED]) == 2  # id=2 before/after pair
    assert by_status[UPDATED][0]["modified_columns"] == ["props"]
    assert len(by_status[DELETED]) == 1 and by_status[DELETED][0]["id"] == 3
    assert len(by_status[INSERTED]) == 1 and by_status[INSERTED][0]["id"] == 4
    # the native map value survives to the output
    upd_after = [r for r in by_status[UPDATED] if not r["is_before"]][0]
    assert upd_after["props"] == {"b": "9"}


def test_typed_diff_map_identical_snapshots_empty(spark):
    b, _ = _map_frames(spark)
    res = diff_tables(b, b, ["id"], mode=DiffMode.TYPED, dedup_keys=True)
    assert res.df.count() == 0


def test_dedup_last_wins_with_map_column_deterministic(spark):
    from dbdiff_spark.diff import dedup_last_wins

    df = spark.createDataFrame(
        [(1, {"a": "1"}, "x"), (1, {"a": "2"}, "y"), (2, {"b": "3"}, "z")],
        "id int, props map<string,string>, s string",
    )
    out1 = {r["id"]: (r["props"], r["s"]) for r in dedup_last_wins(df, ["id"]).collect()}
    out2 = {r["id"]: (r["props"], r["s"]) for r in dedup_last_wins(df, ["id"]).collect()}
    assert len(out1) == 2 and out1 == out2


def test_typed_diff_map_in_key_raises_clear_error(spark):
    b, a = _map_frames(spark)
    with pytest.raises(ValueError, match="STRING"):
        diff_tables(b, a, ["id", "props"], mode=DiffMode.TYPED)
    # STRING mode is the supported path for map-keyed tables
    res = diff_tables(b, a, ["id", "props"], mode=DiffMode.STRING)
    assert res.df.count() > 0


def test_apply_diff_roundtrip_law(spark, sf_dir):
    """apply_diff(base, diff(base, after)) == after, exactly, for every
    keyed fixture table (D/U/I mixes, null-valued updates, empty diff)."""
    from dbdiff_spark import testkit
    from dbdiff_spark.diff import apply_diff, diff_tables

    for table in ("customer", "orders", "supplier", "nation", "region"):
        spec, mut = testkit.SPECS[table], testkit.MUTATIONS[table]
        base = testkit.prep(load_table(spark, sf_dir, table), spec)
        after = testkit.apply_mutation(base, spec, mut)
        d = diff_tables(base, after, list(spec.key), mode=DiffMode.TYPED)
        rebuilt = apply_diff(base, d.df, list(spec.key))
        assert rebuilt.exceptAll(after).count() == 0, table
        assert after.exceptAll(rebuilt).count() == 0, table


def test_apply_diff_across_schema_migration(spark, sf_dir):
    """apply_diff with target_cols reconstructs the after state across
    a migration: one column dropped AND one added, on top of row
    churn.  Every matched row is UPDATED under drift (all-modified
    semantics), so the rebuilt frame comes wholly from the diff — and
    both the round trip and idempotent re-apply must hold in the NEW
    schema."""
    from dbdiff_spark import testkit
    from dbdiff_spark.diff import apply_diff, diff_tables
    from pyspark.sql import functions as F

    spec, mut = testkit.SPECS["customer"], testkit.MUTATIONS["customer"]
    base = testkit.prep(load_table(spark, sf_dir, "customer"), spec)
    after = (
        testkit.apply_mutation(base, spec, mut)
        .withColumn(testkit.DRIFT_ADDED, F.expr(testkit.DRIFT_ADDED_EXPR))
        .drop(testkit.DRIFT_DROPPED)
    )
    d = diff_tables(base, after, list(spec.key), mode=DiffMode.TYPED).df
    out_cols = testkit._drift_after_cols()
    rebuilt = apply_diff(base, d, list(spec.key), target_cols=out_cols).select(
        *out_cols
    )
    target = after.select(*out_cols)
    assert rebuilt.exceptAll(target).count() == 0
    assert target.exceptAll(rebuilt).count() == 0
    # idempotent re-apply in the NEW schema (the rebuilt frame now HAS
    # the added column and LACKS the dropped one)
    twice = apply_diff(rebuilt, d, list(spec.key), target_cols=out_cols).select(
        *out_cols
    )
    assert twice.exceptAll(target).count() == 0
    assert target.exceptAll(twice).count() == 0


def test_apply_diff_shuffled_path_matches_broadcast(spark, sf_dir):
    from dbdiff_spark import testkit
    from dbdiff_spark.diff import apply_diff, diff_tables

    spec, mut = testkit.SPECS["nation"], testkit.MUTATIONS["nation"]
    base = testkit.prep(load_table(spark, sf_dir, "nation"), spec)
    after = testkit.apply_mutation(base, spec, mut)
    d = diff_tables(base, after, list(spec.key))
    a = apply_diff(base, d.df, list(spec.key), broadcast_changes=True)
    b = apply_diff(base, d.df, list(spec.key), broadcast_changes=False)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_apply_diff_is_idempotent(spark, sf_dir):
    """Re-applying the same changeset is a no-op — the at-least-once
    guarantee a retried streaming micro-batch relies on."""
    from dbdiff_spark import testkit
    from dbdiff_spark.diff import apply_diff, diff_tables

    spec, mut = testkit.SPECS["customer"], testkit.MUTATIONS["customer"]
    base = testkit.prep(load_table(spark, sf_dir, "customer"), spec)
    after = testkit.apply_mutation(base, spec, mut)
    d = diff_tables(base, after, list(spec.key), mode=DiffMode.TYPED).df
    once = apply_diff(base, d, list(spec.key))
    twice = apply_diff(once, d, list(spec.key))
    assert twice.exceptAll(after).count() == 0
    assert after.exceptAll(twice).count() == 0


def test_grouped_dedup_diff_matches_foj_and_single_exchange(spark):
    """The one-shuffle grouped dedup-diff must emit exactly what
    dedup_last_wins + null-safe FOJ emits — duplicate keys, NULL keys,
    NULL values, all three statuses — and its plan must hold ONE
    exchange (the FOJ formulation pays four: dedup aggregations
    partition on raw keys, the rewritten null-safe join on
    (coalesce, isnull) tuples)."""
    from pyspark.sql import functions as F

    from dbdiff_spark.diff import DiffMode, dedup_last_wins, diff_tables

    before = spark.createDataFrame(
        [
            (1, "a", 10.0),
            (1, "a", 11.0),  # dup key: last-wins picks max struct
            (2, "b", None),
            (None, "n", 1.0),  # NULL key
            (3, "c", 3.0),
            (4, "d", 4.0),
        ],
        "id int, s string, v double",
    )
    after = spark.createDataFrame(
        [
            (1, "a", 11.0),
            (2, "B", None),  # UPDATED (s)
            (None, "n", 2.0),  # UPDATED via NULL key match
            (3, "c", 3.0),  # unchanged
            (5, "e", 5.0),  # INSERTED; 4 DELETED
        ],
        "id int, s string, v double",
    )
    grouped = diff_tables(
        before, after, ["id"], mode=DiffMode.TYPED, dedup_keys=True
    )
    # reference semantics: per-side dedup then null-safe FOJ (force the
    # FOJ by pre-deduping and calling without dedup_keys)
    foj = diff_tables(
        dedup_last_wins(before, ["id"]),
        dedup_last_wins(after, ["id"]),
        ["id"],
        mode=DiffMode.TYPED,
    )
    ga = grouped.df.withColumn("mc", F.array_join("modified_columns", ",")).drop(
        "modified_columns"
    )
    fa = foj.df.withColumn("mc", F.array_join("modified_columns", ",")).drop(
        "modified_columns"
    )
    assert ga.exceptAll(fa).count() == 0
    assert fa.exceptAll(ga).count() == 0
    assert grouped.df.count() == 6  # 2 UPDATED pairs + 1 DELETED + 1 INSERTED
    plan = grouped.df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan, plan


def test_typed_diff_handles_struct_and_array_columns(spark):
    """Nested types diff structurally in TYPED mode: struct field
    changes and array element changes both classify as modified."""
    from dbdiff_spark.diff import DiffMode, diff_tables

    schema = "id int, s struct<x:string,y:int>, a array<int>"
    b = spark.createDataFrame([(1, ("a", 1), [1, 2]), (2, ("b", 2), [3])], schema)
    af = spark.createDataFrame([(1, ("a", 9), [1, 2]), (2, ("b", 2), [3, 4])], schema)
    rows = diff_tables(b, af, ["id"], mode=DiffMode.TYPED).df.collect()
    by = {(r.id, r.is_before): r for r in rows}
    assert by[(1, False)].diff_status == "UPDATED"
    assert by[(1, False)].modified_columns == ["s"]
    assert by[(2, False)].modified_columns == ["a"]
    # unchanged nested values produce no phantom diffs
    same = diff_tables(b, b, ["id"], mode=DiffMode.TYPED).df.count()
    assert same == 0


def test_diff_table_with_reserved_column_names(spark):
    """A table whose columns collide with the diff's own output schema
    (e.g. an audit table a sink wrote back into the DB) diffs cleanly:
    colliding columns surface as <name>__data."""
    from dbdiff_spark.diff import DiffMode, diff_tables

    b = spark.createDataFrame(
        [(1, "UPDATED", True), (2, "DELETED", False)],
        "id int, diff_status string, is_before boolean",
    )
    a = spark.createDataFrame(
        [(1, "INSERTED", True), (3, "DELETED", False)],
        "id int, diff_status string, is_before boolean",
    )
    res = diff_tables(b, a, ["id"], mode=DiffMode.TYPED)
    assert "diff_status__data" in res.df.columns
    rows = {(r["id"], r["diff_status"], r["diff_status__data"]) for r in res.df.collect()}
    assert (1, "UPDATED", "UPDATED") in rows  # before side of the pair
    assert (1, "UPDATED", "INSERTED") in rows  # after side
    assert (2, "DELETED", "DELETED") in rows
    assert (3, "INSERTED", "DELETED") in rows
    # all-columns-key path (no-PK fallback) with the same collision
    res2 = diff_tables(b, a, list(b.columns), mode=DiffMode.TYPED)
    assert res2.df.count() == 4  # symmetric difference of distinct rows


def test_diff_multiset_with_reserved_column_names(spark):
    """diff_multiset must not let withColumn REPLACE a data column named
    diff_status — the collision renames instead."""
    from dbdiff_spark.diff import diff_multiset

    b = spark.createDataFrame([(1, "x")], "n_rows int, diff_status string")
    a = spark.createDataFrame([(1, "y")], "n_rows int, diff_status string")
    out = diff_multiset(b, a)
    assert {"n_rows__data", "diff_status__data"} <= set(out.columns)
    got = {(r["diff_status__data"], r["diff_status"]) for r in out.collect()}
    assert got == {("x", "DELETED"), ("y", "INSERTED")}


def test_ignore_columns_masks_churn_only(spark):
    """ignore_columns: a row differing ONLY in an ignored column is
    NOT_MODIFIED (dropped); mixed changes report only the compared
    column; output rows still carry the ignored column's values."""
    before = spark.createDataFrame(
        [(1, "a", "t0"), (2, "b", "t0"), (3, "c", "t0")],
        "id int, v string, updated_at string",
    )
    after = spark.createDataFrame(
        [(1, "a", "t1"), (2, "B", "t1"), (3, "c", "t0")],
        "id int, v string, updated_at string",
    )
    res = diff_tables(
        before, after, ["id"], mode=DiffMode.TYPED,
        ignore_columns=["updated_at"],
    ).df
    rows = sorted(res.collect(), key=lambda r: (r["id"], not r["is_before"]))
    # only id=2 (v changed) appears; id=1 (updated_at-only churn) is out
    assert [r["id"] for r in rows] == [2, 2]
    assert all(r["modified_columns"] == ["v"] for r in rows)
    # output still carries the ignored column's side values
    assert [r["updated_at"] for r in rows] == ["t0", "t1"]


def test_ignore_columns_validation(spark):
    import pytest

    df = spark.createDataFrame([(1, 1.0, "x")], "id int, v double, u string")
    with pytest.raises(ValueError, match="key column"):
        diff_tables(df, df, ["id"], ignore_columns=["id"])
    with pytest.raises(ValueError, match="missing from both"):
        diff_tables(df, df, ["id"], ignore_columns=["nope"])
    with pytest.raises(ValueError, match="both ignored and toleranced"):
        diff_tables(
            df, df, ["id"], mode=DiffMode.TYPED,
            tolerance={"v": 0.1}, ignore_columns=["v"],
        )


def test_diff_revenue_impact_reconciles_totals(spark, sf_dir):
    """Accounting law: summing the per-class revenue deltas must equal
    total(after) - total(before) exactly, and per-class row counts must
    match diff_summary."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from dbdiff_spark import testkit
    from dbdiff_spark.io import load_table

    rows = {r.diff_status: r for r in entry._diff_revenue_impact(spark, sf_dir).collect()}
    spec, mut = testkit.SPECS["orders"], testkit.MUTATIONS["orders"]
    base = testkit.prep(load_table(spark, sf_dir, "orders"), spec)
    after = testkit.apply_mutation(base, spec, mut)
    cents = "sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
    total_delta = (
        after.selectExpr(f"{cents} AS c").collect()[0].c
        - base.selectExpr(f"{cents} AS c").collect()[0].c
    )
    assert sum(r.revenue_delta_cents for r in rows.values()) == total_delta

    # row counts against an independent recompute of the diff summary
    d = testkit.diff_query_df(spark, sf_dir, "orders")
    expect = {
        r.diff_status: r.n
        for r in d.filter("(NOT is_before) OR diff_status = 'DELETED'")
        .groupBy("diff_status").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert {k: v.n_rows for k, v in rows.items()} == expect


# --- adversarial column names through the SQL-text planners ------------------

# every character class the planners must quote: backtick, single quote,
# backslash, dot, space, non-ASCII text, plus a column carrying the diff's
# own reserved output name (shielded to ``diff_status__data``)
_ODD_KEY = "k.e`y"
_ODD_COLS = [_ODD_KEY, "a`b", "it's", "back\\slash", "dot.ted", "with space", "naïve 列", "diff_status", "num"]
_ODD_SCHEMA = T.StructType(
    [T.StructField(_ODD_KEY, T.IntegerType())]
    + [T.StructField(c, T.DoubleType() if c == "num" else T.StringType()) for c in _ODD_COLS[1:]]
)
_ODD_BEFORE = [
    (1, "a", "b", "c", "d", "e", "f", "g", 1.0),
    (2, "gone", "b", "c", "d", "e", "f", "g", 2.0),
    (3, "same", "b", "c", "d", "e", "f", "g", 3.0),
    (5, "x", "it", None, "d", "e", "f", "g", None),
]
_ODD_AFTER = [
    (1, "a2", "b2", "c2", "d2", "e2", "f2", "g2", 1.5),
    (3, "same", "b", "c", "d", "e", "f", "g", 3.0),
    (4, "new", "b", "c", "d", "e", "f", "g", 4.0),
    (5, "x", "it'", "\\", "d", "e", "f", "g", None),
]


def _q(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _dsl_reference(before, after, key, mode):
    """Independent Column-DSL keyed diff: positional renames to safe
    names (``toDF`` parses nothing), per-side last-wins dedup, a
    null-safe full outer join and per-column ``eqNullSafe``; the joined
    rows expand to the sink tuple shape in Python."""
    names = before.columns
    n = len(names)
    kidx = [names.index(k) for k in key]
    oidx = [i for i in range(n) if i not in kidx]

    def side(df, p):
        df = df.toDF(*[f"{p}{i}" for i in range(n)])
        if mode == DiffMode.STRING:
            df = df.select([F.col(f"{p}{i}").cast("string").alias(f"{p}{i}") for i in range(n)])
        if oidx:
            rep = df.groupBy([F.col(f"{p}{i}") for i in kidx]).agg(
                F.max(F.struct([F.col(f"{p}{i}") for i in oidx])).alias("r")
            )
            df = rep.select(
                [F.col(f"r.{p}{i}").alias(f"{p}{i}") if i in oidx else F.col(f"{p}{i}") for i in range(n)]
            )
        return df.withColumn(f"{p}_present", F.lit(True))

    b, a = side(before, "b"), side(after, "a")
    cond = reduce(lambda x, y: x & y, [F.col(f"b{i}").eqNullSafe(F.col(f"a{i}")) for i in kidx])
    modified = F.array_compact(
        F.array(*[F.when(~F.col(f"b{i}").eqNullSafe(F.col(f"a{i}")), F.lit(names[i])) for i in oidx])
    ) if oidx else F.array().cast("array<string>")
    joined = b.join(a, cond, "full_outer").withColumn("m", modified)
    out = set()
    for r in joined.collect():
        bvals = tuple(r[f"b{i}"] for i in range(n))
        avals = tuple(r[f"a{i}"] for i in range(n))
        if r["b_present"] is None:
            out.add((INSERTED, False, (), avals))
        elif r["a_present"] is None:
            out.add((DELETED, True, (), bvals))
        elif r["m"]:
            out.add((UPDATED, True, tuple(r["m"]), bvals))
            out.add((UPDATED, False, tuple(r["m"]), avals))
    return out


def _as_tuples(res):
    return {
        (r["diff_status"], r["is_before"], tuple(r["modified_columns"]), tuple(r[c] for c in res.value_columns))
        for r in ordered_output(res).collect()
    }


@pytest.mark.parametrize("mode", [DiffMode.STRING, DiffMode.TYPED])
@pytest.mark.parametrize("path", ["grouped", "all_columns_key", "full_outer_join"])
def test_adversarial_column_names_match_dsl_reference(spark, mode, path):
    before = spark.createDataFrame(_ODD_BEFORE, _ODD_SCHEMA)
    after = spark.createDataFrame(_ODD_AFTER, _ODD_SCHEMA)
    key = list(_ODD_COLS) if path == "all_columns_key" else [_ODD_KEY]
    res = diff_tables(before, after, key, mode=mode, dedup_keys=path != "full_outer_join")
    out_names = [c if c != "diff_status" else "diff_status__data" for c in _ODD_COLS]
    assert res.value_columns == out_names
    assert res.df.columns == ["diff_status", "is_before", "modified_columns", *out_names]
    ref_key = [c if c != "diff_status" else "diff_status__data" for c in key]
    expected = _dsl_reference(before.toDF(*out_names), after.toDF(*out_names), ref_key, mode)
    got = _as_tuples(res)
    assert got == expected
    if path != "all_columns_key":
        # modified_columns carries the exact (shielded) names
        (mods,) = {m for status, before_row, m, vals in got if vals[0] in (1, "1") and before_row}
        assert mods == tuple(out_names[1:])
        (mods5,) = {m for status, before_row, m, vals in got if vals[0] in (5, "5") and before_row}
        assert mods5 == ("it's", "back\\slash")
    else:
        assert {s for s, *_ in got} == {INSERTED, DELETED}
    # the sinks' ordered collect quotes the odd key too
    assert len(res.rows(100)) == len(got)


def _odd_out_names():
    return [c if c != "diff_status" else "diff_status__data" for c in _ODD_COLS]


@pytest.mark.parametrize("regime", ["one_pass", "hash_first"])
def test_adversarial_column_names_through_diff_multiset(spark, monkeypatch, regime):
    """Both diff_multiset regimes quote the odd names (backticks
    included) and match a Python multiset difference."""
    from conftest import elected_regime, force_multiset_regime, multiset_model, multiset_rows

    from dbdiff_spark.diff import diff_multiset

    before = spark.createDataFrame(_ODD_BEFORE, _ODD_SCHEMA)
    after = spark.createDataFrame(_ODD_AFTER, _ODD_SCHEMA)
    force_multiset_regime(monkeypatch, regime)
    out = diff_multiset(before, after)
    assert elected_regime(out) == regime
    names = _odd_out_names()
    assert multiset_rows(out, names) == multiset_model(_ODD_BEFORE, _ODD_AFTER)


def test_adversarial_column_names_through_tracked_snapshot_diff(spark, tmp_path):
    """Change tracking hashes the odd key and fingerprints every odd
    column; the incremental diff equals the independent reference."""
    from dbdiff_spark.snapshot import SnapshotStore, diff_snapshots

    store = SnapshotStore(spark)
    snaps = [
        store.collect(
            {"t": spark.createDataFrame(rows, _ODD_SCHEMA)},
            {"t": [_ODD_KEY]},
            str(tmp_path / side),
            track_changes=True,
        )
        for side, rows in (("b", _ODD_BEFORE), ("a", _ODD_AFTER))
    ]
    res = diff_snapshots(spark, *snaps, mode=DiffMode.TYPED, incremental=True)["t"]
    names = _odd_out_names()
    expected = _dsl_reference(
        spark.createDataFrame(_ODD_BEFORE, _ODD_SCHEMA).toDF(*names),
        spark.createDataFrame(_ODD_AFTER, _ODD_SCHEMA).toDF(*names),
        [_ODD_KEY],
        DiffMode.TYPED,
    )
    assert _as_tuples(res) == expected
