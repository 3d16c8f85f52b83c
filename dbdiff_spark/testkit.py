"""Deterministic before→after mutation fixtures shared between the Spark
engine and the DuckDB oracle.

The driver's correctness gate (BASELINE.md t2) runs each declared query
on Spark AND its ``oracle_sql()`` twin on DuckDB over the same parquet
tables, then hash-compares values.  The engine's core operation —
``diff(before, after)`` — therefore needs an *after* snapshot that both
sides can derive identically.  Everything here is built from shared SQL
expression strings evaluated by ``F.expr`` on the Spark side and spliced
verbatim into the DuckDB SQL on the oracle side, so the two engines see
bit-identical inputs (mutation arithmetic on doubles is deterministic).

Timestamp columns are converted to epoch-microsecond BIGINTs on both
sides (Spark ``unix_micros`` / DuckDB ``epoch_us``) before diffing, so
value hashing never depends on engine-specific timestamp rendering.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbdiff_spark.diff import DiffMode, apply_diff, diff_tables
from dbdiff_spark.io import cut_lineage, load_table


@dataclass(frozen=True)
class TableSpec:
    name: str
    key: tuple[str, ...]
    cols: tuple[str, ...]
    ts_cols: tuple[str, ...] = ()


@dataclass(frozen=True)
class Mutation:
    """delete/update/insert expressed as shared SQL snippets.

    ``updates`` is a tuple of ``(condition_sql, column, value_expr_sql)``;
    value expressions may reference base columns only (never a column
    modified by another update — both engines must see simultaneous
    semantics).  ``insert_overrides`` maps column → expression applied to
    the rows selected by ``insert_where`` (fresh keys required).
    """

    delete_where: str | None = None
    updates: tuple[tuple[str, str, str], ...] = ()
    insert_where: str | None = None
    insert_overrides: dict[str, str] = field(default_factory=dict)


# --- driver testdata specs (FIXTURES.md §B) --------------------------------

SPECS: dict[str, TableSpec] = {
    "region": TableSpec("region", ("r_regionkey",), ("r_regionkey", "r_name")),
    "nation": TableSpec(
        "nation", ("n_nationkey",), ("n_nationkey", "n_name", "n_regionkey")
    ),
    "customer": TableSpec(
        "customer",
        ("c_custkey",),
        ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    ),
    "supplier": TableSpec(
        "supplier", ("s_suppkey",), ("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    ),
    "part": TableSpec(
        "part",
        ("p_partkey",),
        ("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
    ),
    "orders": TableSpec(
        "orders",
        ("o_orderkey",),
        (
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        ),
        ts_cols=("o_orderdate",),
    ),
    "lineitem": TableSpec(
        "lineitem",
        ("l_orderkey", "l_linenumber"),
        (
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_tax",
            "l_returnflag",
            "l_linestatus",
            "l_shipdate",
        ),
        ts_cols=("l_shipdate",),
    ),
    "events": TableSpec(
        "events",
        # no declared PK → all-columns fallback (dbutil.go:136-141)
        ("event_id", "ts", "user_id", "event_type", "value", "props"),
        ("event_id", "ts", "user_id", "event_type", "value", "props"),
        ts_cols=("ts",),
    ),
}

MUTATIONS: dict[str, Mutation] = {
    "customer": Mutation(
        delete_where="c_custkey % 10 = 7",
        updates=(
            ("c_custkey % 10 = 3", "c_acctbal", "c_acctbal + 100.0"),
            ("c_custkey % 10 = 4", "c_mktsegment", "'MUTATED'"),
        ),
        insert_where="c_custkey % 10 = 1",
        insert_overrides={"c_custkey": "c_custkey + 1000000"},
    ),
    "lineitem": Mutation(
        delete_where="l_orderkey % 13 = 5",
        updates=(("l_orderkey % 13 = 3", "l_quantity", "l_quantity + 1.0"),),
        insert_where="l_orderkey % 13 = 2",
        insert_overrides={"l_orderkey": "l_orderkey + 10000000"},
    ),
    "supplier": Mutation(
        updates=(
            ("s_suppkey % 3 = 1", "s_acctbal", "CAST(NULL AS DOUBLE)"),
            ("s_suppkey % 3 = 2", "s_name", "CAST(NULL AS STRING)"),
        ),
    ),
    "orders": Mutation(
        delete_where="o_orderkey % 11 = 4",
        updates=(
            ("o_orderkey % 11 = 6", "o_totalprice", "o_totalprice * 2.0"),
            ("o_orderkey % 11 = 7", "o_orderdate", "o_orderdate + 86400000000"),
        ),
        insert_where="o_orderkey % 11 = 8",
        insert_overrides={"o_orderkey": "o_orderkey + 20000000"},
    ),
    "part": Mutation(
        updates=(
            ("p_partkey % 7 = 2", "p_brand", "'Brand#99'"),
            ("p_partkey % 7 = 2", "p_retailprice", "p_retailprice + 1.0"),
            ("p_partkey % 7 = 3", "p_size", "p_size + 10"),
        ),
    ),
    "events": Mutation(
        delete_where="event_id % 10 = 2",
        insert_where="event_id % 10 = 3",
        insert_overrides={"event_id": "event_id + 10000000"},
    ),
    "region": Mutation(),  # identity → empty diff
    "nation": Mutation(
        delete_where="n_nationkey % 5 = 1",
        updates=(("n_nationkey % 5 = 2", "n_name", "concat(n_name, '_X')"),),
        insert_where="n_nationkey % 5 = 3",
        insert_overrides={"n_nationkey": "n_nationkey + 1000"},
    ),
}


# --- Spark side ------------------------------------------------------------


def prep(df: DataFrame, spec: TableSpec) -> DataFrame:
    """Timestamp → epoch-micros projection (shared with the oracle)."""
    return df.select(
        [
            # cast handles TIMESTAMP_NTZ parquet columns; session TZ is
            # pinned to UTC so the cast is wall-clock identity.
            F.unix_micros(F.col(c).cast("timestamp")).alias(c)
            if c in spec.ts_cols
            else F.col(c)
            for c in spec.cols
        ]
    )


def apply_mutation(base: DataFrame, spec: TableSpec, mut: Mutation) -> DataFrame:
    """Derive the after snapshot on the Spark side.

    CAUTION: update semantics are simultaneous-over-base — expressed as a
    single select so chained ``withColumn`` can't leak an updated value
    into another update's expression.
    """
    kept = base.filter(~F.expr(mut.delete_where)) if mut.delete_where else base
    upd_by_col: dict[str, list[tuple[str, str]]] = {}
    for cond, col, expr in mut.updates:
        upd_by_col.setdefault(col, []).append((cond, expr))
    select_cols = []
    for c in spec.cols:
        if c in upd_by_col:
            col_expr = F.col(c)
            for cond, expr in reversed(upd_by_col[c]):
                col_expr = F.when(F.expr(cond), F.expr(expr)).otherwise(col_expr)
            select_cols.append(col_expr.alias(c))
        else:
            select_cols.append(F.col(c))
    kept = kept.select(select_cols)
    if mut.insert_where:
        ins = base.filter(F.expr(mut.insert_where)).select(
            [
                F.expr(mut.insert_overrides[c]).alias(c)
                if c in mut.insert_overrides
                else F.col(c)
                for c in spec.cols
            ]
        )
        kept = kept.unionByName(ins)
    return kept


def diff_query_df(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    mode: DiffMode = DiffMode.TYPED,
    tolerance: dict[str, float] | None = None,
    ignore: list[str] | None = None,
) -> DataFrame:
    """The engine-side diff query the driver compares against the oracle:
    diff of (base, mutate(base)) with oracle-friendly output (modified
    column set as a CSV string, timestamps as epoch micros).

    ``mode=STRING`` exercises the reference's cast-everything fidelity
    path; only used on tables whose column types cast to string
    identically in Spark and DuckDB (ints + strings — doubles and
    timestamps render differently across engines)."""
    spec, mut = SPECS[table], MUTATIONS[table]
    base = prep(load_table(spark, sf_dir, table), spec)
    after = apply_mutation(base, spec, mut)
    res = diff_tables(
        base, after, list(spec.key), mode=mode, tolerance=tolerance,
        ignore_columns=ignore,
    )
    return res.df.select(
        F.col("diff_status"),
        F.col("is_before"),
        F.array_join(F.col("modified_columns"), ",").alias("modified_cols"),
        *[F.col(c) for c in spec.cols],
    )


def format_snapshot_diff_query_df(
    spark: SparkSession, sf_dir: str, table: str, format: str
) -> DataFrame:
    """Same logical diff as :func:`diff_query_df`, but routed through a
    full SNAPSHOT round trip in the given storage format: both sides are
    written with ``SnapshotStore.collect(format=...)``, re-read, and
    diffed via ``diff_snapshots`` — so the query certifies the format's
    value fidelity end-to-end (write → read → typed compare) against
    the format-independent diff oracle."""
    import tempfile

    from dbdiff_spark.snapshot import SnapshotStore, diff_snapshots

    spec, mut = SPECS[table], MUTATIONS[table]
    base = prep(load_table(spark, sf_dir, table), spec)
    after = apply_mutation(base, spec, mut)
    root = tempfile.mkdtemp(prefix=f"dbdiff_{format}_snap_")
    store = SnapshotStore(spark)
    keys = {table: list(spec.key)}
    b = store.collect({table: base}, keys, f"{root}/b", count_rows=False, format=format)
    a = store.collect({table: after}, keys, f"{root}/a", count_rows=False, format=format)
    try:
        res = diff_snapshots(spark, b, a, mode=DiffMode.TYPED)[table]
        # pin the (diff-sized) result OFF the temp root before removing
        # it — a lazy read would otherwise keep the root alive forever
        # (the r11 VERDICT hygiene finding: one leaked dbdiff_*_snap_*
        # dir per evaluation; pattern from streaming/cdc.py)
        return cut_lineage(
            res.df.select(
                F.col("diff_status"),
                F.col("is_before"),
                F.array_join(F.col("modified_columns"), ",").alias("modified_cols"),
                *[F.col(c) for c in spec.cols],
            ),
            eager=True,
        )
    finally:
        import shutil

        shutil.rmtree(root, ignore_errors=True)


# Schema-drift fixture: the after snapshot gains a column.  Reference
# semantics (extract_data.go:162-171): a column-set change marks EVERY
# column of every matched row modified and the row UPDATED.
DRIFT_COL = "c_flag"
DRIFT_EXPR = "c_custkey % 2 = 0"


def drift_diff_query_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diff of (customer, mutate(customer) + added column) — exercises
    the schema-drift path end-to-end: before-side rows render the new
    column as NULL, every matched row classifies UPDATED with all
    columns modified."""
    spec, mut = SPECS["customer"], MUTATIONS["customer"]
    base = prep(load_table(spark, sf_dir, "customer"), spec)
    after = apply_mutation(base, spec, mut).withColumn(
        DRIFT_COL, F.expr(DRIFT_EXPR)
    )
    res = diff_tables(base, after, list(spec.key), mode=DiffMode.TYPED)
    return res.df.select(
        F.col("diff_status"),
        F.col("is_before"),
        F.array_join(F.col("modified_columns"), ",").alias("modified_cols"),
        *[F.col(c) for c in spec.cols],
        F.col(DRIFT_COL),
    )


def drift_oracle_sql() -> str:
    """ANSI-SQL twin of :func:`drift_diff_query_df`."""
    spec, mut = SPECS["customer"], MUTATIONS["customer"]
    all_cols = list(spec.cols) + [DRIFT_COL]
    key_cond = " AND ".join(f'b."{k}" IS NOT DISTINCT FROM a."{k}"' for k in spec.key)
    b_cols = ", ".join(f'b."{c}" AS "b_{c}"' for c in spec.cols)
    a_cols = ", ".join(f'a."{c}" AS "a_{c}"' for c in all_cols)
    modified_const = ",".join(all_cols)
    b_out = ", ".join(f'"b_{c}" AS "{c}"' for c in spec.cols) + (
        f', CAST(NULL AS BOOLEAN) AS "{DRIFT_COL}"'
    )
    a_out = ", ".join(f'"a_{c}" AS "{c}"' for c in all_cols)
    return f"""
WITH before AS ({_prep_sql(spec)}),
after AS (
  SELECT *, ({DRIFT_EXPR}) AS "{DRIFT_COL}" FROM (
    {_after_sql(spec, mut)}
  )
),
j AS (
  SELECT {b_cols}, {a_cols}, b."__p" AS b_present, a."__p" AS a_present
  FROM (SELECT *, TRUE AS "__p" FROM before) b
  FULL OUTER JOIN (SELECT *, TRUE AS "__p" FROM after) a
  ON {key_cond}
),
cls AS (
  SELECT *,
    CASE WHEN b_present IS NULL THEN 'INSERTED'
         WHEN a_present IS NULL THEN 'DELETED'
         ELSE 'UPDATED' END AS diff_status,
    CASE WHEN b_present IS NOT NULL AND a_present IS NOT NULL
         THEN '{modified_const}' ELSE '' END AS modified_cols
  FROM j
)
SELECT diff_status, TRUE AS is_before, modified_cols, {b_out}
FROM cls WHERE diff_status IN ('DELETED', 'UPDATED')
UNION ALL
SELECT diff_status, FALSE AS is_before, modified_cols, {a_out}
FROM cls WHERE diff_status IN ('INSERTED', 'UPDATED')
"""


def roundtrip_apply_query_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diff → apply round trip: reconstruct the after snapshot from
    (base, diff(base, after)) via :func:`dbdiff_spark.diff.apply_diff`.
    The oracle is the after snapshot derived directly — so the gate
    verifies the round-trip law ``apply(b, diff(b, a)) == a`` value-for-
    value, not just a re-implementation of the same plan."""
    spec, mut = SPECS["customer"], MUTATIONS["customer"]
    base = prep(load_table(spark, sf_dir, "customer"), spec)
    after = apply_mutation(base, spec, mut)
    d = diff_tables(base, after, list(spec.key), mode=DiffMode.TYPED)
    return apply_diff(base, d.df, list(spec.key)).select(*spec.cols)


def roundtrip_apply_oracle_sql() -> str:
    """ANSI-SQL twin of :func:`roundtrip_apply_query_df` — simply the
    after snapshot itself."""
    spec, mut = SPECS["customer"], MUTATIONS["customer"]
    return f"WITH before AS ({_prep_sql(spec)})\n{_after_sql(spec, mut)}"


# --- diff→apply round trip ACROSS a schema migration ------------------------
#
# The after snapshot both mutates rows (the shared customer mutation)
# AND migrates the schema: c_mktsegment is DROPPED and a computed
# c_tier is ADDED.  The drift diff marks every matched row UPDATED and
# carries the union schema, so apply_diff(base, diff, target_cols=
# after-columns) must reproduce the after state exactly — the first
# real-world wrinkle after the happy path (CDC materialization across
# a migration).

DRIFT_DROPPED = "c_mktsegment"
DRIFT_ADDED = "c_tier"
DRIFT_ADDED_EXPR = "CAST(c_custkey % 5 AS BIGINT)"


def _drift_after_cols() -> list[str]:
    spec = SPECS["customer"]
    return [c for c in spec.cols if c != DRIFT_DROPPED] + [DRIFT_ADDED]


def roundtrip_apply_drift_query_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec, mut = SPECS["customer"], MUTATIONS["customer"]
    base = prep(load_table(spark, sf_dir, "customer"), spec)
    after = (
        apply_mutation(base, spec, mut)
        .withColumn(DRIFT_ADDED, F.expr(DRIFT_ADDED_EXPR))
        .drop(DRIFT_DROPPED)
    )
    d = diff_tables(base, after, list(spec.key), mode=DiffMode.TYPED)
    out_cols = _drift_after_cols()
    return apply_diff(
        base, d.df, list(spec.key), target_cols=out_cols
    ).select(*out_cols)


def roundtrip_apply_drift_oracle_sql() -> str:
    """The after snapshot, post-migration columns."""
    spec, mut = SPECS["customer"], MUTATIONS["customer"]
    keep = ", ".join(f'"{c}"' for c in spec.cols if c != DRIFT_DROPPED)
    return (
        f"WITH before AS ({_prep_sql(spec)}),\n"
        f"after_same AS ({_after_sql(spec, mut)})\n"
        f'SELECT {keep}, {DRIFT_ADDED_EXPR} AS "{DRIFT_ADDED}" FROM after_same'
    )


def multiset_diff_query_df(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Count-preserving diff of (base, mutate(base)) — the no-usable-key
    path (lineitem's declared composite key is not unique in this data;
    the multiset diff is exact regardless)."""
    from dbdiff_spark.diff import diff_multiset

    spec, mut = SPECS[table], MUTATIONS[table]
    base = prep(load_table(spark, sf_dir, table), spec)
    after = apply_mutation(base, spec, mut)
    return diff_multiset(base, after)


def multiset_oracle_sql(table: str) -> str:
    spec, mut = SPECS[table], MUTATIONS[table]
    cols = ", ".join(f'"{c}"' for c in spec.cols)
    key_cond = " AND ".join(
        f'b."{c}" IS NOT DISTINCT FROM a."{c}"' for c in spec.cols
    )
    b_cols = ", ".join(f'b."{c}" AS "b_{c}"' for c in spec.cols)
    a_cols = ", ".join(f'a."{c}" AS "a_{c}"' for c in spec.cols)
    out_cols = ", ".join(f'coalesce("b_{c}", "a_{c}") AS "{c}"' for c in spec.cols)
    return f"""
WITH before AS ({_prep_sql(spec)}),
after AS (
  {_after_sql(spec, mut)}
),
b AS (SELECT {cols}, CAST(count(*) AS BIGINT) AS n_before FROM before GROUP BY {cols}),
a AS (SELECT {cols}, CAST(count(*) AS BIGINT) AS n_after FROM after GROUP BY {cols}),
j AS (
  SELECT {b_cols}, {a_cols},
         coalesce(n_before, 0) AS n_before, coalesce(n_after, 0) AS n_after
  FROM b FULL OUTER JOIN a ON {key_cond}
)
SELECT {out_cols}, n_before, n_after,
       CASE WHEN n_after > n_before THEN 'INSERTED' ELSE 'DELETED' END AS diff_status,
       abs(n_after - n_before) AS n_rows
FROM j
WHERE n_before <> n_after
"""


# --- DuckDB oracle side ----------------------------------------------------


def _prep_sql(spec: TableSpec) -> str:
    cols = ", ".join(
        f'epoch_us("{c}") AS "{c}"' if c in spec.ts_cols else f'"{c}"'
        for c in spec.cols
    )
    return f'SELECT {cols} FROM "{spec.name}"'


def _after_sql(spec: TableSpec, mut: Mutation, src: str = "before") -> str:
    upd_by_col: dict[str, list[tuple[str, str]]] = {}
    for cond, col, expr in mut.updates:
        upd_by_col.setdefault(col, []).append((cond, expr))
    sel = []
    for c in spec.cols:
        if c in upd_by_col:
            cases = " ".join(
                f"WHEN {cond} THEN ({expr})" for cond, expr in upd_by_col[c]
            )
            sel.append(f'CASE {cases} ELSE "{c}" END AS "{c}"')
        else:
            sel.append(f'"{c}"')
    where = f"WHERE NOT ({mut.delete_where})" if mut.delete_where else ""
    sql = f"SELECT {', '.join(sel)} FROM {src} {where}"
    if mut.insert_where:
        ins_sel = ", ".join(
            f'({mut.insert_overrides[c]}) AS "{c}"' if c in mut.insert_overrides else f'"{c}"'
            for c in spec.cols
        )
        sql += f"\n  UNION ALL SELECT {ins_sel} FROM {src} WHERE {mut.insert_where}"
    return sql


def diff_oracle_sql(
    table: str,
    stringify: bool = False,
    tolerance: dict[str, float] | None = None,
    ignore: list[str] | None = None,
) -> str:
    """ANSI-SQL twin of :func:`diff_query_df` for DuckDB.

    Same full-outer-join-with-classification semantics as the engine
    (reference: extract_data.go:196-246), written as plain SQL.  NULL
    handling uses IS [NOT] DISTINCT FROM — the SQL form of Spark's
    ``eqNullSafe`` (SURVEY §1.4).  DuckDB's ``CAST(NULL AS STRING)`` is
    valid (STRING aliases VARCHAR), so mutation snippets stay shared.

    ``stringify`` mirrors the engine's STRING fidelity mode: both sides
    cast every column to VARCHAR *after* mutation, before the join.
    """
    spec, mut = SPECS[table], MUTATIONS[table]
    # ignored columns leave the comparator but stay in the output —
    # mirrors diff_tables(ignore_columns=...)
    nonkey = [
        c for c in spec.cols if c not in spec.key and c not in (ignore or [])
    ]
    key_cond = " AND ".join(f'b."{k}" IS NOT DISTINCT FROM a."{k}"' for k in spec.key)
    b_cols = ", ".join(f'b."{c}" AS "b_{c}"' for c in spec.cols)
    a_cols = ", ".join(f'a."{c}" AS "a_{c}"' for c in spec.cols)

    def changed(c: str) -> str:
        """Per-column changed predicate — epsilon form mirrors the
        engine's tolerance comparator exactly (null semantics included)."""
        if tolerance and c in tolerance:
            return (
                f'NOT (("b_{c}" IS NULL AND "a_{c}" IS NULL) OR '
                f'("b_{c}" IS NOT NULL AND "a_{c}" IS NOT NULL AND '
                f'(abs("b_{c}" - "a_{c}") <= {tolerance[c]!r} OR '
                f'(isnan("b_{c}") AND isnan("a_{c}")))))'
            )
        return f'"b_{c}" IS DISTINCT FROM "a_{c}"'

    any_modified = (
        " OR ".join(changed(c) for c in nonkey) if nonkey else "FALSE"
    )
    modified_csv = (
        "concat_ws(',', "
        + ", ".join(
            f"CASE WHEN {changed(c)} THEN '{c}' END"
            for c in nonkey
        )
        + ")"
        if nonkey
        else "''"
    )
    b_out = ", ".join(f'"b_{c}" AS "{c}"' for c in spec.cols)
    a_out = ", ".join(f'"a_{c}" AS "{c}"' for c in spec.cols)
    if stringify:
        casts = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in spec.cols)
        stringified = f""",
before_s AS (SELECT {casts} FROM before),
after_s AS (SELECT {casts} FROM after)"""
        b_src, a_src = "before_s", "after_s"
    else:
        stringified = ""
        b_src, a_src = "before", "after"
    return f"""
WITH before AS ({_prep_sql(spec)}),
after AS (
  {_after_sql(spec, mut)}
){stringified},
j AS (
  SELECT {b_cols}, {a_cols}, b."__p" AS b_present, a."__p" AS a_present
  FROM (SELECT *, TRUE AS "__p" FROM {b_src}) b
  FULL OUTER JOIN (SELECT *, TRUE AS "__p" FROM {a_src}) a
  ON {key_cond}
),
cls AS (
  SELECT *,
    CASE WHEN b_present IS NULL THEN 'INSERTED'
         WHEN a_present IS NULL THEN 'DELETED'
         WHEN {any_modified} THEN 'UPDATED'
         ELSE 'NOT_MODIFIED' END AS diff_status,
    CASE WHEN b_present IS NOT NULL AND a_present IS NOT NULL
         THEN {modified_csv} ELSE '' END AS modified_cols
  FROM j
)
SELECT diff_status, TRUE AS is_before, modified_cols, {b_out}
FROM cls WHERE diff_status IN ('DELETED', 'UPDATED')
UNION ALL
SELECT diff_status, FALSE AS is_before, modified_cols, {a_out}
FROM cls WHERE diff_status IN ('INSERTED', 'UPDATED')
"""


# --- three-way merge fixture -------------------------------------------------

# "theirs" diverges from the same base as MUTATIONS["customer"] ("ours"):
# same delete (clean BOTH_SAME), clashing c_acctbal update on %10=3
# (CONFLICT pairs), a disjoint update (THEIRS), and an insert of the
# SAME synthetic keys as ours with a different c_mktsegment
# (insert-insert CONFLICT).  Ours' %10=4 update stays OURS-only.
CUSTOMER_THEIRS = Mutation(
    delete_where="c_custkey % 10 = 7",
    updates=(
        ("c_custkey % 10 = 3", "c_acctbal", "c_acctbal + 200.0"),
        ("c_custkey % 10 = 5", "c_mktsegment", "'THEIRS'"),
    ),
    insert_where="c_custkey % 10 = 1",
    insert_overrides={
        "c_custkey": "c_custkey + 1000000",
        "c_mktsegment": "'T_INS'",
    },
)


def merge3_query_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diff3 of (customer, ours(customer), theirs(customer))."""
    from dbdiff_spark.diff import diff3_tables

    spec = SPECS["customer"]
    base = prep(load_table(spark, sf_dir, "customer"), spec)
    ours = apply_mutation(base, spec, MUTATIONS["customer"])
    theirs = apply_mutation(base, spec, CUSTOMER_THEIRS)
    return diff3_tables(base, ours, theirs, list(spec.key))


def merge3_oracle_sql() -> str:
    """ANSI-SQL twin of :func:`merge3_query_df` (FOJ-chain formulation —
    different plan, identical semantics)."""
    spec = SPECS["customer"]
    keys = list(spec.key)
    vals = [c for c in spec.cols if c not in keys]
    k = keys[0]
    o_diff = " OR ".join(
        f'o."{c}" IS DISTINCT FROM b."{c}"' for c in vals
    )
    t_diff = " OR ".join(
        f't."{c}" IS DISTINCT FROM b."{c}"' for c in vals
    )
    ot_diff = " OR ".join(
        f'o."{c}" IS DISTINCT FROM t."{c}"' for c in vals
    )
    th = "'THEIRS'"
    win_p = f"(CASE WHEN merge_status = {th} THEN pt ELSE po END)"
    merged_cols = ", ".join(
        f'CASE WHEN {win_p} THEN '
        f'(CASE WHEN merge_status = {th} THEN "t_{c}" ELSE "o_{c}" END) '
        f'END AS "{c}"'
        for c in vals
    )
    return f"""
WITH before AS ({_prep_sql(spec)}),
ours AS ({_after_sql(spec, MUTATIONS["customer"], src="before")}),
theirs AS ({_after_sql(spec, CUSTOMER_THEIRS, src="before")}),
j AS (
  SELECT coalesce(b."{k}", o."{k}", t."{k}") AS "{k}",
         b."{k}" IS NOT NULL AS pb, o."{k}" IS NOT NULL AS po, t."{k}" IS NOT NULL AS pt,
         (o."{k}" IS NOT NULL) <> (b."{k}" IS NOT NULL)
           OR (o."{k}" IS NOT NULL AND b."{k}" IS NOT NULL AND ({o_diff})) AS co,
         (t."{k}" IS NOT NULL) <> (b."{k}" IS NOT NULL)
           OR (t."{k}" IS NOT NULL AND b."{k}" IS NOT NULL AND ({t_diff})) AS ct,
         NOT ((o."{k}" IS NOT NULL) <> (t."{k}" IS NOT NULL)
              OR (o."{k}" IS NOT NULL AND t."{k}" IS NOT NULL AND ({ot_diff}))) AS same_ot,
         {", ".join(f'o."{c}" AS "o_{c}"' for c in vals)},
         {", ".join(f't."{c}" AS "t_{c}"' for c in vals)}
  FROM (SELECT * FROM before) b
  FULL OUTER JOIN ours o ON b."{k}" = o."{k}"
  FULL OUTER JOIN theirs t ON coalesce(b."{k}", o."{k}") = t."{k}"
),
cls AS (
  SELECT *,
    CASE WHEN co AND NOT ct THEN 'OURS'
         WHEN ct AND NOT co THEN 'THEIRS'
         WHEN same_ot THEN 'BOTH_SAME'
         ELSE 'CONFLICT' END AS merge_status
  FROM j WHERE co OR ct
)
SELECT "{k}", merge_status, 'merged' AS side,
       NOT {win_p} AS deleted,
       {merged_cols}
FROM cls WHERE merge_status <> 'CONFLICT'
UNION ALL
SELECT "{k}", merge_status, 'ours' AS side, NOT po AS deleted,
       {", ".join(f'CASE WHEN po THEN "o_{c}" END AS "{c}"' for c in vals)}
FROM cls WHERE merge_status = 'CONFLICT'
UNION ALL
SELECT "{k}", merge_status, 'theirs' AS side, NOT pt AS deleted,
       {", ".join(f'CASE WHEN pt THEN "t_{c}" END AS "{c}"' for c in vals)}
FROM cls WHERE merge_status = 'CONFLICT'
"""


def write_clustered_embeddings(
    spark: SparkSession,
    out_dir: str,
    n: int = 2000,
    dim: int = 64,
    k: int = 8,
    seed: int = 7,
    sigma: float = 0.05,
):
    """Mixture-of-Gaussians embeddings fixture — the shape real
    embedding spaces have.  The driver testdata's embeddings are
    near-uniform, where a trained coarse quantizer provably cannot buy
    recall over seeded cells (documented in ``ann_ivf_trained``); this
    generator exists so the trained-IVF recall win is demonstrable on
    clustered data.  Deterministic in ``seed``; schema mirrors the
    driver fixture (``vec_id bigint, embedding array<float>,
    label int``), so every similarity op runs on it unchanged."""
    import numpy as np

    rng = np.random.default_rng(seed)
    centers = rng.normal(0.0, 1.0, (k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, k, size=n)
    pts = (centers[labels] + rng.normal(0.0, sigma, (n, dim))).astype(
        np.float32
    )
    rows = [
        (int(i), [float(x) for x in pts[i]], int(labels[i]))
        for i in range(n)
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    df.repartition(4).write.mode("overwrite").parquet(
        f"{out_dir}/embeddings.parquet"
    )
    return df


def write_bpe_corpus(
    spark: SparkSession,
    out_dir: str,
    n_docs: int = 3000,
    lexicon: int = 6000,
    seed: int = 11,
):
    """Morphologically-rich synthetic corpus for production-depth BPE
    runs.  The driver ``documents`` fixture has a ~50-word vocabulary —
    its merge supply exhausts after a few hundred merges, so the
    32k-vocab posture (``ops/retrieval.py`` design note: m=256,
    ~125 rounds) is physically undemonstrable on it.  This generator
    builds a ``lexicon``-word vocabulary of syllable-concatenated
    pseudo-words (shared sub-word structure = deep merge material, the
    shape real language has) Zipf-sampled into documents.

    Deterministic in ``seed``; schema mirrors the driver fixture
    (``doc_id bigint, text string, lang string, source string,
    n_chars bigint``) so every text/retrieval op runs on it
    unchanged."""
    import numpy as np

    rng = np.random.default_rng(seed)
    consonants = list("bcdfghjklmnpqrstvwz")
    vowels = list("aeiou")
    syllables = [c + v for c in consonants for v in vowels]  # 95 × 2 chars
    words = set()
    while len(words) < lexicon:
        k = int(rng.integers(3, 7))  # 3-6 syllables → 6-12 chars
        words.add("".join(rng.choice(syllables) for _ in range(k)))
    lex = sorted(words)
    # Zipf-ish weights: heavy head gives high-frequency pairs (realistic
    # adoption pressure), long tail keeps late rounds supplied
    weights = 1.0 / np.arange(1, len(lex) + 1) ** 0.9
    weights /= weights.sum()
    rows = []
    for i in range(n_docs):
        n_words = int(rng.integers(40, 120))
        text = " ".join(rng.choice(lex, size=n_words, p=weights))
        rows.append((i, text, "xx", "synthetic-bpe", len(text)))
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string,"
        " n_chars bigint"
    )
    df.repartition(4).write.mode("overwrite").parquet(
        f"{out_dir}/documents.parquet"
    )
    return df
