"""Snapshot history operators — fold a SEQUENCE of snapshots into a
slowly-changing-dimension type-2 (SCD2) table.

The reference diffs exactly two snapshots and throws the result away
each REPL round (`cmd/dbdiff/main.go:83` swaps before=after).  The
natural warehouse-scale extension is to keep the whole lineage: given
snapshots s0..sN of a keyed table, emit one row per (key, version)
with a validity interval — the standard dimension-history layout that
downstream point-in-time joins consume.

Scale shape: ONE shuffle.  The S tagged snapshots union and a single
groupBy(key) folds each snapshot's row into a fixed-size max(struct)
buffer (the `_fold` pattern from diff.py) — absence is a
NULL buffer, so DISAPPEARANCES are visible without densifying a
(key × snapshot) timeline, and there are no windows and no joins.
Change points, interval closing, and the version explode are all
generated per-ordinal expressions (S is a small compile-time constant),
evaluated inside whole-stage codegen on changed keys only.  The DuckDB
oracle deliberately uses the textbook lag/lead-window formulation —
different plan, same semantics, which is exactly what the cross-check
should pin.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dbdiff_spark import testkit
from dbdiff_spark.io import load_table
from dbdiff_spark.testkit import SPECS, MUTATIONS, Mutation, _after_sql, _prep_sql


def scd2_history(
    spark: SparkSession,
    snaps: list[DataFrame],
    keys: list[str],
    attrs: list[str],
) -> DataFrame:
    """Fold ordered keyed snapshots into SCD2 rows.

    Output: ``keys + attrs + (valid_from, valid_to, is_current)`` where
    ``valid_from``/``valid_to`` are snapshot ordinals (``valid_to`` NULL
    for open intervals).  A key deleted at snapshot *s* has its last
    version closed with ``valid_to = s``; re-appearing keys open a new
    version.  Unchanged rows collapse into one interval.
    """
    s_count = len(snaps)
    want = set(keys) | set(attrs)
    for i, df in enumerate(snaps):
        missing = want - set(df.columns)
        if missing:
            raise ValueError(
                f"scd2_history: snapshot {i} lacks columns {sorted(missing)}"
            )
    tagged = None
    for i, df in enumerate(snaps):
        t = df.select(
            *keys,
            F.lit(i).alias("_ord"),
            F.struct(*[F.col(a) for a in attrs]).alias("_vals"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)

    folded = tagged.groupBy(*keys).agg(
        *[
            F.max(F.when(F.col("_ord") == i, F.col("_vals"))).alias(f"_v{i}")
            for i in range(s_count)
        ],
        *[
            F.max(F.when(F.col("_ord") == i, F.lit(True)))
            .isNotNull()
            .alias(f"_p{i}")
            for i in range(s_count)
        ],
    )

    def changed(i: int) -> Column:
        """State at ordinal i differs from ordinal i-1 (null-safe per
        attribute; presence flips always count)."""
        col_diff = reduce(
            lambda acc, a: acc
            | ~F.col(f"_v{i}.{a}").eqNullSafe(F.col(f"_v{i - 1}.{a}")),
            attrs,
            F.lit(False),
        )
        pi, pj = F.col(f"_p{i}"), F.col(f"_p{i - 1}")
        return (pi != pj) | (pi & pj & col_diff)

    event = [F.col("_p0")] + [changed(i) for i in range(1, s_count)]

    def valid_to(i: int) -> Column:
        """First event ordinal after i closes the interval opened at i."""
        expr: Column = F.lit(None).cast("int")
        for j in reversed(range(i + 1, s_count)):
            expr = F.when(event[j], F.lit(j)).otherwise(expr)
        return expr

    versions = F.array(
        *[
            F.when(
                event[i] & F.col(f"_p{i}"),
                F.struct(
                    F.lit(i).alias("valid_from"),
                    valid_to(i).alias("valid_to"),
                    *[F.col(f"_v{i}.{a}").alias(a) for a in attrs],
                ),
            )
            for i in range(s_count)
        ]
    )
    exploded = folded.select(
        *keys,
        F.explode(F.filter(versions, lambda x: x.isNotNull())).alias("_r"),
    )
    return exploded.select(
        *keys,
        *[F.col(f"_r.{a}").alias(a) for a in attrs],
        F.col("_r.valid_from").alias("valid_from"),
        F.col("_r.valid_to").alias("valid_to"),
        F.col("_r.valid_to").isNull().alias("is_current"),
    )


def scd2_apply(
    history: DataFrame,
    new_snap: DataFrame,
    keys: list[str],
    attrs: list[str],
    new_ord: int,
) -> DataFrame:
    """Incrementally fold ONE new snapshot into an existing SCD2 table
    (the output of :func:`scd2_history`), producing exactly what
    re-running the batch fold over all snapshots would produce — the
    self-maintenance law ``apply(scd2(s0..sN-1), sN) == scd2(s0..sN)``,
    which is how the registered query is oracle-verified.

    Scale shape: CLOSED history rows (the unbounded bulk as history
    accumulates) pass through untouched with no shuffle; only the open
    (is_current) slice unions with the new snapshot into one grouped
    max(struct) fold — a single exchange over live keys, independent of
    history depth.  This is the same diff-rows-only posture as the MV
    maintenance ops (ops/incremental.py).
    """
    closed = history.filter(~F.col("is_current"))

    def tagged(df: DataFrame, side: int, vf: Column) -> DataFrame:
        return df.select(
            *keys,
            F.lit(side).alias("_side"),
            F.struct(
                vf.alias("valid_from"), *[F.col(a) for a in attrs]
            ).alias("_vals"),
        )

    unioned = tagged(
        history.filter(F.col("is_current")), 0, F.col("valid_from")
    ).unionByName(tagged(new_snap, 1, F.lit(new_ord).cast("int")))
    folded = unioned.groupBy(*keys).agg(
        F.max(F.when(F.col("_side") == 0, F.col("_vals"))).alias("_c"),
        F.max(F.when(F.col("_side") == 1, F.col("_vals"))).alias("_n"),
        F.max(F.when(F.col("_side") == 0, F.lit(True))).isNotNull().alias("_pc"),
        F.max(F.when(F.col("_side") == 1, F.lit(True))).isNotNull().alias("_pn"),
    )
    col_diff = reduce(
        lambda acc, a: acc | ~F.col(f"_c.{a}").eqNullSafe(F.col(f"_n.{a}")),
        attrs,
        F.lit(False),
    )
    pc, pn = F.col("_pc"), F.col("_pn")
    changed = pc & pn & col_diff

    def version(vals: str, valid_to: Column, current: Column) -> Column:
        return F.struct(
            F.col(f"{vals}.valid_from").alias("valid_from"),
            valid_to.alias("valid_to"),
            current.alias("is_current"),
            *[F.col(f"{vals}.{a}").alias(a) for a in attrs],
        )

    none_int = F.lit(None).cast("int")
    rows = F.array(
        # surviving current row: unchanged key present on both sides
        F.when(pc & pn & ~col_diff, version("_c", none_int, F.lit(True))),
        # closed current row: value change or delete
        F.when(
            (changed | (pc & ~pn)),
            version("_c", F.lit(new_ord).cast("int"), F.lit(False)),
        ),
        # fresh open version: value change or insert/reappear
        F.when(
            (changed | (pn & ~pc)), version("_n", none_int, F.lit(True))
        ),
    )
    exploded = folded.select(
        *keys, F.explode(F.filter(rows, lambda x: x.isNotNull())).alias("_r")
    )
    out_cols = [
        *keys,
        *attrs,
        "valid_from",
        "valid_to",
        "is_current",
    ]
    updated = exploded.select(
        *keys,
        *[F.col(f"_r.{a}").alias(a) for a in attrs],
        F.col("_r.valid_from").alias("valid_from"),
        F.col("_r.valid_to").alias("valid_to"),
        F.col("_r.is_current").alias("is_current"),
    )
    return closed.select(*out_cols).unionByName(updated)


# --- the oracle-checked query: 3-snapshot customer history ------------------

# Second mutation round, applied to the ALREADY-mutated snapshot s1:
# rows touched twice get two closed/open versions, rows deleted after an
# update get a closed final version, and a fresh insert opens at s2.
CUSTOMER_MUT2 = Mutation(
    delete_where="c_custkey % 10 = 4",
    updates=(
        ("c_custkey % 10 = 3", "c_acctbal", "c_acctbal + 25.0"),
        ("c_custkey % 10 = 1", "c_mktsegment", "'MUT2'"),
    ),
    insert_where="c_custkey % 10 = 6",
    insert_overrides={"c_custkey": "c_custkey + 2000000"},
)


def scd2_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 history of customer over snapshots (base, mut1(base),
    mut2(mut1(base))) — the reference's REPL rounds persisted as one
    dimension-history table instead of being discarded."""
    spec = SPECS["customer"]
    s0 = testkit.prep(load_table(spark, sf_dir, "customer"), spec)
    s1 = testkit.apply_mutation(s0, spec, MUTATIONS["customer"])
    s2 = testkit.apply_mutation(s1, spec, CUSTOMER_MUT2)
    attrs = [c for c in spec.cols if c not in spec.key]
    return scd2_history(spark, [s0, s1, s2], list(spec.key), attrs)


def _scd2_oracle_sql() -> str:
    spec = SPECS["customer"]
    keys, attrs = list(spec.key), [c for c in spec.cols if c not in spec.key]
    key_cols = ", ".join(f'"{k}"' for k in keys)
    attr_cols = ", ".join(f'"{a}"' for a in attrs)
    part = key_cols
    attr_changed = " OR ".join(
        f'"{a}" IS DISTINCT FROM lag("{a}") OVER (PARTITION BY {part} ORDER BY snap_ord)'
        for a in attrs
    )
    return f"""
WITH s0 AS ({_prep_sql(spec)}),
s1 AS ({_after_sql(spec, MUTATIONS["customer"], src="s0")}),
s2 AS ({_after_sql(spec, CUSTOMER_MUT2, src="s1")}),
tagged AS (
  SELECT {key_cols}, {attr_cols}, 0 AS snap_ord, TRUE AS _present FROM s0
  UNION ALL
  SELECT {key_cols}, {attr_cols}, 1, TRUE FROM s1
  UNION ALL
  SELECT {key_cols}, {attr_cols}, 2, TRUE FROM s2
),
keyset AS (SELECT DISTINCT {key_cols} FROM tagged),
dense AS (
  SELECT keyset.*, o.snap_ord
  FROM keyset CROSS JOIN (SELECT unnest([0, 1, 2]) AS snap_ord) o
),
state AS (
  SELECT d.*, {", ".join(f't."{a}"' for a in attrs)},
         coalesce(t._present, FALSE) AS present
  FROM dense d
  LEFT JOIN tagged t USING ({key_cols}, snap_ord)
),
marked AS (
  SELECT *,
    CASE WHEN lag(present) OVER (PARTITION BY {part} ORDER BY snap_ord) IS NULL
         THEN present
         ELSE present <> lag(present) OVER (PARTITION BY {part} ORDER BY snap_ord)
              OR (present
                  AND lag(present) OVER (PARTITION BY {part} ORDER BY snap_ord)
                  AND ({attr_changed}))
    END AS is_event
  FROM state
),
events AS (SELECT * FROM marked WHERE is_event),
closed AS (
  SELECT *, lead(snap_ord) OVER (PARTITION BY {part} ORDER BY snap_ord) AS valid_to
  FROM events
)
SELECT {key_cols}, {attr_cols},
       snap_ord AS valid_from, valid_to,
       valid_to IS NULL AS is_current
FROM closed WHERE present
"""


SCD2_CUSTOMER_SQL = _scd2_oracle_sql()


def scd2_incremental_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance law as a query: build SCD2 over (s0, s1)
    with the batch fold, then :func:`scd2_apply` s2 — the oracle is the
    BATCH fold over all three snapshots, so the gate verifies
    ``apply(scd2(s0, s1), s2) == scd2(s0, s1, s2)`` value-for-value
    (same verification style as ``diff_roundtrip_apply``)."""
    spec = SPECS["customer"]
    s0 = testkit.prep(load_table(spark, sf_dir, "customer"), spec)
    s1 = testkit.apply_mutation(s0, spec, MUTATIONS["customer"])
    s2 = testkit.apply_mutation(s1, spec, CUSTOMER_MUT2)
    keys = list(spec.key)
    attrs = [c for c in spec.cols if c not in spec.key]
    hist01 = scd2_history(spark, [s0, s1], keys, attrs)
    return scd2_apply(hist01, s2, keys, attrs, new_ord=2)


def pit_join(
    facts: DataFrame,
    history: DataFrame,
    fact_key: list[str],
    hist_key: list[str],
    as_of_col: str,
) -> DataFrame:
    """Point-in-time join — each fact row picks the dimension VERSION
    whose validity interval covers the fact's as-of ordinal: the read
    side of SCD2 (a fact never sees attribute values from a later
    version — the classic leakage bug PIT joins exist to prevent).

    Plan: an equi-join on the dimension key with the interval predicate
    as a post-join filter — versions per key are few, so the filter
    discards a bounded number of rows per fact; everything shuffles on
    the dimension key only."""
    cond = None
    for f, h in zip(fact_key, hist_key):
        c = facts[f] == history[h]
        cond = c if cond is None else cond & c
    interval = (history["valid_from"] <= facts[as_of_col]) & (
        history["valid_to"].isNull() | (history["valid_to"] > facts[as_of_col])
    )
    return facts.join(history, cond & interval, "left")


def scd2_pit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to the customer attributes that were CURRENT at
    each order's (synthetic, deterministic) as-of snapshot ordinal —
    the consumption query for the scd2_customer history table.  Orders
    whose customer has no valid version at that ordinal (deleted, or
    inserted later) surface with NULL attributes."""
    spec = SPECS["customer"]
    keys = list(spec.key)
    attrs = [c for c in spec.cols if c not in keys]
    hist = scd2_customer(spark, sf_dir)
    orders = testkit.prep(
        load_table(spark, sf_dir, "orders"), SPECS["orders"]
    ).selectExpr(
        "o_orderkey",
        "o_custkey",
        "CAST(o_orderkey % 3 AS INT) AS as_of",
    )
    joined = pit_join(orders, hist, ["o_custkey"], keys, "as_of")
    return joined.select(
        "o_orderkey",
        "o_custkey",
        "as_of",
        *[F.col(a) for a in attrs],
        "valid_from",
    )


def _pit_oracle_sql() -> str:
    spec = SPECS["customer"]
    attrs = [c for c in spec.cols if c not in spec.key]
    attr_cols = ", ".join(f'h."{a}"' for a in attrs)
    return f"""
WITH hist AS ({SCD2_CUSTOMER_SQL}),
facts AS (
  SELECT o_orderkey, o_custkey, CAST(o_orderkey % 3 AS INT) AS as_of FROM orders
)
SELECT f.o_orderkey, f.o_custkey, f.as_of, {attr_cols}, h.valid_from
FROM facts f
LEFT JOIN hist h
  ON h."c_custkey" = f.o_custkey
 AND h.valid_from <= f.as_of
 AND (h.valid_to IS NULL OR h.valid_to > f.as_of)
"""


SCD2_PIT_SQL = _pit_oracle_sql()

def scd2_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-lifetime distribution over the SCD2 history: how many
    snapshot ordinals each version survived before being superseded
    (NULL lifetime = still open) — the churn-rate summary a dimension
    owner reads before deciding snapshot cadence.  One aggregation over
    the (already key-folded) history; output is lifetime×flag-bounded."""
    hist = scd2_customer(spark, sf_dir)
    return (
        hist.groupBy(
            (F.col("valid_to") - F.col("valid_from")).cast("bigint").alias(
                "lifetime_snaps"
            ),
            "is_current",
        )
        .agg(F.count(F.lit(1)).alias("n_versions"))
    )


SCD2_SURVIVAL_SQL = f"""
WITH h AS ({SCD2_CUSTOMER_SQL})
SELECT CAST(valid_to - valid_from AS BIGINT) AS lifetime_snaps, is_current,
       CAST(count(*) AS BIGINT) AS n_versions
FROM h
GROUP BY 1, 2
"""


QUERIES = {
    "scd2_customer": (scd2_customer, SCD2_CUSTOMER_SQL),
    "scd2_survival": (scd2_survival, SCD2_SURVIVAL_SQL),
    "scd2_incremental_customer": (scd2_incremental_customer, SCD2_CUSTOMER_SQL),
    "scd2_pit_orders": (scd2_pit_orders, SCD2_PIT_SQL),
}
