"""Diff-tier 100×-gate scaling probe (VERDICT r3 item 7).

Scales sf0.1's lineitem (~600k rows) 10× to ~6M rows by exploding each
row into 10 copies with distinct order keys (composite PK stays unique,
value distributions preserved), applies the standard testkit mutation,
and times the three headline diff shapes warm:

* naive typed keyed diff (``diff_tables``, the FOJ-equivalent path),
* bucketed snapshot diff (the zero-exchange 100 TB posture),
* multiset diff (``diff_multiset``, its regime size-elected).

Reports seconds and s/Mrow at 600k and 6M so the linear-regime claim in
ARCHITECTURE.md is measured, not asserted.  Writes nothing to the repo.

``--crossover`` instead sweeps the one-task bound of the diff size
election (``diff.DIFF_ONE_TASK_MAX_BYTES``): cuts of sf0.1's lineitem
(``--cuts``, the first rows by key), each snapshotted before and after
a few dozen edits, then ``diff_snapshots`` (STRING) plus
``print_diffs`` — one REPL Enter press without the snapshot — with each
regime forced in turn.  Prints the combined input estimate the
election compares, the rows and the min-of-3 warm seconds per regime.

Usage: python tools/probe_diff_scale.py [--skew | --crossover]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.1"


def scaled_lineitem(spark, factor: int):
    from dbdiff_spark import testkit
    from dbdiff_spark.io import load_table

    spec = testkit.SPECS["lineitem"]
    base = testkit.prep(load_table(spark, SF_DIR, "lineitem"), spec)
    if factor == 1:
        return spec, base
    # explode ×factor with disjoint order-key ranges; PK stays unique
    # and every mutation predicate (l_orderkey % 13) keeps its rate
    scaled = (
        base.withColumn("__c", F.explode(F.expr(f"sequence(0, {factor - 1})")))
        .withColumn(
            "l_orderkey",
            F.col("l_orderkey") + F.col("__c") * F.lit(100_000_000),
        )
        .drop("__c")
    )
    return spec, scaled


def timed(fn, reps: int = 2) -> float:
    best = None
    for _ in range(reps):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 2)


def run_scale(spark, factor: int) -> dict[str, float]:
    from dbdiff_spark import testkit
    from dbdiff_spark.diff import DiffMode, diff_multiset, diff_tables
    from dbdiff_spark.snapshot import SnapshotStore, diff_snapshots

    spec, base = scaled_lineitem(spark, factor)
    mut = testkit.MUTATIONS["lineitem"]
    after = testkit.apply_mutation(base, spec, mut)
    root = tempfile.mkdtemp(prefix=f"probe_diff_{factor}x_")
    out: dict[str, float] = {}
    try:
        # materialize both sides once as plain parquet so every timed
        # diff reads identical warm inputs
        base.write.parquet(f"{root}/b")
        after.write.parquet(f"{root}/a")
        b = spark.read.parquet(f"{root}/b")
        a = spark.read.parquet(f"{root}/a")
        n = b.count()
        out["rows"] = n

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        out["naive"] = timed(
            lambda: noop(
                diff_tables(b, a, list(spec.key), mode=DiffMode.TYPED).df
            )
        )
        out["multiset"] = timed(lambda: noop(diff_multiset(b, a)))

        store = SnapshotStore(spark)
        keys = {"lineitem": list(spec.key)}
        sb = store.collect({"lineitem": b}, keys, f"{root}/sb", buckets=32)
        sa = store.collect({"lineitem": a}, keys, f"{root}/sa", buckets=32)
        out["bucketed"] = timed(
            lambda: noop(
                diff_snapshots(spark, sb, sa, mode=DiffMode.TYPED)["lineitem"].df
            )
        )
        for ident in list(sb.catalog_tables.values()) + list(
            sa.catalog_tables.values()
        ):
            spark.sql(f"DROP TABLE IF EXISTS {ident}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def planted_hot_key(spark, factor: int):
    """The planted-skew fixture (VERDICT r8 #5): lineitem scaled
    ``factor``×, then HALF of all rows collapsed onto one hot
    l_orderkey (7) — a pathological key-value distribution no real
    corpus reaches.  The composite PK stays UNIQUE (l_linenumber is
    re-derived from the original key pair), so both skew surfaces are
    exercised: the unique-PK FOJ under extreme key concentration, and
    the coarse-key (l_orderkey only) grouped-dedup diff under a hot
    group holding 50% of the table."""
    spec, base = scaled_lineitem(spark, factor)
    hot = base.withColumn(
        "l_linenumber",
        F.when(
            F.col("l_orderkey") % 2 == 0,
            F.col("l_orderkey") * 10 + F.col("l_linenumber"),
        ).otherwise(F.col("l_linenumber")),
    ).withColumn(
        "l_orderkey",
        F.when(F.col("l_orderkey") % 2 == 0, F.lit(7)).otherwise(
            F.col("l_orderkey")
        ),
    )
    return spec, hot


def run_skew(spark, factor: int) -> dict[str, float]:
    """Planted-skew timings: the unique-PK typed diff and the
    coarse-key grouped-dedup diff on the hot-key fixture, with the
    un-skewed typed diff at the same scale as the control."""
    from dbdiff_spark import testkit
    from dbdiff_spark.diff import DiffMode, diff_tables

    spec, base = scaled_lineitem(spark, factor)
    _, hot = planted_hot_key(spark, factor)
    root = tempfile.mkdtemp(prefix=f"probe_diff_skew_{factor}x_")
    out: dict[str, float] = {}
    try:
        mut = testkit.MUTATIONS["lineitem"]
        base.write.parquet(f"{root}/base")
        hot.write.parquet(f"{root}/hot")
        b = spark.read.parquet(f"{root}/base")
        h = spark.read.parquet(f"{root}/hot")
        testkit.apply_mutation(b, spec, mut).write.parquet(f"{root}/base_a")
        # the same value mutation expressed key-free so it applies to
        # the hot fixture unchanged (apply_mutation keys on l_orderkey,
        # which the fixture collapsed)
        h.withColumn(
            "l_quantity",
            F.when(
                F.col("l_partkey") % 13 == 3, F.col("l_quantity") + 1
            ).otherwise(F.col("l_quantity")),
        ).write.parquet(f"{root}/hot_a")
        ba = spark.read.parquet(f"{root}/base_a")
        ha = spark.read.parquet(f"{root}/hot_a")
        out["rows"] = b.count()

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        key = list(spec.key)
        out["pk_uniform"] = timed(
            lambda: noop(diff_tables(b, ba, key, mode=DiffMode.TYPED).df)
        )
        out["pk_hot"] = timed(
            lambda: noop(diff_tables(h, ha, key, mode=DiffMode.TYPED).df)
        )
        # coarse single-column key + dedup: the hot group holds 50% of
        # the table; the grouped-dedup form must absorb it map-side
        out["coarse_hot_dedup"] = timed(
            lambda: noop(
                diff_tables(
                    h, ha, ["l_orderkey"], mode=DiffMode.TYPED, dedup_keys=True
                ).df
            )
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


# a REPL-sized edit: ~1/1000 of the orders deleted, updated or re-keyed
_SMALL_EDIT = {
    "delete_where": "l_orderkey % 997 = 5",
    "updates": (("l_orderkey % 997 = 3", "l_quantity", "l_quantity + 1.0"),),
    "insert_where": "l_orderkey % 997 = 2",
    "insert_overrides": {"l_orderkey": "l_orderkey + 10000000"},
}


def run_crossover(spark, sf_dir: str, rows: int) -> dict[str, float]:
    """One sweep row: ``rows`` lineitem rows of ``sf_dir`` (0 = all),
    snapshotted before and after ``_SMALL_EDIT``; min-of-3 warm seconds
    of ``diff_snapshots`` + ``print_diffs`` per forced regime."""
    import contextlib
    import io

    from dbdiff_spark import diff as diff_mod
    from dbdiff_spark import testkit
    from dbdiff_spark.io import load_table
    from dbdiff_spark.sinks.console import print_diffs
    from dbdiff_spark.snapshot import SnapshotStore, diff_snapshots

    spec = testkit.SPECS["lineitem"]
    base = load_table(spark, sf_dir, "lineitem")
    if rows:
        base = base.orderBy(*spec.key).limit(rows)
    root = tempfile.mkdtemp(prefix=f"probe_diff_crossover_{rows}_")
    out: dict[str, float] = {}
    bound = diff_mod.DIFF_ONE_TASK_MAX_BYTES
    try:
        # the live table is one file, as a test database's would be
        base.coalesce(1).write.parquet(f"{root}/live")
        live = spark.read.parquet(f"{root}/live")
        after = testkit.apply_mutation(live, spec, testkit.Mutation(**_SMALL_EDIT))
        store, keys = SnapshotStore(spark), {"lineitem": list(spec.key)}
        sb = store.collect({"lineitem": live}, keys, f"{root}/sb")
        sa = store.collect({"lineitem": after}, keys, f"{root}/sa")
        out["rows"] = sb.total_count
        out["estimate"] = diff_mod._input_bytes(
            [sb.load(spark, "lineitem"), sa.load(spark, "lineitem")]
        )

        def press():
            with contextlib.redirect_stdout(io.StringIO()):
                print_diffs(diff_snapshots(spark, sb, sa))

        for regime, forced in (("exchange", -1), ("one_task", 2**62)):
            diff_mod.DIFF_ONE_TASK_MAX_BYTES = forced
            press()  # warm this regime's plan
            out[regime] = timed(press, reps=3)
    finally:
        diff_mod.DIFF_ONE_TASK_MAX_BYTES = bound
        shutil.rmtree(root, ignore_errors=True)
    return out


def _mib(n: int | None) -> str:
    return "unknown" if n is None else f"{n / 1024**2:.2f} MiB ({n:,} B)"


def main() -> int:
    import argparse

    from dbdiff_spark.session import get_spark

    ap = argparse.ArgumentParser()
    ap.add_argument("--factors", default="1,10", help="e.g. 1,10,100")
    ap.add_argument(
        "--skew", action="store_true",
        help="run the planted hot-key stress instead of the scale sweep",
    )
    ap.add_argument(
        "--crossover", action="store_true",
        help="sweep the diff one-task bound instead of the scale sweep",
    )
    ap.add_argument(
        "--cuts",
        default="5000,10000,15000,20000,25000,35000,45000,60000,80000,120000,200000,0",
        help="--crossover: lineitem rows per sweep row (0 = the whole table)",
    )
    args = ap.parse_args()
    factors = [int(f) for f in args.factors.split(",")]

    if args.crossover:
        from dbdiff_spark.diff import DIFF_ONE_TASK_MAX_BYTES

        spark = get_spark(
            app_name="probe_diff_crossover",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        print(f"bound: {_mib(DIFF_ONE_TASK_MAX_BYTES)} (diff.DIFF_ONE_TASK_MAX_BYTES)")
        print("| estimate | rows | exchange s | one_task s |")
        print("|---|---|---|---|")
        cuts = [int(c) for c in args.cuts.split(",")]
        run_crossover(spark, SF_DIR, cuts[0])  # untimed: the JVM's first diffs run cold
        for rows in cuts:
            r = run_crossover(spark, SF_DIR, rows)
            print(
                f"| {_mib(r['estimate'])} | {int(r['rows']):,} "
                f"| {r['exchange']} | {r['one_task']} |",
                flush=True,
            )
        return 0

    if args.skew:
        spark = get_spark(
            app_name="probe_diff_skew",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        print(
            "| rows | pk_uniform s (s/Mrow) | pk_hot s (s/Mrow) "
            "| coarse_hot_dedup s (s/Mrow) |"
        )
        print("|---|---|---|---|")
        for factor in factors:
            r = run_skew(spark, factor)
            m = r["rows"] / 1e6
            print(
                f"| {int(r['rows']):,} "
                f"| {r['pk_uniform']} ({r['pk_uniform']/m:.2f}) "
                f"| {r['pk_hot']} ({r['pk_hot']/m:.2f}) "
                f"| {r['coarse_hot_dedup']} ({r['coarse_hot_dedup']/m:.2f}) |"
            )
        return 0

    spark = get_spark(
        app_name="probe_diff_scale",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    print("| rows | naive s (s/Mrow) | bucketed s (s/Mrow) | multiset s (s/Mrow) |")
    print("|---|---|---|---|")
    for factor in factors:
        r = run_scale(spark, factor)
        m = r["rows"] / 1e6
        print(
            f"| {int(r['rows']):,} "
            f"| {r['naive']} ({r['naive']/m:.2f}) "
            f"| {r['bucketed']} ({r['bucketed']/m:.2f}) "
            f"| {r['multiset']} ({r['multiset']/m:.2f}) |"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
