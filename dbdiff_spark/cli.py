"""Interactive CLI — the reference's REPL lifecycle
(``cmd/dbdiff/main.go:23-98``): connect → catalog → snapshot *before* →
wait for the user to do things → snapshot *after* → diff → report →
``before = after`` swap → loop.  ``q``/``exit`` quits (``main.go:62-70``).

Differences by design: snapshots persist to Parquet under
``--snapshot-dir`` (point-in-time semantics, nothing driver-resident),
and the swap is a manifest-pointer swap — zero data movement, same trick
as the reference's in-memory ``before = after`` (``main.go:83``).

Usage:
    python -m dbdiff_spark.cli -conf config.yaml -o out.xlsx
    python -m dbdiff_spark.cli --parquet-dir /root/testdata/sf0.001

The second form treats a parquet directory as the "database" (one table
per file) — the fixture mode used for tests and demos.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

from dbdiff_spark.catalog import FileCatalog, JdbcCatalog, TESTDATA_KEYS, jdbc_table_auto
from dbdiff_spark.config import load_configuration
from dbdiff_spark.diff import DiffMode
from dbdiff_spark.session import get_spark
from dbdiff_spark.sinks.console import print_diffs
from dbdiff_spark.sinks.xlsx import default_output_name, maybe_open, write_diff_xlsx
from dbdiff_spark.snapshot import SnapshotStore, diff_snapshots


def _load_sources(spark, args):
    if args.parquet_dir:
        # user-declared keys override the built-in fixture mapping —
        # file sources have no database to discover PKs from, and the
        # all-columns fallback cannot survive schema drift (the key set
        # itself diverges between snapshots)
        declared = dict(TESTDATA_KEYS)
        for spec in getattr(args, "key", []) or []:
            table, _, cols = spec.partition("=")
            declared[table.strip()] = [c.strip() for c in cols.split(",")]
        cat = FileCatalog(spark, args.parquet_dir, declared)
        tables = cat.list_tables()
        keys = cat.primary_keys(tables)
        sources = {t: cat.load(t) for t in tables}
        # normalize declared key columns to the table schema's casing:
        # Spark resolves columns case-insensitively but diff_tables'
        # key guard (and output projection) is case-sensitive, so a
        # --key spec typed in the wrong case must not die mid-run
        for t, cols in keys.items():
            if t in sources:
                actual = {c.lower(): c for c in sources[t].columns}
                keys[t] = [actual.get(c.lower(), c) for c in cols]
        return sources, keys
    conf = load_configuration(args.conf)
    cat = JdbcCatalog(spark, conf.db)
    tables = cat.list_tables()
    keys = cat.primary_keys(tables)
    # range-partitioned parallel scans on the first integral PK column
    # (falls back per table to a single-connection read)
    sources = {t: jdbc_table_auto(spark, conf.db, t, keys.get(t)) for t in tables}
    return sources, keys


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="dbdiff-spark")
    parser.add_argument("-conf", default="config.yaml", help="YAML config path")
    parser.add_argument("-o", default="", help="output xlsx name")
    parser.add_argument("--parquet-dir", default="", help="fixture mode: parquet dir as DB")
    parser.add_argument("--snapshot-dir", default="/tmp/dbdiff_snapshots")
    parser.add_argument("--mode", choices=["string", "typed"], default="string")
    parser.add_argument(
        "--buckets",
        type=int,
        default=0,
        help="write snapshots bucketed+sorted by key (N buckets): "
        "repeat diffs run exchange-free",
    )
    parser.add_argument(
        "--incremental",
        action="store_true",
        help="track per-hash-group fingerprints at snapshot time and "
        "restrict each diff to changed groups (with bucket-file scan "
        "pruning when --buckets aligns)",
    )
    parser.add_argument(
        "--format",
        default="parquet",
        help="snapshot storage format (parquet/orc; delta/iceberg with "
        "their runtime jars)",
    )
    parser.add_argument(
        "--open",
        dest="auto_open",
        action="store_true",
        help="open the written xlsx in the OS viewer (macOS/Windows; "
        "no-op on headless platforms) — reference main.go:261-269, "
        "made opt-in",
    )
    parser.add_argument(
        "--where",
        action="append",
        default=[],
        metavar="TABLE=PREDICATE",
        help="scope the diff of TABLE to rows matching the SQL PREDICATE "
        "(repeatable; predicates on partition columns of a partitioned "
        "snapshot are satisfied by partition pruning)",
    )
    parser.add_argument(
        "--estimate-sample",
        type=int,
        default=0,
        metavar="RATE_INV",
        help="before diffing, print estimated change counts per table "
        "from a 1/RATE_INV correlated key sample (works on untracked "
        "snapshots; typed comparison)",
    )
    parser.add_argument(
        "--tolerance",
        action="append",
        default=[],
        metavar="TABLE.COLUMN=EPS",
        help="treat matched values of TABLE.COLUMN differing by at most "
        "EPS as unchanged (repeatable; typed mode only)",
    )
    parser.add_argument(
        "--ignore",
        action="append",
        default=[],
        metavar="TABLE.COLUMN",
        help="exclude TABLE.COLUMN from the comparator entirely — "
        "audit-churn columns like updated_at (repeatable; the column "
        "still appears in output rows)",
    )
    parser.add_argument(
        "--key",
        action="append",
        default=[],
        metavar="TABLE=COL[,COL...]",
        help="declare a primary key for a file-mode table (repeatable); "
        "overrides the built-in fixture mapping — without a declared "
        "key a table falls back to the all-columns key, which cannot "
        "track rows across a schema migration",
    )
    parser.add_argument(
        "--apply-dir",
        default="",
        help="after each diff, materialize the reconstructed after-state "
        "per table (before snapshot + diff, via apply_diff) under this "
        "directory and verify it equals the after snapshot — the CDC-"
        "apply consumer path",
    )
    parser.add_argument(
        "--profile-only",
        action="store_true",
        help="print a per-column profile of every source table and exit "
        "(pre-diff triage; no snapshots written)",
    )
    parser.add_argument(
        "--vacuum",
        default="",
        metavar="BASE",
        help="expire old snapshot generations under BASE and exit "
        "(used with --keep-last)",
    )
    parser.add_argument(
        "--keep-last",
        type=int,
        default=3,
        help="generations to retain with --vacuum (default 3)",
    )
    parser.add_argument(
        "--explain",
        default="",
        metavar="QUERY",
        help="print the optimized/physical plan of a registry query "
        "(from __spark_entry__.queries()) over --parquet-dir and exit — "
        "the plan-inspection verb for tuning sessions",
    )
    args = parser.parse_args(argv)

    spark = get_spark(app_name="dbdiff_spark_cli")

    if args.explain:
        import __spark_entry__ as entrymod

        qs = entrymod.queries()
        if args.explain not in qs:
            import difflib

            near = difflib.get_close_matches(args.explain, qs, n=3)
            print(f"unknown query {args.explain!r}; close: {near}")
            return 2
        sf_dir = args.parquet_dir or "/root/testdata/sf0.001"
        # prefer the lazy plan override for eagerly-materializing
        # queries — --explain must never execute the workload
        frames = getattr(entrymod, "explain_frames", dict)()
        frames.get(args.explain, qs[args.explain])(spark, sf_dir).explain(
            "formatted"
        )
        return 0

    if args.vacuum:
        from dbdiff_spark.snapshot import vacuum_generations

        deleted = vacuum_generations(spark, args.vacuum, keep_last=args.keep_last)
        for d in deleted:
            print(f"[Vacuum] removed {d}")
        print(f"[Vacuum] {len(deleted)} generation(s) removed")
        return 0

    if args.profile_only:
        from dbdiff_spark.ops.quality import profile_table

        sources, _keys = _load_sources(spark, args)
        for tname in sorted(sources):
            print(f"[Profile] {tname}")
            profile_table(sources[tname]).show(100, truncate=24)
        return 0

    store = SnapshotStore(spark)
    mode = DiffMode(args.mode)

    # Validate --where/--tolerance UP FRONT: a malformed spec must fail
    # before the first (possibly expensive) snapshot, not after the
    # interactive wait.
    where: dict[str, str] = {}
    for spec in args.where:
        table, _, pred = spec.partition("=")
        if not pred:
            print(f"[Error] --where needs TABLE=PREDICATE, got {spec!r}")
            return 2
        where[table.strip()] = pred.strip()
    tolerance: dict[str, dict[str, float]] = {}
    for spec in args.tolerance:
        target, _, eps = spec.partition("=")
        table, _, column = target.partition(".")
        if not eps or not column:
            print(f"[Error] --tolerance needs TABLE.COLUMN=EPS, got {spec!r}")
            return 2
        try:
            eps_val = float(eps)
        except ValueError:
            print(f"[Error] --tolerance EPS must be numeric, got {spec!r}")
            return 2
        tolerance.setdefault(table.strip(), {})[column.strip()] = eps_val
    if tolerance and mode is not DiffMode.TYPED:
        print("[Error] --tolerance requires --mode typed")
        return 2
    declared_keys: dict[str, list[str]] = {}
    for spec in args.key:
        table, _, cols = spec.partition("=")
        if not table.strip() or not cols.strip():
            print(f"[Error] --key needs TABLE=COL[,COL...], got {spec!r}")
            return 2
        declared_keys[table.strip()] = [c.strip() for c in cols.split(",")]
    if declared_keys and not args.parquet_dir:
        # once, up front — not per REPL generation in _load_sources
        print("[Warn] --key has no effect with a JDBC source "
              "(keys come from the live catalog)")
    ignore: dict[str, list[str]] = {}
    for spec in args.ignore:
        table, _, column = spec.partition(".")
        if not column:
            print(f"[Error] --ignore needs TABLE.COLUMN, got {spec!r}")
            return 2
        ignore.setdefault(table.strip(), []).append(column.strip())

    run_root = Path(args.snapshot_dir) / time.strftime("%Y%m%d_%H%M%S")

    collect_kw = dict(
        buckets=args.buckets, track_changes=args.incremental, format=args.format
    )
    sources, keys = _load_sources(spark, args)
    # A typo'd table key in an exclusion/filter flag silently does
    # nothing — for --ignore that means churn rows the user meant to
    # suppress are reported as changes.  Warn before the first
    # (possibly expensive) snapshot.
    # In JDBC mode the blanket '--key has no effect' warning above
    # already covers every --key spec — re-warning mistyped tables here
    # would contradict it (the keys were never going to be used).
    key_warn = declared_keys if args.parquet_dir else {}
    for flag, keyed in (("--where", where), ("--tolerance", tolerance),
                        ("--ignore", ignore), ("--key", key_warn)):
        for tname in sorted(set(keyed) - set(sources)):
            print(f"[Warn] {flag} {tname}: no such table in the source set "
                  f"({', '.join(sorted(sources))}) — spec has no effect")
    # A typo'd COLUMN in --key would surface later as an opaque Spark
    # analysis error mid-snapshot; fail fast against the real schema.
    # File-mode only (JDBC mode discovers keys from the catalog and
    # ignores --key), and case-insensitive to match Spark's default
    # column resolution (spark.sql.caseSensitive=false).
    if args.parquet_dir:
        for tname, cols in sorted(declared_keys.items()):
            if tname not in sources:
                continue
            have = {c.lower() for c in sources[tname].columns}
            missing = [c for c in cols if c.lower() not in have]
            if missing:
                print(f"[Error] --key {tname}: no such column(s) "
                      f"{', '.join(missing)} (table has: "
                      f"{', '.join(sources[tname].columns)})")
                return 2
    print(f"[Collect] snapshotting {len(sources)} tables (before)")
    before = store.collect(sources, keys, str(run_root / "snap0"), **collect_kw)
    print(f"[Collect] total record count: {before.total_count}")

    generation = 1
    while True:
        print("Please change data. (press Enter to diff, q/exit to quit)")
        line = sys.stdin.readline()
        if not line or line.strip().lower() in ("q", "exit"):
            return 0
        sources, keys = _load_sources(spark, args)  # re-read live data
        print(f"[Collect] snapshotting {len(sources)} tables (after)")
        after = store.collect(
            sources, keys, str(run_root / f"snap{generation}"), **collect_kw
        )
        print(f"[Collect] total record count: {after.total_count}")

        if args.incremental:
            # zero-job triage from the manifests before any diff scan
            from dbdiff_spark.snapshot import estimate_changes

            for est in estimate_changes(before, after):
                if est["status"] == "IDENTICAL":
                    continue
                print(
                    f"[Estimate] {est['table_name']}: {est['status']}"
                    + (
                        f" (≥{est['min_changed_rows']} rows,"
                        f" {est['n_changed_groups']} groups)"
                        if est["trackable"] and est["status"] == "CHANGED"
                        else ""
                    )
                )
        if args.estimate_sample > 0:
            # sampled triage for untracked snapshots: classify ~1/N of
            # the keys, scale the counts (see diff.estimate_diff_counts)
            from dbdiff_spark.diff import estimate_diff_counts

            for tname in sorted(set(before.tables) & set(after.tables)):
                est_row = estimate_diff_counts(
                    before.load(spark, tname),
                    after.load(spark, tname),
                    before.keys[tname],
                    rate_inv=args.estimate_sample,
                ).collect()[0]
                print(
                    f"[Estimate~] {tname}: ~{est_row['est_inserted']} ins,"
                    f" ~{est_row['est_deleted']} del,"
                    f" ~{est_row['est_updated']} upd"
                    f" (from {est_row['n_sample_changes']} sampled changes)"
                )
        results = diff_snapshots(
            spark, before, after, mode=mode, incremental=args.incremental,
            where=where or None, tolerance=tolerance or None,
            ignore=ignore or None,
        )
        print_diffs(results)
        out_name = args.o or default_output_name()
        write_diff_xlsx(results, out_name)
        print(f"[ResultOutput] See {out_name}")
        maybe_open(out_name, args.auto_open)

        if args.apply_dir:
            from dbdiff_spark.diff import apply_diff, diff_multiset
            from dbdiff_spark.normalize import normalize_to_strings

            apply_root = Path(args.apply_dir) / f"gen{generation}"
            for tname, res in results.items():
                if tname not in before.tables or tname not in after.tables:
                    continue  # added/dropped tables have no apply target
                base_df = before.load(spark, tname)
                target = after.load(spark, tname)
                if mode is DiffMode.STRING:
                    # STRING-mode diff rows carry normalized renderings;
                    # apply in the same domain so types line up
                    base_df = normalize_to_strings(base_df)
                    target = normalize_to_strings(target)
                # target_cols: under schema drift the diff carries the
                # union schema; reconstruct in the AFTER table's columns
                # or the verify below reports a false MISMATCH
                rebuilt = apply_diff(
                    base_df, res.df, res.key_columns,
                    target_cols=target.columns,
                )
                rebuilt.write.mode("overwrite").parquet(str(apply_root / tname))
                rb = spark.read.parquet(str(apply_root / tname))
                # rows the two do not share, with multiplicity: the
                # sum of both exceptAll counts, in one pass
                (mismatch,) = diff_multiset(rb, target).selectExpr(
                    "coalesce(sum(n_rows), 0)"
                ).first()
                status = "OK" if mismatch == 0 else f"MISMATCH({mismatch})"
                print(f"[Apply] {tname}: reconstructed -> {apply_root / tname} [{status}]")

        before = after  # manifest swap (main.go:83) — no data movement
        generation += 1


if __name__ == "__main__":
    raise SystemExit(main())
