"""Local mirror of the driver's t2 correctness gate.

Runs every ``__spark_entry__.queries()`` entry on Spark at sf0.01 and its
``oracle_sql()`` twin on DuckDB over the same parquet tables, then
compares row count, sorted column names, and order-insensitive
canonicalized values.  Usage::

    python tools/check_oracle.py            # all queries, sequential
    python tools/check_oracle.py --jobs 8   # full gate in ~1 min
    python tools/check_oracle.py diff_customer snapshot_counts
    python tools/check_oracle.py --sf-dir /root/testdata/sf0.1 q1_pricing_summary
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon_value(v) -> str:
    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    if isinstance(v, bool):
        return str(bool(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NULL"
        return repr(float(v))
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon_frame(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    rows = sorted(
        tuple(canon_value(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    return cols, rows


def _check_one(name, qs, oracles, sf_dir, spark, make_con) -> tuple[bool, str]:
    """Run one query on both engines and compare.  Returns (ok, report).
    Thread-safe: Spark job submission is; DuckDB connections are not, so
    each worker builds its own via ``make_con``."""
    t0 = time.time()
    try:
        spark_pdf = qs[name](spark, sf_dir).toPandas()
    except Exception as e:
        return False, f"[FAIL] {name}: spark error: {e}"
    if name not in oracles:
        return True, f"[rows-only] {name}: {len(spark_pdf)} rows ({time.time()-t0:.1f}s)"
    try:
        duck_pdf = make_con().execute(oracles[name]).df()
    except Exception as e:
        return False, f"[FAIL] {name}: duckdb error: {e}"
    s_cols, s_rows = canon_frame(spark_pdf)
    d_cols, d_rows = canon_frame(duck_pdf)
    if s_cols != d_cols:
        return False, f"[FAIL] {name}: columns differ\n  spark: {s_cols}\n  duck:  {d_cols}"
    if len(s_rows) != len(d_rows):
        return False, (
            f"[FAIL] {name}: row counts differ spark={len(s_rows)} duck={len(d_rows)}"
        )
    if s_rows != d_rows:
        diff_idx = next(i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b)
        return False, (
            f"[FAIL] {name}: values differ at sorted row {diff_idx}\n"
            f"  spark: {s_rows[diff_idx]}\n  duck:  {d_rows[diff_idx]}"
        )
    return True, f"[ok] {name}: {len(s_rows)} rows match ({time.time()-t0:.1f}s)"


def main(names: list[str], sf_dir: str = SF_DIR, spark=None, jobs: int = 1) -> int:
    import __spark_entry__ as entrymod

    if spark is None:
        from dbdiff_spark.session import get_spark

        spark = get_spark(
            app_name="check_oracle",
            shuffle_partitions=8,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )

    def make_con():
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW \"{t}\" AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        return con

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    if not names:
        names = list(qs)
    failures = []
    if jobs > 1:
        # thread pool: Spark schedules concurrent jobs fine from one
        # session; results print in completion order (names are in
        # every line, so logs stay greppable)
        from concurrent.futures import ThreadPoolExecutor, as_completed

        with ThreadPoolExecutor(max_workers=jobs) as pool:
            futs = {
                pool.submit(_check_one, n, qs, oracles, sf_dir, spark, make_con): n
                for n in names
            }
            for fut in as_completed(futs):
                ok, report = fut.result()
                print(report)
                if not ok:
                    failures.append(futs[fut])
    else:
        # per-worker connections exist only for thread safety; the
        # sequential path registers the views once and reuses
        con = make_con()
        for name in names:
            ok, report = _check_one(
                name, qs, oracles, sf_dir, spark, lambda: con
            )
            print(report)
            if not ok:
                failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} queries match")
    return 1 if failures else 0


if __name__ == "__main__":
    argv = sys.argv[1:]
    sf_dir = SF_DIR
    jobs = 1
    if "--sf-dir" in argv:
        i = argv.index("--sf-dir")
        sf_dir = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    if "--jobs" in argv:
        i = argv.index("--jobs")
        jobs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2 :]
    raise SystemExit(main(argv, sf_dir=sf_dir, jobs=jobs))
