"""Per-table fan-out: ``io.run_jobs`` is the one bounded way to run
independent Spark work at once, its threads carry the caller's local
properties, and the catalog, snapshot and diff layers of the REPL
iteration each run their tables through it."""

import json
import threading
import time

import pytest

from dbdiff_spark import io
from dbdiff_spark import snapshot as snapshot_mod
from dbdiff_spark.catalog import TESTDATA_KEYS, FileCatalog
from dbdiff_spark.diff import collect_rows, diff_tables
from dbdiff_spark.io import run_jobs
from dbdiff_spark.snapshot import MANIFEST_NAME, SnapshotStore, diff_snapshots

# Tables of the fan-out fixtures, in a non-sorted order: the manifest
# must follow it, not the order the writes finish in.
ORDER = ["zeta", "alpha", "mid"]


def _sources(spark, shift=0):
    return {
        name: spark.range(i * 10, i * 10 + 40).selectExpr("id", f"id * {i + shift} AS v")
        for i, name in enumerate(ORDER)
    }


def _barrier_wrap(monkeypatch, owner, attr):
    """Make ``owner.attr`` wait until three calls are in flight at once:
    a layer that runs its three tables one after another breaks the
    barrier (``BrokenBarrierError``) when the first call times out."""
    barrier = threading.Barrier(3, timeout=60)
    orig = getattr(owner, attr)

    def waiting(*args, **kwargs):
        barrier.wait()
        return orig(*args, **kwargs)

    monkeypatch.setattr(owner, attr, waiting)


def test_run_jobs_threads_inherit_the_callers_job_group(spark, last_job_id):
    sc = spark.sparkContext
    group = "run-jobs-inherits-properties"
    before = last_job_id()
    sc.setJobGroup(group, "jobs submitted from run_jobs threads")
    try:
        run_jobs(lambda: spark.range(10).count(), lambda: spark.range(20).count())
    finally:
        sc._jsc.clearJobGroup()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 2
    assert last_job_id() == before, "a run_jobs job ran outside the caller's group"


def test_run_jobs_bounds_concurrency_and_keeps_argument_order():
    lock = threading.Lock()
    running, peak = [0], [0]

    def job(i):
        with lock:
            running[0] += 1
            peak[0] = max(peak[0], running[0])
        time.sleep(0.2)
        with lock:
            running[0] -= 1
        return i

    assert run_jobs(*[lambda i=i: job(i) for i in range(20)]) == list(range(20))
    assert peak[0] == io._MAX_CONCURRENT_JOBS == 8


def test_collect_rows_fills_every_memo_past_the_bound(spark, last_job_id):
    results = {
        f"t{i}": diff_tables(spark.range(i + 1).selectExpr("id", "0 AS v"),
                             spark.range(i + 2).selectExpr("id", "1 AS v"), ["id"])
        for i in range(10)
    }
    collect_rows(results, 5)
    assert all(5 in r._rows for r in results.values())
    before = last_job_id()
    assert [len(r.rows(5)) for r in results.values()] == [min(5, 2 * i + 3) for i in range(10)]
    assert last_job_id() == before


def test_catalog_reads_tables_concurrently(spark, tmp_path, monkeypatch):
    for name, df in _sources(spark).items():
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    _barrier_wrap(monkeypatch, FileCatalog, "_read")
    cat = FileCatalog(spark, str(tmp_path), {})
    tables = cat.list_tables()
    assert tables == sorted(ORDER)
    assert [cat.load(t).count() for t in tables] == [40, 40, 40]


def test_catalog_listing_preloads_every_frame(spark, sf_dir, last_job_id):
    cat = FileCatalog(spark, sf_dir, TESTDATA_KEYS)
    tables = cat.list_tables()
    before = last_job_id()
    frames = {t: cat.load(t) for t in tables}
    keys = cat.primary_keys(tables)
    assert last_job_id() == before, "a listed table was read again"
    assert keys["events"] == frames["events"].columns


def test_snapshot_writes_tables_concurrently(spark, tmp_path, monkeypatch):
    writer_cls = type(spark.range(1).write)  # the classic DataFrameWriter
    _barrier_wrap(monkeypatch, writer_cls, "parquet")
    snap = SnapshotStore(spark).collect(_sources(spark), {}, str(tmp_path / "s"))
    assert list(snap.tables) == ORDER and snap.total_count == 120


def test_diff_plans_tables_concurrently(spark, tmp_path, monkeypatch):
    store = SnapshotStore(spark)
    before = store.collect(_sources(spark), {}, str(tmp_path / "b"))
    after = store.collect(_sources(spark, shift=1), {}, str(tmp_path / "a"))
    _barrier_wrap(monkeypatch, snapshot_mod, "diff_tables")
    results = diff_snapshots(spark, before, after)
    assert list(results) == sorted(ORDER)
    assert [r.df.count() for r in results.values()] == [80, 80, 78]


@pytest.mark.parametrize("track_changes", [False, True])
def test_concurrent_collect_writes_a_deterministic_manifest(spark, tmp_path, track_changes):
    store = SnapshotStore(spark)
    manifests = []
    for side in ("one", "two"):
        root = tmp_path / side
        store.collect(_sources(spark), {"zeta": ["id"]}, str(root), track_changes=track_changes)
        text = (root / MANIFEST_NAME).read_text()
        manifests.append(json.loads(text.replace(str(root), "<root>")))
    assert manifests[0] == manifests[1]
    m = manifests[0]
    assert list(m["tables"]) == list(m["keys"]) == list(m["columns"]) == ORDER
    assert m["total_count"] == 120
    assert m["keys"]["zeta"] == ["id"] and m["keys"]["alpha"] == ["id", "v"]
    assert bool(m["group_hashes"]) == track_changes


def test_failed_table_raises_after_its_siblings_finish(spark, tmp_path):
    root = tmp_path / "s"
    (root / "mid").mkdir(parents=True)  # mode errorifexists
    with pytest.raises(Exception, match="already exists"):
        SnapshotStore(spark).collect(_sources(spark), {}, str(root))
    assert not (root / MANIFEST_NAME).exists()
    assert list(spark.sparkContext.statusTracker().getActiveJobsIds()) == []
    assert (root / "zeta" / "_SUCCESS").exists() and (root / "alpha" / "_SUCCESS").exists()


def test_catalog_listing_survives_an_unreadable_table(spark, tmp_path):
    _sources(spark)["zeta"].write.parquet(str(tmp_path / "good.parquet"))
    (tmp_path / "bad.parquet").write_bytes(b"not a parquet file")
    cat = FileCatalog(spark, str(tmp_path), {})
    assert cat.list_tables() == ["bad", "good"]
    assert cat.load("good").count() == 40
    with pytest.raises(Exception):
        cat.load("bad")
