"""The engine's one cache and lineage lifecycle: every pin goes through
``io.pinned`` (reference-counted, shared by plan) and every lineage cut
through ``io.cut_lineage`` (reliable checkpoint once a checkpoint dir is
set)."""

import ast
import sys
import threading
from pathlib import Path

from pyspark.storagelevel import StorageLevel

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry  # noqa: E402
from dbdiff_spark.io import pinned  # noqa: E402

_CACHE_CALLS = {"persist", "cache", "unpersist", "localCheckpoint", "checkpoint"}


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()  # type: ignore[attr-defined]


def _reset_checkpoint_dir(spark) -> None:
    # no public unset API; the Scala setter name needs getattr because
    # of the $ in its JVM name
    none = getattr(getattr(spark._jvm.scala, "Option$"), "MODULE$").empty()
    getattr(spark.sparkContext._jsc.sc(), "checkpointDir_$eq")(none)


def test_no_raw_cache_calls_outside_io():
    """Only ``io.py`` may call Spark's cache and checkpoint methods; the
    rest of the engine goes through ``io.pinned`` / ``io.cut_lineage``."""
    found = []
    for path in sorted((ROOT / "dbdiff_spark").rglob("*.py")):
        if path.name == "io.py" and path.parent.name == "dbdiff_spark":
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _CACHE_CALLS
            ):
                found.append(f"{path.relative_to(ROOT)}:{node.lineno} .{node.func.attr}(")
    assert not found, found


def test_graph_entries_release_their_caches(spark, sf_dir):
    """Each graph entry pins its edge caches only while it computes: after
    one call (result collected, as a caller would), the persisted-RDD map
    holds at most the entry's one result checkpoint."""
    results = []  # held, so the result checkpoints stay referenced
    for name in (
        "pagerank_copurchase",
        "triangle_count",
        "label_propagation",
        "kcore_peeling",
    ):
        before = _persistent_rdds(spark)
        out = entry.queries()[name](spark, sf_dir)
        assert out.collect(), name
        results.append(out)
        assert _persistent_rdds(spark) <= before + 1, name


def _cache_loaded(df) -> bool:
    """Whether the session's cache manager holds ``df``'s own plan with
    its column buffers materialized."""
    cached = df.sparkSession._jsparkSession.sharedState().cacheManager().lookupCachedData(
        df._jdf
    )
    return cached.isDefined() and (
        cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded()
    )


def test_pinned_shares_one_cache_across_holders(spark, sf_dir):
    """Two threads pin two semantically equal ``_vectors`` frames: the
    first release must not evict the cache the other still reads, and
    the last release must free it.  Both facts are read off the
    frame's own cache entry, not the session-wide persisted-RDD count,
    which other tests' weakly held RDDs can change between reads."""
    from dbdiff_spark.ops.similarity import _vectors

    a, b = _vectors(spark, sf_dir), _vectors(spark, sf_dir)
    assert a is not b and a.sameSemantics(b)
    both_pinned = threading.Barrier(2, timeout=120)
    first_released = threading.Event()
    seen = {}

    def first():
        with pinned(a):
            a.count()
            both_pinned.wait()
        first_released.set()

    def second():
        with pinned(b):
            both_pinned.wait()
            first_released.wait(120)
            seen["level"] = b.storageLevel
            seen["loaded"] = _cache_loaded(b)

    threads = [threading.Thread(target=t) for t in (first, second)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(180)
    assert not any(t.is_alive() for t in threads)
    assert seen["level"] != StorageLevel.NONE
    assert seen["loaded"]  # the first holder's count filled the shared cache
    assert a.storageLevel == StorageLevel.NONE
    assert b.storageLevel == StorageLevel.NONE
    assert not _cache_loaded(a)


def test_pinned_counts_survive_racing_holders(spark):
    """Stress: more threads than cores pin and release one plan with a
    shortened switch interval; a lost count update would unpersist the
    cache under a holder (or leave it pinned after the last release)."""
    from dbdiff_spark import io

    df = spark.range(50)
    lost = []

    def holder():
        for _ in range(5):
            with pinned(spark.range(50)) as mine:
                if mine.storageLevel == StorageLevel.NONE:
                    lost.append(1)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=holder) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert not lost
    assert df.storageLevel == StorageLevel.NONE
    assert not [k for k in io._PINS if k[0] == spark.sparkContext.applicationId]


def test_pinned_never_shares_a_count_across_hash_collisions(spark, monkeypatch):
    """``semanticHash`` is 32-bit: two different plans under one hash
    keep separate caches and counts, so releasing one leaves the other
    cached."""
    x, y = spark.range(10), spark.range(20)
    monkeypatch.setattr(type(x), "semanticHash", lambda self: 7)
    assert x.semanticHash() == y.semanticHash() and not x.sameSemantics(y)
    with pinned(x):
        with pinned(y):
            assert x.count() == 10 and y.count() == 20
            assert x.storageLevel != StorageLevel.NONE
            assert y.storageLevel != StorageLevel.NONE
        assert y.storageLevel == StorageLevel.NONE
        assert x.storageLevel != StorageLevel.NONE
    assert x.storageLevel == StorageLevel.NONE


# Every registry entry that reaches an io.pinned or io.cut_lineage site
# outside the connected-components loop (found by recording the callers
# of persist/localCheckpoint/checkpoint over the whole registry).
DURABLE_ENTRIES = [
    "ann_ivf_compact_serve",
    "ann_ivf_delete_serve",
    "ann_ivf_filtered",
    "ann_ivf_filtered_serve",
    "ann_ivf_full_trained",
    "ann_ivf_index_persist",
    "ann_ivf_ingest",
    "ann_ivf_nprobe_curve",
    "ann_ivf_pq",
    "ann_ivf_pq_residual",
    "ann_ivf_recall_report",
    "ann_ivf_serve",
    "ann_ivf_trained",
    "ann_ivf_upsert_serve",
    "ann_ivfpq_delete_serve",
    "ann_ivfpq_filtered_serve",
    "ann_ivfpq_ingest",
    "ann_ivfpq_recall_report",
    "ann_ivfpq_serve",
    "ann_ivfpq_trained_codebook",
    "ann_ivfpq_upsert_serve",
    "bpe_apply_bytes",
    "bpe_apply_cross_corpus",
    "bpe_apply_from_artifact",
    "bpe_apply_standard_format",
    "bpe_apply_tokens",
    "bpe_train_batch",
    "bpe_train_bytes",
    "bpe_train_greedy",
    "bpe_train_merges",
    "dedup_ingest_full",
    "dedup_ingest_incremental",
    "dedup_simhash_neardup",
    "diff_customer_orc_snapshot",
    "kcore_peeling",
    "kmeans_lloyd",
    "label_propagation",
    "mmr_rerank",
    "multimodal_dhash128_neardup",
    "multimodal_dhash_neardup",
    "pagerank_copurchase",
    "pca_power_iteration",
    "q11_important_parts",
    "rfm_segments",
    "stream_apply_cdc",
    "stream_dedup_ingest",
    "stream_drift_monitor",
    "stream_ivf_ingest",
    "stream_ivfpq_ingest",
    "stream_scd2_history",
    "triangle_count",
]


def _rows(spark, sf_dir, names):
    """name → canonical sorted rows (check_oracle's exact canonical
    form), the entries run on a small thread pool like the oracle
    parity test."""
    from concurrent.futures import ThreadPoolExecutor

    from check_oracle import canon_frame

    qs = entry.queries()

    def run(name):
        return name, canon_frame(qs[name](spark, sf_dir).toPandas())

    with ThreadPoolExecutor(max_workers=4) as pool:
        return dict(pool.map(run, names))


def test_entries_are_durable_with_a_checkpoint_dir(spark, sf_dir, tmp_path, monkeypatch):
    """With a session checkpoint dir set, every lineage cut is a
    reliable checkpoint: ``localCheckpoint`` (patched to raise) is never
    reached, and each entry returns the rows it returns without one."""
    sys.path.insert(0, str(ROOT / "tools"))
    plain = _rows(spark, sf_dir, DURABLE_ENTRIES)

    def _no_local_checkpoint(self, *_a, **_k):
        raise AssertionError("localCheckpoint used with a checkpoint dir set")

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint", _no_local_checkpoint)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        durable = _rows(spark, sf_dir, DURABLE_ENTRIES)
    finally:
        _reset_checkpoint_dir(spark)
    assert [n for n in DURABLE_ENTRIES if durable[n] != plain[n]] == []
    assert list((tmp_path / "ckpt").rglob("*")), "no reliable checkpoint was written"


def test_multi_round_components_are_durable_with_a_checkpoint_dir(spark, tmp_path, monkeypatch):
    """The connected-components loop cuts its lineage once per round; on
    a path that takes several rounds, with a checkpoint dir set, every
    cut is a reliable checkpoint and the labels are the union-find's."""
    from conftest import union_find_labels

    from dbdiff_spark.ops.dedup import bigstar_components

    pairs = [(i, i + 1) for i in range(63)]
    df = spark.createDataFrame(pairs, "src long, dst long")
    sym = df.unionByName(df.selectExpr("dst AS src", "src AS dst"))

    def _no_local_checkpoint(self, *_a, **_k):
        raise AssertionError("localCheckpoint used with a checkpoint dir set")

    monkeypatch.setattr(type(sym), "localCheckpoint", _no_local_checkpoint)
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        out = bigstar_components(sym, "test").collect()
    finally:
        _reset_checkpoint_dir(spark)
    assert {r.doc_id: r.cluster_id for r in out} == union_find_labels(pairs)
    assert len(list((tmp_path / "ckpt").rglob("rdd-*"))) > 2, "fewer than three rounds ran"
