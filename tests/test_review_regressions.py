"""Regression tests for code-review findings: NULL keys under bucketed
snapshots, dotted column names, multiset schema-drift refusal, typed-mode
cross-side type conflicts."""

import pytest
from conftest import elected_regime, force_multiset_regime, multiset_model, multiset_rows
from pyspark.sql import functions as F

from dbdiff_spark.diff import (
    NOT_MODIFIED,
    UPDATED,
    DiffMode,
    diff_multiset,
    diff_tables,
)


def test_bucketed_identical_snapshots_with_null_rows_diff_empty(spark, tmp_path):
    """No-PK table (all-columns key) containing NULLs, snapshotted
    bucketed: identical snapshots must still diff EMPTY — the per-table
    null-safe override must win over the bucketed plain-key heuristic."""
    from dbdiff_spark.snapshot import SnapshotStore, diff_snapshots

    df = spark.createDataFrame([(1, None), (2, "x")], "id int, v string")
    store = SnapshotStore(spark)
    before = store.collect({"t": df}, {"t": ["id", "v"]}, str(tmp_path / "b"), buckets=2)
    after = store.collect({"t": df}, {"t": ["id", "v"]}, str(tmp_path / "a"), buckets=2)
    results = diff_snapshots(spark, before, after, mode=DiffMode.TYPED)
    assert results["t"].df.count() == 0


def test_dotted_column_names(spark):
    before = spark.createDataFrame([(1, "a")], ["id", "user.name"])
    after = spark.createDataFrame([(1, "b")], ["id", "user.name"])
    for mode in (DiffMode.STRING, DiffMode.TYPED):
        res = diff_tables(before, after, ["id"], mode=mode)
        rows = res.df.collect()
        assert [r["diff_status"] for r in rows] == [UPDATED, UPDATED]
        assert rows[0]["modified_columns"] == ["user.name"]
        assert {r["user.name"] for r in rows} == {"a", "b"}


def test_multiset_refuses_schema_drift(spark):
    before = spark.createDataFrame([(1, "a")], "id int, v string")
    after = spark.createDataFrame([(1, "a", 2)], "id int, v string, w int")
    with pytest.raises(ValueError, match="identical column sets"):
        diff_multiset(before, after)


def test_typed_mode_type_conflict_detected_as_change(spark):
    """before.c int, after.c string '1.00': numeric coercion would call
    them equal; the string-unified comparison must flag the change."""
    before = spark.createDataFrame([(1, 1)], "id int, c int")
    after = spark.createDataFrame([(1, "1.00")], "id int, c string")
    res = diff_tables(before, after, ["id"], mode=DiffMode.TYPED)
    rows = res.df.collect()
    assert [r["diff_status"] for r in rows] == [UPDATED, UPDATED]
    assert rows[0]["modified_columns"] == ["c"]


def test_sanitized_catalog_identifier():
    from dbdiff_spark.snapshot import SnapshotStore

    ident = SnapshotStore._catalog_identifier("/tmp/x", "order-items")
    assert "-" not in ident and ident.startswith("snap_")
    # distinct raw names must stay distinct after sanitization
    other = SnapshotStore._catalog_identifier("/tmp/x", "order items")
    assert ident != other

def test_multiset_hash_first_matches_exact_grouping(spark, monkeypatch):
    """Both multiset regimes (one_pass carrying a representative row,
    hash_first probing for changed fingerprints) equal the Counter model
    exactly, including multiplicities (3 copies -> 1 copy = DELETED x2)
    and NULL-valued rows."""
    b_rows = [(1, "a"), (1, "a"), (1, "a"), (2, None), (3, "c")]
    a_rows = [(1, "a"), (2, None), (2, None), (4, "d")]
    before = spark.createDataFrame(b_rows, "id int, v string")
    after = spark.createDataFrame(a_rows, "id int, v string")
    for regime in ("one_pass", "hash_first"):
        force_multiset_regime(monkeypatch, regime)
        out = diff_multiset(before, after)
        assert elected_regime(out) == regime
        assert multiset_rows(out, ["id", "v"]) == multiset_model(b_rows, a_rows), regime


def test_multiset_one_pass_plan_has_single_scan_branch(spark, sf_dir, monkeypatch):
    """one_pass must not rescan the input: exactly one parquet scan per
    side in the plan (hash_first deliberately has two — the rescan is
    the price of the 24-byte shuffle)."""
    from dbdiff_spark.io import load_table

    li = load_table(spark, sf_dir, "part")
    shifted = li.withColumn("p_retailprice", F.col("p_retailprice") + 1)
    force_multiset_regime(monkeypatch, "one_pass")
    one = diff_multiset(li, shifted)
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan  # one per side
    force_multiset_regime(monkeypatch, "hash_first")
    two = diff_multiset(li, shifted)
    plan2 = two._jdf.queryExecution().executedPlan().toString()
    assert plan2.count("FileScan") == 4, plan2  # agg branch + probe branch


def test_multiset_auto_strategy_election(spark, sf_dir, monkeypatch):
    """The size election = the broadcast-threshold idiom applied to the
    multiset shuffle: small estimated inputs elect one_pass (single scan
    per side); a zero bound elects the scale-safe hash_first (rescan
    probe); results identical either way."""
    import dbdiff_spark.diff as diff_mod
    from dbdiff_spark.io import load_table

    li = load_table(spark, sf_dir, "part")
    shifted = li.withColumn("p_retailprice", F.col("p_retailprice") + 1)
    auto = diff_multiset(li, shifted)
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 2, plan  # sf0.001 fits: one_pass
    monkeypatch.setattr(diff_mod, "MULTISET_ONE_PASS_MAX_BYTES", 0)
    forced = diff_multiset(li, shifted)
    plan0 = forced._jdf.queryExecution().executedPlan().toString()
    assert plan0.count("FileScan") == 4, plan0  # hash_first shape
    a = sorted((tuple(r) for r in auto.collect()), key=lambda t: str(t))
    f = sorted((tuple(r) for r in forced.collect()), key=lambda t: str(t))
    assert a == f


def test_bpe_train_exhausted_corpus_agrees_with_oracle(spark, tmp_path):
    """r4 review finding: a corpus whose tokens fully merge before the
    round budget must stop in BOTH engines — the Spark loop breaks and
    the oracle's per-step WHERE guard drops the empty rounds (it used
    to emit NULL rows)."""
    import duckdb

    from dbdiff_spark.ops.retrieval import BPE_TRAIN_SQL, bpe_train_merges

    spark.createDataFrame(
        [(0, "ab ab")], "doc_id bigint, text string"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    got = [(r.step, r.merge_text, r.n_occurrences)
           for r in bpe_train_merges(spark, str(tmp_path)).collect()]
    assert got == [(1, "ab", 2)]

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{tmp_path}/documents.parquet/*.parquet')"
    )
    assert con.execute(BPE_TRAIN_SQL).fetchall() == [(1, "ab", 2)]


def test_mmr_empty_shortlist_returns_empty_frame(spark, tmp_path):
    """r4 review finding: an embeddings table holding only the probe
    vector empties the shortlist; mmr_rerank must return an empty
    typed frame, not raise on min() of an empty sequence."""
    from dbdiff_spark.ops.retrieval import mmr_rerank

    spark.createDataFrame(
        [(0, [1.0, 0.0], 0)], "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = mmr_rerank(spark, str(tmp_path))
    assert out.count() == 0
    assert out.columns == ["rank", "doc_id", "cand_rank"]


def test_round4_ops_survive_empty_tables(spark, tmp_path):
    """Robustness sweep: every operator added this round must run on
    EMPTY (schema-correct) tables without raising — empty corpora are
    the first thing a new deployment feeds an engine."""
    spark.createDataFrame(
        [], "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    spark.createDataFrame(
        [], "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    spark.createDataFrame(
        [],
        "event_id bigint, ts timestamp, user_id bigint, event_type string,"
        " value double, props string",
    ).write.parquet(str(tmp_path / "events.parquet"))
    spark.createDataFrame(
        [],
        "l_orderkey bigint, l_linenumber int, l_quantity double,"
        " l_extendedprice double, l_discount double, l_tax double",
    ).write.parquet(str(tmp_path / "lineitem.parquet"))

    from dbdiff_spark.ops.corpus import importance_resample
    from dbdiff_spark.ops.quality import numeric_correlations
    from dbdiff_spark.ops.retrieval import (
        bpe_pair_stats,
        bpe_train_merges,
        hybrid_retrieval_rrf,
        mmr_rerank,
        pmi_collocations,
        rag_index_funnel,
    )
    from dbdiff_spark.ops.temporal import event_transitions
    from dbdiff_spark.ops.text import vocab_growth_curve

    sf = str(tmp_path)
    for fn, expect_rows in [
        (hybrid_retrieval_rrf, 0),
        (bpe_pair_stats, 0),
        (pmi_collocations, 0),
        (mmr_rerank, 0),
        (bpe_train_merges, 0),
        (rag_index_funnel, 1),       # one row of zero counts
        (importance_resample, 0),
        (event_transitions, 0),
        (vocab_growth_curve, 0),
        (numeric_correlations, 1),   # one row, NULL correlations
    ]:
        out = fn(spark, sf)
        assert out.count() == expect_rows, fn.__name__


def test_artifact_root_is_scheme_qualified_and_process_private(spark):
    """Default artifact roots (IVF index, BPE merges) must resolve under
    the session warehouse — carrying its filesystem scheme so executors
    on a cluster can read them — and must be salted with uid+pid so
    concurrent processes / other users on a shared host cannot collide
    on a predictable world-shared path (review finding r6)."""
    import os

    from dbdiff_spark import fs

    root = fs.artifact_root(spark, "ivf_index", "/some/corpus")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    assert root.startswith(warehouse + "/"), root
    # the warehouse dir is already resolved against fs.defaultFS —
    # locally that means a file: scheme the Hadoop Path APIs accept
    assert ":" in warehouse.split("/")[0] or warehouse.startswith("/"), warehouse
    assert f"u{os.getuid()}_p{os.getpid()}" in root
    # stable within the process, distinct across corpora
    assert root == fs.artifact_root(spark, "ivf_index", "/some/corpus")
    assert root != fs.artifact_root(spark, "ivf_index", "/other/corpus")
    # underscore prefix keeps the artifact tree Spark-invisible to any
    # reader scanning the warehouse root
    assert "/_dbdiff_artifacts/" in root


def test_artifact_root_vacuums_dead_pid_siblings(spark):
    """ADVICE r7: pid-salted roots leak a fresh u<uid>_p<pid> tree per
    process with nothing reclaiming them.  Creation must best-effort
    reap same-uid sibling trees whose pid is dead on this host, leave
    live-pid and foreign-uid trees alone, and never touch the caller's
    own tree."""
    import os

    from dbdiff_spark import fs

    root = fs.artifact_root(spark, "ivf_index", "/some/corpus")
    artifacts = root.rsplit("/_dbdiff_artifacts/", 1)[0] + "/_dbdiff_artifacts"
    uid = os.getuid()
    # a definitely-dead pid: spawn-and-reap gives a pid the kernel has
    # already recycled out of the process table
    dead = os.fork()
    if dead == 0:
        os._exit(0)
    os.waitpid(dead, 0)
    dead_dir = f"{artifacts}/u{uid}_p{dead}"
    live_dir = f"{artifacts}/u{uid}_p{os.getpid()}"
    foreign_dir = f"{artifacts}/u{uid + 1}_p{dead}"
    junk_dir = f"{artifacts}/u{uid}_pnotanumber"
    for d in (dead_dir, live_dir, foreign_dir, junk_dir):
        fs.mkdirs(spark, d)
    local = artifacts.split(":", 1)[1] if artifacts.startswith("file:") else artifacts
    # freshly-written dead-pid tree: NOT reaped (the age guard — on a
    # shared POSIX mount a foreign host's live driver looks pid-dead
    # here, but a live owner has a recent mtime)
    assert fs._vacuum_dead_artifact_roots(spark, artifacts, uid) == []
    assert fs.exists(spark, dead_dir)
    # backdate past the idle threshold: now it reaps
    stale = 1.0  # epoch seconds — far past any idle threshold
    os.utime(f"{local}/u{uid}_p{dead}", (stale, stale))
    reaped = fs._vacuum_dead_artifact_roots(spark, artifacts, uid)
    assert f"u{uid}_p{dead}" in reaped
    assert not fs.exists(spark, dead_dir)
    assert fs.exists(spark, live_dir)  # own/live pid untouched
    assert fs.exists(spark, foreign_dir)  # other uid untouched
    assert fs.exists(spark, junk_dir)  # unparseable name untouched
    fs.delete(spark, foreign_dir)
    fs.delete(spark, junk_dir)
    # the vacuum gate: local pid probes are meaningless on shared
    # warehouses — another gateway host's live driver may own the tree
    # (r8 review finding)
    assert fs._is_local_scheme("/abs/spark-warehouse")
    assert fs._is_local_scheme("file:/abs/spark-warehouse")
    assert not fs._is_local_scheme("hdfs://nn:8020/warehouse")
    assert not fs._is_local_scheme("s3a://bucket/warehouse")


def test_vacuum_age_guard_sees_deep_writes(spark):
    """ADVICE r8: a live remote owner appends files 2+ levels deep
    (ivf_index_<key>/cells/cell=*/part-*); POSIX dir mtime only moves on
    direct entry changes, so a depth-1 mtime scan would reap a tree
    whose only recent activity is deep — the exact scenario the age
    guard exists for.  A backdated tree with one FRESH deep file must
    survive the vacuum."""
    import os
    import time

    from dbdiff_spark import fs

    root = fs.artifact_root(spark, "ivf_index", "/deep/corpus")
    artifacts = root.rsplit("/_dbdiff_artifacts/", 1)[0] + "/_dbdiff_artifacts"
    uid = os.getuid()
    dead = os.fork()
    if dead == 0:
        os._exit(0)
    os.waitpid(dead, 0)
    local = artifacts.split(":", 1)[1] if artifacts.startswith("file:") else artifacts
    deep = f"{local}/u{uid}_p{dead}/ivf_index_abc/cells/cell=7"
    os.makedirs(deep)
    stale = 1.0
    # backdate EVERY directory level, then write one fresh deep file
    for d in (
        f"{local}/u{uid}_p{dead}",
        f"{local}/u{uid}_p{dead}/ivf_index_abc",
        f"{local}/u{uid}_p{dead}/ivf_index_abc/cells",
        deep,
    ):
        os.utime(d, (stale, stale))
    with open(f"{deep}/part-00000.parquet", "w") as fh:
        fh.write("x")
    for d in (
        f"{local}/u{uid}_p{dead}",
        f"{local}/u{uid}_p{dead}/ivf_index_abc",
        f"{local}/u{uid}_p{dead}/ivf_index_abc/cells",
        deep,
    ):
        os.utime(d, (stale, stale))
    assert fs._vacuum_dead_artifact_roots(spark, artifacts, uid) == []
    assert fs.exists(spark, f"{artifacts}/u{uid}_p{dead}")
    # and with the deep file ALSO backdated, the tree reaps
    os.utime(f"{deep}/part-00000.parquet", (stale, stale))
    for d in (
        f"{local}/u{uid}_p{dead}",
        f"{local}/u{uid}_p{dead}/ivf_index_abc",
        f"{local}/u{uid}_p{dead}/ivf_index_abc/cells",
        deep,
    ):
        os.utime(d, (stale, stale))
    reaped = fs._vacuum_dead_artifact_roots(spark, artifacts, uid)
    assert f"u{uid}_p{dead}" in reaped


def test_truncation_recall_degenerate_dims_returns_empty(spark, tmp_path):
    """ADVICE r8: when max embedding dim < 4 no prefix width reaches 2
    dims; the DuckDB twin returns an empty frame, so the Spark side must
    return empty-with-schema, not crash on a None frame."""
    from dbdiff_spark.ops.similarity import embedding_truncation_recall

    rows = [(i * 100, [float(i), float(i + 1)], 0) for i in range(4)]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = embedding_truncation_recall(spark, str(tmp_path))
    assert out.columns == ["prefix_dims", "n_queries", "k", "n_hits", "recall_ppm"]
    assert out.count() == 0
    # an empty table has no max dimension at all: empty too, no crash
    spark.createDataFrame([], "vec_id bigint, embedding array<float>, label int").write.parquet(
        str(tmp_path / "empty" / "embeddings.parquet")
    )
    assert embedding_truncation_recall(spark, str(tmp_path / "empty")).count() == 0


def test_jaccard_ppm_survives_wide_overlap(spark):
    """ADVICE r8: jac_ppm multiplied an INT32 size() by 1,000,000 before
    widening — a pair sharing >2147 distinct shingles silently wraps in
    non-ANSI Spark while DuckDB's len() is 64-bit.  Assert the shipped
    expression (size cast BIGINT before the multiply) stays exact at
    3000 shared shingles, where the pre-fix expression wrapped."""
    import re

    src = open("dbdiff_spark/ops/dedup.py").read()
    exprs = set(
        re.findall(r'"(CAST\(CAST\(size\(array_intersect[^"]*)"\s*\n\s*"([^"]*)"', src)
    )
    assert exprs, "expected the widened jac_ppm expression in dedup.py"
    for head, tail in exprs:
        expr = head + tail
        row = spark.sql(
            "SELECT "
            + expr.replace(
                "sha", "sequence(1, 3000)"
            ).replace("shb", "sequence(1, 3000)")
        ).collect()[0]
        assert row["jac_ppm"] == 1_000_000


def test_vacuum_age_guard_sees_in_flight_commit_staging(spark):
    """ADVICE r9: an in-flight partitioned Spark write's freshest
    mtimes land at relative depth 7-8 under commit staging
    (kind/assignments/_temporary/0/_temporary/attempt_*/cell=*/part-*);
    the old depth-6 cap pruned those levels before stat'ing them, so a
    live remote owner whose only recent activity is a long deep write
    could still be reaped.  A backdated tree with one fresh file at
    staging depth must survive the vacuum."""
    import os

    from dbdiff_spark import fs

    root = fs.artifact_root(spark, "ivf_index", "/staging/corpus")
    artifacts = root.rsplit("/_dbdiff_artifacts/", 1)[0] + "/_dbdiff_artifacts"
    uid = os.getuid()
    dead = os.fork()
    if dead == 0:
        os._exit(0)
    os.waitpid(dead, 0)
    local = artifacts.split(":", 1)[1] if artifacts.startswith("file:") else artifacts
    tree = f"{local}/u{uid}_p{dead}"
    staging = (
        f"{tree}/ivf_index_abc/assignments/_temporary/0/_temporary"
        f"/attempt_20260816_0001_m_000000_0/cell=7"
    )
    os.makedirs(staging)
    stale = 1.0

    def _backdate_dirs() -> None:
        for dirpath, _dirs, _files in os.walk(tree, topdown=False):
            os.utime(dirpath, (stale, stale))
        os.utime(tree, (stale, stale))

    _backdate_dirs()
    with open(f"{staging}/part-00000.parquet", "w") as fh:
        fh.write("x")
    _backdate_dirs()
    # the fresh deep file is the ONLY recent mtime — tree must survive
    assert fs._vacuum_dead_artifact_roots(spark, artifacts, uid) == []
    assert fs.exists(spark, f"{artifacts}/u{uid}_p{dead}")
    # with the staging file also backdated, the idle tree reaps
    os.utime(f"{staging}/part-00000.parquet", (stale, stale))
    _backdate_dirs()
    reaped = fs._vacuum_dead_artifact_roots(spark, artifacts, uid)
    assert f"u{uid}_p{dead}" in reaped
