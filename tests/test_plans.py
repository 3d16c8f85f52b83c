"""Physical-plan regression tests — the scale properties ARCHITECTURE.md
claims, asserted so a future change can't silently degrade them."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q3_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(entry.queries()["q3_top_revenue_orders"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan


def test_q3_prunes_lineitem_columns(spark, sf_dir):
    plan = _plan(entry.queries()["q3_top_revenue_orders"](spark, sf_dir))
    # the lineitem scan must read only the 3 needed columns
    scan = next(l for l in plan.splitlines() if "FileScan" in l and "l_orderkey" in l)
    assert "l_quantity" not in scan and "l_shipdate" not in scan


def test_diff_is_equi_join_not_nested_loop(spark, sf_dir):
    plan = _plan(entry.queries()["diff_customer"](spark, sf_dir))
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_diff_pushes_mutation_filters_to_scan(spark, sf_dir):
    plan = _plan(entry.queries()["diff_customer"](spark, sf_dir))
    # the delete-mutation predicate must reach a parquet scan filter
    assert "PushedFilters" in plan or "DataFilters" in plan


def test_knn_broadcasts_query_set(spark, sf_dir):
    plan = _plan(entry.queries()["knn_bruteforce"](spark, sf_dir))
    assert "Broadcast" in plan  # corpus never shuffles for brute force


def test_query_set_broadcast_guard(spark, sf_dir):
    """Regression (VERDICT r2 #4): the ANN/KNN query-set broadcast is
    bounded.  Below the bound the plan broadcasts (existing tests);
    forcing the bound to 0 must yield a fully distributed fallback —
    partition-wise replicated NL for the non-equi brute-force join,
    sort-merge for the bucket equi-join — with no broadcast of the
    query side anywhere."""
    from dbdiff_spark.ops.similarity import ann_lsh_bitsample, knn_bruteforce

    plan = _plan(knn_bruteforce(spark, sf_dir, max_broadcast_queries=0))
    assert "CartesianProduct" in plan, plan
    assert "BroadcastNestedLoop" not in plan, plan
    plan2 = _plan(ann_lsh_bitsample(spark, sf_dir, max_broadcast_queries=0))
    assert "SortMergeJoin" in plan2, plan2
    assert "BroadcastHashJoin" not in plan2, plan2


def _nodes(plan):
    """Pre-order walk of a JVM physical plan tree."""
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _nodes(kids.apply(i))


def test_kmeans_final_plan_is_broadcast_argmin_single_exchange(spark, sf_dir):
    """Regression (VERDICT r2 #3): k-means assignment must be a per-row
    argmin PROJECTION — no corpus×K join, no per-row window — leaving
    exactly one REQUIRED exchange (the per-cell aggregation) in the
    returned plan.  The centroids arrive as ONE broadcast row, so the
    only join is a BroadcastNestedLoopJoin whose build side is that
    1-row relation.  The r12 ``spread`` rebalance in ``_vectors`` may
    add one deliberate REPARTITION_BY_NUM exchange when the input scan
    is narrower than the core count (the local-mode one-file case); it
    is a no-op at real scale and must never be counted as a
    requirement the aggregation imposed."""
    df = entry.queries()["kmeans_lloyd"](spark, sf_dir)
    plan = _plan(df)
    joins = [
        n for n in _nodes(df._jdf.queryExecution().executedPlan().executedPlan())
        if "Join" in n.nodeName()
    ]
    assert [j.nodeName() for j in joins] == ["BroadcastNestedLoopJoin"], plan
    (bnlj,) = joins
    build = bnlj.right() if bnlj.buildSide().toString() == "BuildRight" else bnlj.left()
    leaves = build.collectLeaves()
    assert leaves.size() == 1, plan
    assert leaves.apply(0).nodeName() == "LocalTableScan", plan
    assert leaves.apply(0).rows().size() == 1, plan
    for node in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin", "Window"):
        assert node not in plan, plan
    assert plan.count("ENSURE_REQUIREMENTS") == 1, plan
    assert plan.count("REPARTITION_BY_NUM") <= 1, plan


def test_keyed_diff_matchers(spark, sf_dir, monkeypatch):
    """The fold: every null-safe deduplicating diff shape (plain,
    tolerance, ignore, type and schema drift, unorderable values,
    include_unchanged) and the all-columns key with or without dedup
    plan exactly ONE exchange and no join.  A non-deduplicating
    declared key keeps its full outer join (duplicate keys cross-match
    m×n).  The sf0.001 inputs fall under the one-task bound, so the
    exchange regime is forced."""
    from conftest import force_diff_regime
    from pyspark.sql import functions as F

    from dbdiff_spark import testkit
    from dbdiff_spark.diff import DiffMode, diff_tables
    from dbdiff_spark.io import load_table

    force_diff_regime(monkeypatch, "exchange")
    spec, mut = testkit.SPECS["customer"], testkit.MUTATIONS["customer"]
    base = testkit.prep(load_table(spark, sf_dir, "customer"), spec)
    after = testkit.apply_mutation(base, spec, mut)
    key = list(spec.key)
    typed = {"mode": DiffMode.TYPED, "dedup_keys": True}
    with_map = "map('segment', c_mktsegment) AS c_props"
    shapes = {
        "plain": (base, after, {"dedup_keys": True}),
        "tolerance": (base, after, {**typed, "tolerance": {"c_acctbal": 0.5}}),
        "ignore": (base, after, {**typed, "ignore_columns": ["c_mktsegment"]}),
        "type drift": (
            base, after.withColumn("c_nationkey", F.col("c_nationkey").cast("string")), typed
        ),
        "schema drift": (base, after.drop("c_mktsegment"), typed),
        "map values": (base.selectExpr("*", with_map), after.selectExpr("*", with_map), typed),
        "include_unchanged": (base, after, {**typed, "include_unchanged": True}),
    }
    events = load_table(spark, sf_dir, "events")
    edited = events.filter("event_id % 7 != 0")
    for dedup in (True, False):
        shapes[f"all-columns key, dedup={dedup}"] = (
            events, edited, {"dedup_keys": dedup, "key": list(events.columns)}
        )
    for name, (b, a, kw) in shapes.items():
        kw = dict(kw)
        plan = _plan(diff_tables(b, a, kw.pop("key", key), **kw).df)
        assert plan.count("Exchange") == 1, (name, plan)
        assert "Join" not in plan, (name, plan)
    plan = _plan(diff_tables(base, after, key, mode=DiffMode.TYPED).df)
    assert "FullOuter" in plan, plan


def test_merge3_and_scd2_are_single_exchange_grouped(spark, sf_dir, monkeypatch):
    """diff3 and the SCD2 fold both use the grouped max(struct) pattern:
    ONE exchange, no joins, no windows, no Python in the plan (in the
    exchange regime, forced: the sf0.001 inputs fall under the one-task
    bound)."""
    from conftest import force_diff_regime

    force_diff_regime(monkeypatch, "exchange")
    for name in ("merge3_customer", "scd2_customer"):
        plan = _plan(entry.queries()[name](spark, sf_dir))
        assert plan.count("Exchange") == 1, (name, plan)
        assert "Join" not in plan, name
        assert "Window" not in plan, name


def test_one_task_diff_plans_no_exchange(spark, sf_dir, monkeypatch, tmp_path):
    """The converse of the exchange-regime tests above: with the
    one-task regime forced, every matcher — the fold (diff_snapshots,
    all-columns key, diff3), the full outer join and diff_multiset's
    one_pass — plans no exchange, and the console sink's collect over a
    three-table diff_snapshots runs one job per table (no AQE map
    stage)."""
    from conftest import force_diff_regime

    from dbdiff_spark import testkit
    from dbdiff_spark.catalog import TESTDATA_KEYS, FileCatalog
    from dbdiff_spark.diff import (
        DiffMode,
        collect_rows,
        diff3_tables,
        diff_multiset,
        diff_tables,
    )
    from dbdiff_spark.snapshot import SnapshotStore, diff_snapshots

    force_diff_regime(monkeypatch, "one_task")
    cat = FileCatalog(spark, sf_dir, TESTDATA_KEYS)
    names = ["customer", "events", "lineitem"]
    keys = cat.primary_keys(names)
    store = SnapshotStore(spark)
    before = store.collect({t: cat.load(t) for t in names}, keys, str(tmp_path / "b"))
    edited = {
        "customer": cat.load("customer").filter("c_custkey % 10 != 7"),
        "events": cat.load("events").filter("event_id % 7 != 0"),
        "lineitem": cat.load("lineitem").filter("l_orderkey % 13 != 5"),
    }
    after = store.collect(edited, keys, str(tmp_path / "a"))
    results = diff_snapshots(spark, before, after)
    spec = testkit.SPECS["customer"]
    base = testkit.prep(cat.load("customer"), spec)
    after_c = testkit.apply_mutation(base, spec, testkit.MUTATIONS["customer"])
    frames = {
        **{f"diff_snapshots {t}": r.df for t, r in results.items()},
        "full outer join": diff_tables(
            base, after_c, list(spec.key), mode=DiffMode.TYPED
        ).df,
        "diff3": diff3_tables(base, after_c, base, list(spec.key)),
        "multiset": diff_multiset(base, after_c),
    }
    for name, df in frames.items():
        plan = _plan(df)
        assert "Exchange" not in plan, (name, plan)
        assert "Coalesce 1" in plan, (name, plan)
    assert "FullOuter" in _plan(frames["full outer join"])
    tracker = spark.sparkContext.statusTracker()
    first = max(tracker.getJobIdsForGroup(), default=-1)
    collect_rows(results, 10_000)
    jobs = [j for j in tracker.getJobIdsForGroup() if j > first]
    assert len(jobs) == len(names), jobs
    assert all(results[t]._rows[10_000] for t in names)


def test_bm25_is_one_scan_takeordered(spark, sf_dir):
    """BM25: stats side broadcasts; top-k plans as TakeOrdered (no
    single-partition sort of the corpus)."""
    plan = _plan(entry.queries()["bm25_rank"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_q8_broadcasts_all_dimensions(spark, sf_dir):
    """7-way join: every dimension side broadcasts; the only shuffled
    join is lineitem-orders; no nested loops."""
    plan = _plan(entry.queries()["q8_market_share"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 5, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q6_filters_reach_parquet_scan(spark, sf_dir):
    """Q6 is a pure scan-aggregate: the date RANGE (not just null
    checks) plus discount/quantity bounds must all appear as
    PushedFilters, and the plan must contain no join."""
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = _plan(entry.queries()["q6_forecast_revenue"](spark, sf_dir))
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    assert "Join" not in plan, plan
    scan = next(l for l in plan.splitlines() if "PushedFilters" in l)
    assert "GreaterThanOrEqual(l_shipdate" in scan, scan
    assert "LessThan(l_shipdate" in scan, scan
    assert "LessThan(l_quantity,24.0)" in scan, scan


def test_q10_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(entry.queries()["q10_returned_items"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_q18_topk_and_no_window(spark, sf_dir):
    """Q18's having-set aggregates BEFORE joining orders/customer; the
    top-k must be TakeOrderedAndProject and no window anywhere."""
    plan = _plan(entry.queries()["q18_large_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_q15_max_is_broadcast_not_window(spark, sf_dir):
    """Q15's scalar max joins back as a one-row broadcast — never a
    global window over the revenue set."""
    plan = _plan(entry.queries()["q15_top_supplier"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" in plan, plan
    assert "Window" not in plan, plan


def test_registry_wide_plan_governance(spark, sf_dir):
    """Sweep EVERY registry query's physical plan for the two absolute
    anti-patterns: CartesianProduct (unbounded pair blow-up) and
    row-at-a-time Python evaluation (BatchEvalPython — the only
    sanctioned Python islands are Arrow-batched mapInPandas /
    applyInPandas).  BroadcastNestedLoopJoin is allowed only because
    every occurrence in this registry is a one-row scalar broadcast
    (audited; the knn guard test covers the bounded-query-set case) —
    a new unbounded BNLJ would surface here as a cartesian once AQE
    cannot build-side it, and in review via this comment."""
    qs = entry.queries()

    def _audit(item):
        name, fn = item
        plan = _plan(fn(spark, sf_dir))
        flags = []
        if "CartesianProduct" in plan:
            flags.append("CartesianProduct")
        if "BatchEvalPython" in plan:
            flags.append("BatchEvalPython")
        return name, flags

    # thread pool (r13): each audit is independent — the eager entries
    # (ANN builds) execute real jobs and the rest is driver-side
    # analysis behind py4j, both of which overlap across threads.  Same
    # per-query assertions, ~3x less wall time (the suite's
    # second-largest entry; r12 VERDICT #1).  Concurrent entries that
    # pin the same plan (every ANN build pins ``_vectors``) share one
    # reference-counted cache through io.pinned, so one entry's release
    # cannot evict it under another still running.
    from concurrent.futures import ThreadPoolExecutor

    bad = {}
    with ThreadPoolExecutor(max_workers=4) as pool:
        for name, flags in pool.map(_audit, sorted(qs.items())):
            if flags:
                bad[name] = flags
    assert not bad, bad


def test_q21_q20_correlated_rewrites_scan_facts_once(spark, sf_dir):
    """The Q20/Q21 adapted correlated subqueries are set-based rewrites:
    the per-part / per-order totals come from windows over the pair-level
    aggregate, so each fact table is scanned exactly once (no pair-frame
    self-join that would re-read lineitem+orders)."""
    for name, n_tables in (
        ("q21_sole_return_supplier", 3),  # lineitem, orders, supplier
        ("q20_excess_suppliers", 3),      # lineitem, part, supplier
    ):
        plan = _plan(entry.queries()[name](spark, sf_dir))
        assert plan.count("Scan parquet") == n_tables, name
        assert "Window" in plan, name


def test_q2_argmin_is_aggregate_not_window(spark, sf_dir):
    """Q2's correlated-min picks the cheapest supplier per part with a
    partial-aggregable min(struct) — no window, no sort over the offer
    frame, each base table scanned once."""
    plan = _plan(entry.queries()["q2_min_cost_supplier"](spark, sf_dir))
    assert "Window" not in plan
    assert plan.count("Scan parquet") == 4  # lineitem, part, supplier, nation


def test_q11_share_filter_reuses_cached_values(spark, sf_dir):
    """Q11's scalar-subquery total and the share filter both read the
    pinned per-part aggregate: the executed plan shows the cache, not
    a second lineitem scan."""
    from dbdiff_spark.io import pinned
    from dbdiff_spark.ops.tpch import _q11_frames

    values, df = _q11_frames(spark, sf_dir)
    with pinned(values):
        df.write.format("noop").mode("overwrite").save()
        plan = _plan(df)
        assert plan.count("InMemoryTableScan") == 2
        assert not [
            ln for ln in plan.splitlines()
            if "Scan parquet" in ln and "InMemory" not in ln
        ]
    # the public query releases the per-part cache before returning.
    # The lineage cut that replaced the collect→createDataFrame
    # round trip (r4 bench regression) pins the BOUNDED result
    # (<5000 rows by the 1/frac argument) for as long as the caller
    # holds it — so the map may grow by exactly that one checkpoint,
    # never by the unbounded per-part aggregate.
    jsc = spark.sparkContext._jsc  # type: ignore[attr-defined]
    before_n = jsc.getPersistentRDDs().size()
    out = entry.queries()["q11_important_parts"](spark, sf_dir)
    assert jsc.getPersistentRDDs().size() <= before_n + 1
    # collecting the result must NOT re-run the distributed job: the
    # executed plan reads the checkpointed rows, not parquet
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan


def test_positional_index_is_single_exchange(spark, sf_dir):
    """The exploded (doc,pos,term) stream repartitions on term ONCE; the
    (term,doc) aggregation and both per-term windows must reuse that
    partitioning (hash(term) satisfies the (term,doc) clustering)."""
    plan = _plan(entry.queries()["positional_index"](spark, sf_dir))
    assert plan.count("Exchange") == 1


def test_ohlc_open_close_are_aggregates_not_windows(spark, sf_dir):
    plan = _plan(entry.queries()["ohlc_bars"](spark, sf_dir))
    assert "Window" not in plan


def test_cusum_windows_share_one_user_shuffle(spark, sf_dir):
    """Both stacked window functions (prefix sum, running min) and the
    final per-user aggregation run off the same user-keyed exchange —
    only the presentation orderBy adds a second."""
    plan = _plan(entry.queries()["cusum_anomalies"](spark, sf_dir))
    assert plan.count("Exchange") <= 2


def test_diff_estimate_samples_before_classification(spark, sf_dir):
    """The key-hash sample filters must sit below the diff classification
    — the whole point is classifying 1/16 of the keys, not all of them.
    With dedup_keys (the diff_snapshots semantics the estimator adopted
    after the phantom-duplicate fix) the classifier is the one-shuffle
    grouped-dedup form: tagged union + grouped max(struct), no
    full-outer join."""
    plan = _plan(entry.queries()["diff_estimate_orders"](spark, sf_dir))
    # both side scans feed through a Filter containing the hash threshold
    assert plan.count("17592186044416") >= 2
    assert "Union" in plan and "FullOuter" not in plan


def test_explain_frames_are_lazy_and_distributed(spark, sf_dir, last_job_id):
    """The --explain override for eagerly-materializing queries must
    (a) expose the DISTRIBUTED plan (parquet scans, not a local
    result), (b) run none of the workload and (c) not leave a cache
    behind (review regression: --explain used to execute q11 and print
    a LocalTableScan)."""
    frames = entry.explain_frames()
    jsc = spark.sparkContext._jsc  # type: ignore[attr-defined]
    tracker = spark.sparkContext.statusTracker()
    # q11, the connected-components users (one lazy contraction round)
    # and the graph entries that pin their edge lists
    for name in [
        "q11_important_parts",
        "neardup_clusters",
        "entity_resolution_parts",
        "leakage_safe_split",
        "pagerank_copurchase",
        "triangle_count",
        "label_propagation",
        "kcore_peeling",
    ]:
        before_n = jsc.getPersistentRDDs().size()
        frames[name](spark, sf_dir)  # pays the once-per-session io.spread width probes
        before_job = last_job_id()
        df = frames[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Scan parquet" in plan and "LocalTableScan" not in plan, name
        # io.load_table infers each source's schema with one parquet
        # footer-read job per call; any other job (a CC round's count or
        # checkpoint, a seatbelt scan) means the frame ran the workload
        stages = [
            tracker.getStageInfo(s).name
            for j in tracker.getJobIdsForGroup()
            if j > before_job
            for s in tracker.getJobInfo(j).stageIds
        ]
        assert all(s.startswith("parquet at ") for s in stages), f"{name}: {stages}"
        assert jsc.getPersistentRDDs().size() <= before_n, name


def test_corpus_variants_come_from_one_scan(spark, sf_dir):
    """Every row-variant corpus is one Generate over ONE pass of its
    base (``io.with_variants``): the tokenizer and the Python dhash
    codec run once over one ``documents`` scan.  A self-union of the
    base re-plans its whole subtree per branch — two scans and two
    regexps for the near-dup corpus, three codec passes for each
    jittered banded frame — so no plan here may hold a Union."""
    from dbdiff_spark.ops.dedup import _neardup_corpus, _signatures_spark
    from dbdiff_spark.ops.multimodal import (
        _dhash128_banded,
        _dhash_banded,
        multimodal_dhash_dedup,
    )

    plan = _plan(_signatures_spark(_neardup_corpus(spark, sf_dir)))
    assert plan.count("regexp_extract_all") == 1, plan
    assert plan.count("FileScan") == 1, plan
    assert "Union" not in plan, plan
    for df in (
        _dhash_banded(spark, sf_dir, 8),
        _dhash128_banded(spark, sf_dir, 16),
        multimodal_dhash_dedup(spark, sf_dir),
    ):
        plan = _plan(df)
        assert plan.count("MapInPandas") == 1, plan
        assert plan.count("FileScan") == 1, plan
        assert "Union" not in plan, plan
