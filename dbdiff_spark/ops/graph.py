"""Graph operators over relationship structure latent in the tables.

``bigstar_components`` (ops/dedup.py, large-star/small-star) covers
component-finding; this module adds importance SCORING (PageRank) and
local STRUCTURE (triangle census) over the part co-purchase graph
(parts are linked when they appear in the same order).  Rank here is
the graph-derived quality/popularity signal a curation pipeline mixes
into document- or item-level filtering.

Determinism: the textbook formulation propagates double-precision rank
mass, and a distributed sum of doubles depends on partition order — so
this implementation propagates SCALED INTEGER rank (10^9 units per
node) with integer division everywhere: contribution = rank div degree,
damping = (85·Σ) div 100 + (15·10^9) div 100.  Integer addition is
associative-commutative, so any shuffle layout and any engine produce
the SAME ranks — which is what lets a DuckDB oracle replay the
iterations bit-for-bit.  (The div-truncation "loses" ≤1 unit per edge
per round — at 10^9 scale that is a 1e-9 relative artifact, far below
any ranking use; the classic float version has the same magnitude of
noise, just nondeterministically placed.)

Scale shape:

* edge build: per-order part pairs — orders average a handful of line
  items, so pairs-per-order is a small constant and the edge list is
  LINEAR in lineitem (unlike fuzzy blocking, where block size grows
  with data; reference for the hazard: VERDICT r2 §What's wrong 2);
  one shuffle on orderkey, then dedup on (src,dst).
* each iteration: one join of the rank vector with the edge list on
  src (both hash-partitioned on the same key) + one keyed aggregation
  on dst — no broadcast of anything data-sized, no driver state except
  the S-iteration loop counter; the edge side is cached pre-partitioned
  on the join key so only the node-sized rank vector moves per round,
  and lineage is cut every 5 rounds with io.cut_lineage (reliable
  checkpoint when a session checkpoint dir is set, localCheckpoint
  otherwise).
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbdiff_spark.io import cut_lineage, load_table, pinned

PR_ITERS = 3
PR_SCALE = 10**9  # initial rank units per node
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # damping 0.85 as a ratio
PR_TOP_K = 50


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric distinct (src, dst) co-purchase edge list.

    Shape: distinct (order, part) pairs self-joined on orderkey.  The
    HOF alternative (collect_set per order + nested-transform pair
    grid) looks shuffle-cheaper on paper but measured ~50% SLOWER at
    sf0.1: transform lambdas evaluate interpreted per element and
    collect_set plans as ObjectHashAggregate (both documented traps —
    see ARCHITECTURE.md negative results).  The self-join stays whole-
    stage-codegen end to end; per-order pair counts are constant-
    bounded (orders hold a handful of parts), so the edge list is
    LINEAR in lineitem at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    # Explicit core-count partitioning on the join key (r13, the
    # similarity._cell_spread lesson): the distinct output is byte-tiny
    # (two ints/row), so AQE folds its post-shuffle partitions to a
    # handful of tasks and the compute-heavy pair self-join — and every
    # downstream consumer stage — inherits that ceiling (profiled: the
    # op-distinct + self-join stages ran at 3-5 tasks for ~1.6 s with
    # 27+ idle cores).  Pinning the count keeps AQE's hands off; both
    # self-join sides reuse the ONE exchange, so no shuffle is added.
    # The count derives from the session — scale-adaptive, not a local
    # constant.
    op = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    )
    a, b = op.alias("a"), op.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 parts by integer PageRank over the co-purchase graph
    (3 iterations, damping 0.85); degree and final rank exposed."""
    # Pin the raw edge list FIRST: the pair expansion is the expensive
    # producer here, and degree, the iteration edge list, the rank seed
    # and the final degree join all read it — unpinned, each would
    # re-run the expansion (measured 4 rebuilds per call).
    return _pinned_cut(*_pagerank_frames(spark, sf_dir))


def _pinned_cut(pins: list[DataFrame], out: DataFrame) -> DataFrame:
    """Cut the bounded lazy ``out`` while every frame in ``pins`` (in
    order) is cached, then release them — each graph entry's cache
    lifecycle; the lazy ``out`` alone is its --explain frame."""
    with ExitStack() as stack:
        for df in pins:
            stack.enter_context(pinned(df))
        return cut_lineage(out, eager=True)


def _pagerank_frames(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir)
    # Degree folded into the edge list ONCE so each iteration is a
    # single keyed join + keyed aggregation (not join-deg + join-edges).
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # The degree-annotated edge list is pinned ALREADY hash-partitioned
    # on the iteration join key: every round's join then reuses the
    # cached distribution instead of re-shuffling the (data-sized) edge
    # side — only the node-sized rank vector moves per iteration.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_deg = edges.join(deg, "src").repartition(n_part, "src")
    ranks = deg.select("src", F.lit(PR_SCALE).cast("long").alias("rank"))
    teleport = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    for i in range(PR_ITERS):
        ranks = (
            ranks.join(edges_deg, "src")
            .selectExpr("dst AS src", "rank div deg AS contrib")
            .groupBy("src")
            .agg(F.sum("contrib").alias("inflow"))
            .selectExpr(
                "src",
                f"CAST({teleport} + ({PR_DAMP_NUM} * inflow) div {PR_DAMP_DEN}"
                " AS BIGINT) AS rank",
            )
        )
        # Lineage-cut every 5 rounds: a shallow loop keeps one fused
        # job, deep loops don't blow up re-analysis.
        if (i + 1) % 5 == 0:
            ranks = cut_lineage(ranks)
    out = (
        ranks.join(deg, "src")
        .select(F.col("src").alias("p_partkey"), "deg", "rank")
        .orderBy(F.col("rank").desc(), F.col("p_partkey"))
        .limit(PR_TOP_K)
    )
    return [edges, edges_deg], out


def _pagerank_sql() -> str:
    teleport = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // PR_DAMP_DEN
    iters = []
    prev = "r0"
    for i in range(PR_ITERS):
        cur = f"r{i + 1}"
        iters.append(
            f"""{cur} AS (
  SELECT e.dst AS src,
         CAST({teleport} + ({PR_DAMP_NUM} * sum(p.rank // d.deg)) // {PR_DAMP_DEN} AS BIGINT) AS rank
  FROM {prev} p JOIN deg d ON p.src = d.src JOIN edges e ON p.src = e.src
  GROUP BY e.dst
)"""
        )
        prev = cur
    iter_sql = ",\n".join(iters)
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
r0 AS (SELECT src, CAST({PR_SCALE} AS BIGINT) AS rank FROM deg),
{iter_sql}
SELECT r.src AS p_partkey, d.deg, r.rank
FROM {prev} r JOIN deg d ON r.src = d.src
ORDER BY r.rank DESC, p_partkey
LIMIT {PR_TOP_K}
"""


PAGERANK_SQL = _pagerank_sql()


# --- triangle counting -------------------------------------------------------
#
# Degree-ordered orientation (Cohen / Suri-Vassilvitskii MapReduce
# triangle counting): orient every undirected edge from its lower
# (degree, id) endpoint to the higher; each triangle then has exactly
# ONE wedge whose center precedes both endpoints, so joining oriented
# edges twice and probing the oriented edge set counts each triangle
# once.  The orientation is the scale property: out-degree under it is
# bounded by O(sqrt(m)) on any graph, so a celebrity node (every
# catalog's bestseller part) generates O(m) wedges instead of O(deg²) —
# the skew-killer that makes the wedge join survive 100 TB.


def triangle_census(edges: DataFrame) -> DataFrame:
    """Census over a SYMMETRIC distinct (src, dst) edge list: nodes,
    undirected edges, wedges under degree orientation, triangles — one
    row."""
    return _pinned_cut(*_census_frames(edges))


def _census_frames(edges: DataFrame):
    deg = edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    oriented = (
        edges.join(deg.selectExpr("v AS src", "deg AS deg_s"), "src")
        .join(deg.selectExpr("v AS dst", "deg AS deg_d"), "dst")
        .filter(
            "(deg_s < deg_d) OR (deg_s = deg_d AND src < dst)"
        )
        .select("src", "dst")
    )
    # Edge-iterator form: instead of MATERIALIZING the wedge set (41M
    # rows at sf0.1) and semi-joining it against the edge list, build
    # each node's oriented out-neighbor array once and count, per
    # oriented edge (u, v), |N+(u) ∩ N+(v)| with one codegen
    # array_intersect — the orientation makes each triangle's vertices
    # a DAG path x→y→z, so exactly the edge (x, y) sees z in both
    # lists and every triangle counts once.  The wedge census needs no
    # wedge rows either: under the b < c filter it is Σ C(outdeg, 2)
    # exactly.  Shuffled volume drops from the wedge set (O(m^1.5)
    # rows) to the adjacency map (m entries; broadcast when it fits,
    # AQE shuffle join when it doesn't) — intersection work keeps the
    # same O(m^1.5) bound but runs vectorized inside one stage instead
    # of as exploded-row join traffic.
    adj = oriented.groupBy("src").agg(F.collect_list("dst").alias("nbrs"))
    tri = (
        oriented.join(adj.selectExpr("src", "nbrs AS nbrs_u"), "src")
        .join(adj.selectExpr("src AS dst", "nbrs AS nbrs_v"), "dst")
        .selectExpr("size(array_intersect(nbrs_u, nbrs_v)) AS c")
    )
    n_nodes = deg.selectExpr("count(*) AS n").withColumn("k", F.lit(1))
    n_edges = edges.selectExpr("count(*) div 2 AS n").withColumn("k", F.lit(1))
    # BIGINT before the multiply: size() is INT, and at 100 TB graph
    # scale an oriented out-degree ≥ 46341 would wrap d*(d-1) in int32
    n_wedges = adj.selectExpr(
        "coalesce(sum(CAST(size(nbrs) AS BIGINT)"
        " * (CAST(size(nbrs) AS BIGINT) - 1) div 2), CAST(0 AS BIGINT)) AS n"
    ).withColumn("k", F.lit(1))
    n_tri = tri.selectExpr(
        "coalesce(CAST(sum(c) AS BIGINT), 0) AS n"
    ).withColumn("k", F.lit(1))
    return [edges, oriented], (
        n_nodes.selectExpr("k", "n AS n_nodes")
        .join(n_edges.selectExpr("k", "n AS n_edges"), "k")
        .join(n_wedges.selectExpr("k", "n AS n_wedges"), "k")
        .join(n_tri.selectExpr("k", "n AS n_triangles"), "k")
        .drop("k")
    )


def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase graph.  The sf0.1 graph is
    dense (avg degree ~120, 41M wedges, 1.9M triangles — ~2 s warm on
    local[32] in the edge-iterator form); degree orientation is what
    keeps the intersection work at O(m^1.5) instead of O(Σdeg²)."""
    return triangle_census(_copurchase_edges(spark, sf_dir))


TRIANGLE_SQL = """
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src),
oriented AS (
  SELECT e.src, e.dst
  FROM edges e
  JOIN deg ds ON e.src = ds.v
  JOIN deg dd ON e.dst = dd.v
  WHERE (ds.deg < dd.deg) OR (ds.deg = dd.deg AND e.src < e.dst)
),
wedges AS (
  SELECT e1.dst AS b, e2.dst AS c
  FROM oriented e1 JOIN oriented e2 ON e1.src = e2.src
  WHERE e1.dst < e2.dst
),
probe AS (
  SELECT src AS b, dst AS c FROM oriented
  UNION ALL
  SELECT dst AS b, src AS c FROM oriented
),
tri AS (
  SELECT w.b, w.c FROM wedges w
  WHERE EXISTS (SELECT 1 FROM probe p WHERE p.b = w.b AND p.c = w.c)
)
SELECT CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT count(*) // 2 FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT count(*) FROM wedges) AS BIGINT) AS n_wedges,
       CAST((SELECT count(*) FROM tri) AS BIGINT) AS n_triangles
"""

# --- label propagation communities -------------------------------------------

LP_ITERS = 3


def label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community sizes after ``LP_ITERS`` rounds of synchronous label
    propagation over the co-purchase graph.

    Determinism (the whole point of this formulation): classic LPA is
    notoriously run-dependent — asynchronous updates + random tie
    breaks.  Here every round is SYNCHRONOUS (labels read from round
    i only) and a node adopts its neighbors' most frequent label with
    ties broken toward the SMALLEST label — a pure (count DESC, label
    ASC) argmax, so every engine converges identically and the DuckDB
    twin replays the rounds exactly.

    Scale shape per round: one keyed join of the node-sized label
    vector with the cached pre-partitioned edge list (pagerank's
    layout: only labels move), one (dst, label) aggregation, one
    per-dst argmax — all keyed shuffles, no broadcast of anything
    data-sized, no driver state.  Community sizes (not per-node rows)
    keep the output community-bounded."""
    return _pinned_cut(*_label_propagation_frames(spark, sf_dir))


def _label_propagation_frames(spark: SparkSession, sf_dir: str):
    edges = _copurchase_edges(spark, sf_dir)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    edges_p = edges.repartition(n_part, "src")
    # seed labels from the PINNED edge list — deriving them from the
    # raw plan would re-run the whole pair expansion a second time
    labels = edges_p.select("src").distinct().withColumn("label", F.col("src"))
    for i in range(LP_ITERS):
        # argmax by (count DESC, label ASC) as max(struct(c, -label)) —
        # a pure two-level aggregation (both map-side combinable), no
        # sort and no row_number window per round
        labels = (
            labels.join(edges_p, "src")
            .groupBy("dst", "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .groupBy("dst")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .select(F.col("dst").alias("src"), (-F.col("m.nl")).alias("label"))
        )
        if (i + 1) % 5 == 0:
            labels = cut_lineage(labels)
    return [edges_p], (
        labels.groupBy(F.col("label").alias("community_id"))
        .agg(F.count(F.lit(1)).alias("n_members"))
    )


def _label_propagation_sql() -> str:
    iters = []
    prev = "l0"
    for i in range(LP_ITERS):
        cur = f"l{i + 1}"
        iters.append(
            f"""{cur} AS (
  SELECT dst AS src, label FROM (
    SELECT e.dst, p.label, count(*) AS c,
           ROW_NUMBER() OVER (PARTITION BY e.dst
                              ORDER BY count(*) DESC, p.label) AS rn
    FROM {prev} p JOIN edges e ON p.src = e.src
    GROUP BY e.dst, p.label
  ) WHERE rn = 1
)"""
        )
        prev = cur
    iter_sql = ",\n".join(iters)
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
l0 AS (SELECT DISTINCT src, src AS label FROM edges),
{iter_sql}
SELECT label AS community_id, CAST(count(*) AS BIGINT) AS n_members
FROM {prev}
GROUP BY label
"""


LABEL_PROPAGATION_SQL = _label_propagation_sql()


# --- frequent itemsets (market-basket support counting) ----------------------

FI_TOP_K = 15


def frequent_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``FI_TOP_K`` single items and item PAIRS by order support —
    the 1- and 2-itemset layers of market-basket mining (the support
    table an association-rule pass consumes).

    Scale shape: pair enumeration is the distinct-pairs self-join on
    orderkey (codegen'd; the HOF collect_set + nested-transform grid
    measured ~50% slower — see ``_copurchase_edges``); orders hold a
    handful of items, so pairs-per-order is constant-bounded and the
    pair stream stays linear in lineitem.  Supports are one map-side-
    combinable count each, and each top-k is a TakeOrdered
    (distributed heaps), never a global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    # same explicit-width exchange as _copurchase_edges (AQE folds the
    # tiny distinct output to a few tasks, serializing the pair join)
    op = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    )
    items = (
        op.groupBy(F.col("l_partkey").alias("item_a"))
        .agg(F.count(F.lit(1)).alias("support"))
    )
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("item_a"),
            F.col("b.l_partkey").alias("item_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
    )
    top_items = (
        items.orderBy(F.col("support").desc(), "item_a")
        .limit(FI_TOP_K)
        .select(
            F.lit("item").alias("kind"),
            "item_a",
            F.lit(None).cast("bigint").alias("item_b"),
            "support",
        )
    )
    top_pairs = (
        pairs.orderBy(F.col("support").desc(), "item_a", "item_b")
        .limit(FI_TOP_K)
        .select(F.lit("pair").alias("kind"), "item_a", "item_b", "support")
    )
    return top_items.unionByName(top_pairs)


FREQUENT_ITEMSETS_SQL = f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
items AS (
  SELECT l_partkey AS item_a, CAST(count(*) AS BIGINT) AS support
  FROM op GROUP BY l_partkey
),
pairs AS (
  SELECT a.l_partkey AS item_a, b.l_partkey AS item_b,
         CAST(count(*) AS BIGINT) AS support
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND b.l_partkey > a.l_partkey
  GROUP BY a.l_partkey, b.l_partkey
)
SELECT 'item' AS kind, item_a, CAST(NULL AS BIGINT) AS item_b, support FROM (
  SELECT * FROM items ORDER BY support DESC, item_a LIMIT {FI_TOP_K}
)
UNION ALL
SELECT 'pair' AS kind, item_a, item_b, support FROM (
  SELECT * FROM pairs ORDER BY support DESC, item_a, item_b LIMIT {FI_TOP_K}
)
"""


# --- k-core peeling ---------------------------------------------------------
#
# Iterative subgraph peeling: drop nodes with degree < K, drop their
# edges, repeat — after enough rounds the K-core remains (Seidman 1983
# degeneracy).  Rounds are FIXED (not run-to-convergence) so the
# per-round trajectory itself is the deterministic, oracle-checkable
# output — the same fixed-iteration discipline as pagerank and kmeans.
#
# Scale shape per round: one degree aggregation + two semi-join-shaped
# keep filters over the pinned current edge list (monotonically
# shrinking; kept node sets are degree-filtered and AQE build-sides
# them when small).  Lineage stays 3 rounds deep — no checkpoint
# needed; a run-to-convergence variant would cut with io.cut_lineage
# every few rounds like pagerank does.

KCORE_K = 100
KCORE_ROUNDS = 3


def kcore_peeling(spark: SparkSession, sf_dir: str) -> DataFrame:
    # every round's edge list is pinned: the next round and the
    # round's stats both read it
    return _pinned_cut(*_kcore_frames(spark, sf_dir))


def _kcore_frames(spark: SparkSession, sf_dir: str):
    cur = _copurchase_edges(spark, sf_dir)
    rounds, stats = [cur], []
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select("src")
        cur = (
            cur.join(keep, "src")
            .join(keep.withColumnRenamed("src", "dst"), "dst")
            .select("src", "dst")
        )
        rounds.append(cur)
        stats.append(
            cur.agg(
                F.countDistinct("src").alias("n_nodes"),
                F.count(F.lit(1)).alias("n_edges"),
            ).select(F.lit(rnd).cast("bigint").alias("round"), "n_nodes", "n_edges")
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return rounds, out.orderBy("round")


def _kcore_sql() -> str:
    layers = []
    for i in range(1, KCORE_ROUNDS + 1):
        layers.append(
            f"""d{i} AS (SELECT src, CAST(count(*) AS BIGINT) AS deg
       FROM e{i - 1} GROUP BY src),
k{i} AS (SELECT src FROM d{i} WHERE deg >= {KCORE_K}),
e{i} AS (SELECT e.src, e.dst FROM e{i - 1} e
         JOIN k{i} a ON e.src = a.src JOIN k{i} b ON e.dst = b.src),
s{i} AS (SELECT CAST({i} AS BIGINT) AS round,
                CAST(count(DISTINCT src) AS BIGINT) AS n_nodes,
                CAST(count(*) AS BIGINT) AS n_edges
         FROM e{i})"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM s{i}" for i in range(1, KCORE_ROUNDS + 1))
    return f"""
WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey <> b.l_partkey
),
{",".join(layers)}
{union}
ORDER BY round
"""


KCORE_SQL = _kcore_sql()


EXPLAIN_FRAMES = {
    "pagerank_copurchase": lambda spark, sf_dir: _pagerank_frames(spark, sf_dir)[1],
    "kcore_peeling": lambda spark, sf_dir: _kcore_frames(spark, sf_dir)[1],
    "triangle_count": lambda spark, sf_dir: _census_frames(_copurchase_edges(spark, sf_dir))[1],
    "label_propagation": lambda spark, sf_dir: _label_propagation_frames(spark, sf_dir)[1],
}

QUERIES = {
    "pagerank_copurchase": (pagerank_copurchase, PAGERANK_SQL),
    "kcore_peeling": (kcore_peeling, KCORE_SQL),
    "triangle_count": (triangle_count, TRIANGLE_SQL),
    "label_propagation": (label_propagation, LABEL_PROPAGATION_SQL),
    "frequent_itemsets": (frequent_itemsets, FREQUENT_ITEMSETS_SQL),
}
