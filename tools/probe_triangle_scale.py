"""Triangle-census scale probe: edge-iterator vs wedge-materialization.

The r8 rewrite replaced the wedge semi-join (materialize all oriented
wedges, shuffle them on (b, c), probe the edge set) with the
edge-iterator form (per-node oriented adjacency arrays + one codegen
``array_intersect`` per oriented edge).  Both are O(m^1.5) in
intersection work under degree orientation; what differs is the
SHUFFLED volume — wedge rows (O(m^1.5)) vs the m-entry adjacency map —
and where the work runs (exploded-row join traffic vs one vectorized
stage).  This probe measures both formulations on synthetic
hash-random graphs of growing size, asserts census equality at every
size, and reports which join strategy the adjacency pickup used
(broadcast vs shuffle) so the at-scale degradation path is observed,
not assumed.

Usage: python tools/probe_triangle_scale.py [--sizes 200000,800000]
  [--nodes-div 20]
(run with 2>/dev/null — Spark progress bars interleave stdout).
Writes nothing to the repo; prints one JSON line per size for
ARCHITECTURE.md.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from dbdiff_spark.session import get_spark  # noqa: E402


def synth_edges(spark, m_target: int, n_nodes: int) -> DataFrame:
    """Symmetric distinct hash-random edge list with ~m_target
    undirected edges — deterministic (hash of the row id), no RNG."""
    half = (
        spark.range(m_target)
        .selectExpr(
            f"CAST(pmod(hash(id), {n_nodes}) AS BIGINT) AS src",
            f"CAST(pmod(hash(id * 7 + 1), {n_nodes}) AS BIGINT) AS dst",
        )
        .filter("src <> dst")
        .selectExpr("least(src, dst) AS src", "greatest(src, dst) AS dst")
        .distinct()
    )
    return half.unionByName(
        half.selectExpr("dst AS src", "src AS dst")
    ).localCheckpoint(eager=True)


def wedge_census(edges: DataFrame) -> DataFrame:
    """The PRE-r8 formulation, reconstructed for the A/B: materialized
    wedge rows + (b, c) semi-join against the oriented edge set."""
    edges = edges.persist()
    deg = edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    oriented = (
        edges.join(deg.selectExpr("v AS src", "deg AS deg_s"), "src")
        .join(deg.selectExpr("v AS dst", "deg AS deg_d"), "dst")
        .filter("(deg_s < deg_d) OR (deg_s = deg_d AND src < dst)")
        .select("src", "dst")
        .persist()
    )
    e1 = oriented.selectExpr("src AS a", "dst AS b")
    e2 = oriented.selectExpr("src AS a", "dst AS c")
    wedges = e1.join(e2, "a").filter("b < c")
    probe = oriented.selectExpr("src AS b", "dst AS c").unionByName(
        oriented.selectExpr("dst AS b", "src AS c")
    )
    tri = wedges.join(probe, ["b", "c"], "left_semi")
    n_nodes = deg.selectExpr("count(*) AS n").withColumn("k", F.lit(1))
    n_edges = edges.selectExpr("count(*) div 2 AS n").withColumn("k", F.lit(1))
    n_wedges = wedges.selectExpr("count(*) AS n").withColumn("k", F.lit(1))
    n_tri = tri.selectExpr("count(*) AS n").withColumn("k", F.lit(1))
    return (
        n_nodes.selectExpr("k", "n AS n_nodes")
        .join(n_edges.selectExpr("k", "n AS n_edges"), "k")
        .join(n_wedges.selectExpr("k", "n AS n_wedges"), "k")
        .join(n_tri.selectExpr("k", "n AS n_triangles"), "k")
        .drop("k")
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="200000,800000")
    ap.add_argument("--nodes-div", type=int, default=20)
    args = ap.parse_args()

    spark = get_spark(
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    from dbdiff_spark.ops.graph import triangle_census

    for m_target in (int(s) for s in args.sizes.split(",")):
        n_nodes = max(100, m_target // args.nodes_div)
        edges = synth_edges(spark, m_target, n_nodes)
        t0 = time.time()
        new = triangle_census(edges).collect()[0].asDict()
        new_s = time.time() - t0
        # strategy of the adjacency pickup in the NEW plan
        plan = triangle_census(edges)._jdf.queryExecution().executedPlan().toString()
        strategy = (
            "broadcast" if "BroadcastHashJoin" in plan else "shuffle"
        )
        t0 = time.time()
        old = wedge_census(edges).collect()[0].asDict()
        old_s = time.time() - t0
        assert new == old, (new, old)
        print(json.dumps({
            "probe": "triangle_scale",
            "n_nodes": new["n_nodes"],
            "n_edges": new["n_edges"],
            "n_wedges": new["n_wedges"],
            "n_triangles": new["n_triangles"],
            "edge_iterator_s": round(new_s, 1),
            "wedge_semijoin_s": round(old_s, 1),
            "adjacency_join": strategy,
            "census_equal": True,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
