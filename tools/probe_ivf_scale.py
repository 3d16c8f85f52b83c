"""ANN build-cost probes over synthetic clustered corpora.

Usage: python tools/probe_ivf_scale.py (--build-cost | --pq-cost)
  [--ns 20000,50000,100000] [--dim 64]
(run with 2>/dev/null — Spark progress bars interleave stdout).
Writes nothing to the repo; prints a markdown table for
ARCHITECTURE.md.

``--build-cost`` probes the r8 production-build claim: at
derived K ≈ √n, Lloyd over the FULL corpus costs n·K·iters distance
evals (n^1.5) while the ``_derived_sample_mod`` subsample bounds
training to ~SAMPLE_PER_CENTROID·K rows — train time should FLATTEN
with n while the one full-corpus assignment pass (which genuinely
needs all n rows) comes to dominate.  Also reports the broadcast
``carr`` row payload (K×dim doubles) and the Lloyd mean-update collect
row count (== live cells — the r7 K-row fix), which ``--dim 1024``
pins at production embedding dims.
"""

from __future__ import annotations

import argparse
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from dbdiff_spark.session import get_spark  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dim", type=int, default=64)
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument(
        "--build-cost",
        action="store_true",
        help="probe full-corpus vs sample-trained Lloyd + assignment "
        "at derived K over growing n (the r8 production-build row)",
    )
    mode.add_argument(
        "--pq-cost",
        action="store_true",
        help="probe residual IVF-PQ build vs serve-only + on-disk "
        "codes/embedding payload ratio over growing n (r9)",
    )
    ap.add_argument("--ns", default="20000,50000,100000")
    args = ap.parse_args()

    spark = get_spark(
        app_name="probe_ivf_scale",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    if args.build_cost:
        return build_cost(spark, args)
    return pq_cost(spark, args)


def build_cost(spark, args) -> int:
    """Full-corpus vs sample-trained Lloyd at derived K over growing n,
    plus the assignment pass that dominates the sampled build."""
    from dbdiff_spark import testkit
    from dbdiff_spark.ops import similarity as sim

    ns = [int(x) for x in args.ns.split(",")]
    print(
        "| n | K | mod | train rows | full-Lloyd s | sampled-Lloyd s |"
        " assign s | mean-collect rows | carr MB |"
    )
    print("|---|---|---|---|---|---|---|---|---|")
    for n_target in ns:
        out_dir = tempfile.mkdtemp(prefix="ivf_build_")
        k = sim.semdedup_cells(n_target)
        testkit.write_clustered_embeddings(
            spark, out_dir, n=n_target, dim=args.dim, k=k, seed=13, sigma=0.3
        )
        vecs = (
            sim._vectors(spark, out_dir).select("vec_id", "embedding").persist()
        )
        n = vecs.count()
        mod = sim._derived_sample_mod(n, k)
        train = sim._lloyd_train_frame(vecs, mod)
        train_rows = train.count()

        t0 = time.time()
        cents_full = sim._kmeans_centroids(vecs, k)
        full_s = time.time() - t0
        t0 = time.time()
        cents = sim._kmeans_centroids(train, k)
        samp_s = time.time() - t0
        t0 = time.time()
        assigned = sim._assign_cells(vecs, cents).select("embedding", "cell")
        assigned.selectExpr("count(*)").collect()
        assign_s = time.time() - t0
        mean_rows = len(sim._cell_mean_frame(assigned).collect())
        assert mean_rows <= k, f"mean collect {mean_rows} > K={k}"
        carr_mb = k * args.dim * 8 / 1e6
        print(
            f"| {n} | {k} | {mod} | {train_rows} | {full_s:.1f} |"
            f" {samp_s:.1f} | {assign_s:.1f} | {mean_rows} |"
            f" {carr_mb:.1f} |",
            flush=True,
        )
        assert len(cents_full) <= k and len(cents) <= k
        vecs.unpersist()
    print(f"(dim={args.dim}, iters={sim.KMEANS_ITERS}, local[*])")
    return 0


def pq_cost(spark, args) -> int:
    """Residual IVF-PQ build vs serve over growing n: one full build
    (coarse train + assignment layout + residual codes) timed against
    the SERVE-ONLY path off the persisted artifacts, plus the measured
    on-disk payload ratio codes/assignments — the IVFPQ memory story
    and the build-once/serve-many argument, both as numbers."""
    import os

    from dbdiff_spark import testkit
    from dbdiff_spark.ops import similarity as sim

    def tree_bytes(path):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _d, fs in os.walk(path)
            for f in fs
        )

    ns = [int(x) for x in args.ns.split(",")]
    print("| n | K | nprobe | build+serve s | serve-only s | codes MB | emb MB | ratio |")
    print("|---|---|---|---|---|---|---|---|")
    for n_target in ns:
        out_dir = tempfile.mkdtemp(prefix="ivfpq_cost_")
        k = sim.semdedup_cells(n_target)
        testkit.write_clustered_embeddings(
            spark, out_dir, n=n_target, dim=args.dim, k=k, seed=13, sigma=0.3
        )
        root = f"{out_dir}/idx"
        n = sim.load_table(spark, out_dir, "embeddings").count()
        nprobe = sim.ivf_nprobe_for(k)
        t0 = time.time()
        sim.ann_ivf_pq_residual(spark, out_dir, index_root=root).write.format(
            "noop"
        ).mode("overwrite").save()
        build_s = time.time() - t0
        t0 = time.time()
        sim._serve_ivfpq_from_artifacts(
            spark, out_dir, root, nprobe, sim.MAX_BROADCAST_QUERIES,
            sim.query_mod_for(n), n,
            sim.pq_m_for(args.dim) * sim.pq_seeds_for(n),
        ).write.format("noop").mode("overwrite").save()
        serve_s = time.time() - t0
        code_b = tree_bytes(f"{root}/pq_codes")
        emb_b = tree_bytes(f"{root}/assignments")
        print(
            f"| {n} | {k} | {nprobe} | {build_s:.1f} | {serve_s:.1f} |"
            f" {code_b/1e6:.2f} | {emb_b/1e6:.2f} | {emb_b/max(code_b,1):.1f}x |",
            flush=True,
        )
    print(f"(dim={args.dim}, PQ_M={sim.pq_m_for(args.dim)}, local[*])")
    return 0


if __name__ == "__main__":
    sys.exit(main())
