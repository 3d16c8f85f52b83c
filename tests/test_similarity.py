"""ANN-tier invariants (oracle parity covers exact values)."""

import pytest
from pyspark.sql import functions as F

from dbdiff_spark.ops import similarity as sim


def test_pq_codes_cover_corpus_and_stay_in_codebook(spark, sf_dir):
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import PQ_K, ann_pq

    n_vecs = load_table(spark, sf_dir, "embeddings").count()
    res = ann_pq(spark, sf_dir).collect()
    assert res
    by_q = {}
    for r in res:
        assert r.neighbor_id != r.query_id
        assert r.approx_l2sq >= 0
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        assert len(rows) <= PQ_K
        # ADC distances ordered with the ranks
        rows.sort(key=lambda r: r.rank)
        dists = [r.approx_l2sq for r in rows]
        assert dists == sorted(dists)


def test_pq_seed_vectors_have_zero_self_distance(spark, sf_dir):
    """A codebook seed's own subvectors quantize to themselves, so a
    query that IS a seed has a 0-distance entry in its table — the
    classic PQ sanity check, done relationally (no collect of vectors)."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import (
        _qdist2_spark,
        _qvec_spark,
        _sub_split_spark,
        _vectors,
        pq_seeds_for,
    )

    vecs = _vectors(spark, sf_dir)
    qvecs = vecs.selectExpr("vec_id", f"{_qvec_spark()} AS qvec")
    subs = qvecs.selectExpr("vec_id", _sub_split_spark("qvec")).select(
        "vec_id", F.col("e.m").alias("m"), F.col("e.sub").alias("sub")
    )
    seeds = subs.filter(F.col("vec_id") < pq_seeds_for(vecs.count()))
    self_d = seeds.select(F.expr(_qdist2_spark("sub", "sub")).alias("d")).agg(
        F.max("d")
    ).first()[0]
    assert self_d == 0


def test_ann_recall_in_unit_range_and_self_recall_perfect(spark, sf_dir):
    from dbdiff_spark.ops.similarity import ann_recall_report

    r = ann_recall_report(spark, sf_dir).collect()[0]
    assert r.n_queries > 0 and r.k == 3
    assert 0 <= r.n_hits <= r.n_queries * r.k
    assert 0 <= r.recall_ppm <= 1_000_000


def test_embedding_drift_matches_closed_form(spark, sf_dir):
    """The deterministic +0.25 shift on every (vec_id % 5 = 0) vector
    gives a closed-form drift: per label, drift_grid_sum = dim · 250000
    · n_shifted, so mean_l1_shift = dim · 0.25 · n_shifted / n."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import DRIFT_MOD, embedding_drift

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.first()["embedding"])
    expect = {
        r["label"]: (r["n"], r["ns"])
        for r in emb.groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.count_if(F.col("vec_id") % DRIFT_MOD == 0).alias("ns"),
        )
        .collect()
    }
    rows = embedding_drift(spark, sf_dir).collect()
    assert {r.label for r in rows} == set(expect)
    for r in rows:
        n, ns = expect[r.label]
        assert r.n_vectors == n
        assert r.drift_grid_sum == dim * 250_000 * ns
        assert abs(r.mean_l1_shift - dim * 0.25 * ns / n) < 1e-9


def test_cross_source_matrix_conserves_pairs(spark, sf_dir):
    """The matrix is a partition of the LSH pair set: its n_pairs sum
    equals the pair count, and every doc's truncated variant guarantees
    at least one same-source pair per source with a long-enough doc."""
    from dbdiff_spark.ops.dedup import cross_source_dup_matrix, dedup_minhash_lsh

    total = dedup_minhash_lsh(spark, sf_dir).count()
    rows = cross_source_dup_matrix(spark, sf_dir).collect()
    assert sum(r.n_pairs for r in rows) == total
    assert all(r.source_lo <= r.source_hi for r in rows)
    diag = sum(r.n_pairs for r in rows if r.source_lo == r.source_hi)
    assert diag > 0  # original↔its own truncated copy shares a source


def test_ivf_multiprobe_improves_recall_at_equal_budget(spark, sf_dir):
    """At FIXED cells a second probe gives every query a candidate
    superset, and with the shared (cosine DESC, neighbor_id) tie-break
    recall@k is provably monotone — assert that guarantee.  The
    equal-budget variant (16 cells, nprobe=2) is report content, not a
    monotone quantity (ragged seed cells flip it at sf0.01), so only
    its presence is asserted."""
    from pyspark.sql import functions as F

    from dbdiff_spark.ops.similarity import ann_ivf, ann_ivf_recall_report

    recall = {
        r.variant: r.recall_ppm for r in ann_ivf_recall_report(spark, sf_dir).collect()
    }
    assert set(recall) == {
        "ivf_c8_p1",
        "ivf_c8_p2",
        "ivf_c16_p2",
        "ivf_trained_c8_p2",
        "ivf_trained_prod",
    }
    assert recall["ivf_c8_p2"] >= recall["ivf_c8_p1"]

    # superset property at fixed cells: every (query, neighbor) the
    # single-probe search returns within top-k is found by nprobe=2 too
    one = ann_ivf(spark, sf_dir, cells=8, nprobe=1).select(
        "query_id", "neighbor_id", "cosine"
    )
    two = ann_ivf(spark, sf_dir, cells=8, nprobe=2)
    # candidate sets are supersets; top-k ranks can shift, so compare
    # per-query kth-best cosine instead: nprobe=2's is >= nprobe=1's
    best1 = one.groupBy("query_id").agg(F.max("cosine").alias("c1"))
    best2 = two.groupBy("query_id").agg(F.max("cosine").alias("c2"))
    j = best1.join(best2, "query_id")
    assert j.filter(F.col("c2") < F.col("c1")).count() == 0


def test_ivf_recall_report_keeps_a_variant_with_no_hits(spark, sf_dir, monkeypatch):
    """A variant whose search returns no rows still reports, with
    ``n_hits = 0`` and ``recall_ppm = 0``: the report's rows come from
    the variant list, not from the hits (the DuckDB twin's ``vlist``)."""
    from dbdiff_spark.ops import similarity as sim

    real = sim.ann_ivf

    def no_rows_at_16_cells(spark, sf_dir, **kw):
        out = real(spark, sf_dir, **kw)
        return out.limit(0) if kw.get("cells") == 16 else out

    monkeypatch.setattr(sim, "ann_ivf", no_rows_at_16_cells)
    rows = {r.variant: r for r in sim.ann_ivf_recall_report(spark, sf_dir).collect()}
    assert set(rows) == {
        "ivf_c8_p1",
        "ivf_c8_p2",
        "ivf_c16_p2",
        "ivf_trained_c8_p2",
        "ivf_trained_prod",
    }
    empty = rows["ivf_c16_p2"]
    assert (empty.k, empty.n_hits, empty.recall_ppm) == (sim.ANN_K, 0, 0)
    assert empty.n_queries == rows["ivf_c8_p1"].n_queries > 0
    assert rows["ivf_c8_p1"].n_hits > 0


def test_trained_ivf_beats_seed_ivf_on_clustered_embeddings(spark, tmp_path):
    """VERDICT r5 #6: the near-uniform driver fixture cannot show a
    trained-quantizer recall win (documented in ann_ivf_trained); on a
    mixture-of-Gaussians corpus — the shape real embedding spaces have
    — k-means-trained centroids MUST beat the seed quantizer at the
    identical (cells=8, nprobe=2) candidate budget.  Margin measured at
    this seed: trained 1,000,000 ppm vs seed 916,666."""
    from dbdiff_spark.ops.similarity import KMEANS_K, ann_ivf_recall_report
    from dbdiff_spark.testkit import write_clustered_embeddings

    write_clustered_embeddings(
        spark, str(tmp_path), n=2000, dim=64, k=KMEANS_K, seed=7, sigma=0.05
    )
    recall = {
        r.variant: r.recall_ppm
        for r in ann_ivf_recall_report(spark, str(tmp_path)).collect()
    }
    assert recall["ivf_trained_c8_p2"] > recall["ivf_c8_p2"]
    # on tight clusters the trained quantizer recovers the generating
    # mixture exactly — perfect recall, dominating every seed variant
    assert recall["ivf_trained_c8_p2"] == 1_000_000
    assert all(
        recall["ivf_trained_c8_p2"] >= v for v in recall.values()
    )


def test_ivf_index_persist_serves_from_reloaded_artifacts(spark, sf_dir, tmp_path):
    """Build-once/serve-many: the persisted index (centroids parquet +
    cell-partitioned assignments) must reproduce the in-memory trained
    search exactly, and the assignment layout must actually be
    partitioned by cell (the structure a serving fleet prunes on)."""
    import glob

    from dbdiff_spark.ops.similarity import (
        ann_ivf_index_persist,
        ann_ivf_trained,
    )

    root = str(tmp_path / "ivf_index")
    served = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9))
        for r in ann_ivf_index_persist(
            spark, sf_dir, index_root=root
        ).collect()
    }
    trained = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9))
        for r in ann_ivf_trained(spark, sf_dir).collect()
    }
    assert served == trained and len(served) > 0

    cells = glob.glob(f"{root}/assignments/cell=*")
    assert len(cells) > 1  # hive-partitioned by cell


def test_ivf_scaled_cells_derive_from_corpus_count(spark, sf_dir):
    """The derived-C variant uses the semdedup ⌈√n⌉-on-16-grid rule and
    produces the identical result to ann_ivf pinned at that C — the
    derivation changes only the seed-set size, never the machinery."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import (
        IVF_NPROBE,
        ann_ivf,
        ann_ivf_cells_scaled,
        ivf_nprobe_for,
        semdedup_cells,
    )

    n = load_table(spark, sf_dir, "embeddings").count()
    c = semdedup_cells(n)
    assert c >= 16 and c * c >= n  # at least √n cells
    p = ivf_nprobe_for(c)
    assert p >= IVF_NPROBE and p * p >= c  # nprobe scales as ⌈√C⌉
    scaled = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_ivf_cells_scaled(spark, sf_dir).collect()
    }
    pinned = {
        (r.query_id, r.rank): r.neighbor_id
        for r in ann_ivf(spark, sf_dir, cells=c, nprobe=p).collect()
    }
    assert scaled == pinned and len(scaled) > 0


def test_trained_ivf_k_is_derived_from_corpus_size(spark, sf_dir, tmp_path):
    """VERDICT r6 weak #1: the trained/persisted IVF tier must train
    K = semdedup_cells(n) centroids (the same ⌈√n⌉-on-the-grid
    derivation as ann_ivf_cells_scaled), not a pinned 8 — at 10⁹
    vectors a pinned-8 quantizer puts n/8 vectors in every probed
    cell.  The persisted centroids artifact is the observable: its row
    count IS the trained K."""
    import glob as _glob

    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import (
        KMEANS_K,
        _derived_kmeans_k,
        ann_ivf_index_persist,
        semdedup_cells,
    )

    n = load_table(spark, sf_dir, "embeddings").count()
    k = _derived_kmeans_k(spark, sf_dir)
    assert k == semdedup_cells(n) and k > KMEANS_K

    root = str(tmp_path / "ivf_index")
    ann_ivf_index_persist(spark, sf_dir, index_root=root).collect()
    written = spark.read.parquet(f"{root}/centroids").count()
    # empty cells may drop during Lloyd rounds, but on the near-uniform
    # fixture the trained quantizer keeps (nearly) all √n cells — far
    # more than the old pinned 8
    assert KMEANS_K < written <= k
    assert len(_glob.glob(f"{root}/assignments/cell=*")) > KMEANS_K


def test_kmeans_trained_entries_on_empty_corpus_match_oracles(spark, tmp_path):
    """A zero-row ``embeddings`` table trains zero centroids.  The
    k-means-trained entries must then return zero rows, as their DuckDB
    oracles do — not fail analysis on an untyped empty argmin array."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as entry

    path = tmp_path / "embeddings.parquet"
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
                "label": pa.array([], pa.int32()),
            }
        ),
        str(path),
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{path}')")
    for name in ("kmeans_lloyd", "ann_ivf_trained"):
        assert entry.queries()[name](spark, str(tmp_path)).collect() == [], name
        assert con.execute(entry.oracle_sql()[name]).fetchall() == [], name


def test_production_trained_ivf_subsamples_and_serves_topk(spark, sf_dir):
    """ann_ivf_trained (the PRODUCTION build since r8) must actually
    TRAIN ON A SUBSAMPLE at the fixture scale (mod > 1 — the r7 weak
    item; the full-corpus Lloyd at derived K is an n^1.5 bill) while
    serving the same output contract as the trained tier: dense ranks
    1..IVF_K per query over genuine neighbors."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import (
        _derived_sample_mod,
        ann_ivf_trained,
        semdedup_cells,
    )

    n = load_table(spark, sf_dir, "embeddings").count()
    k = semdedup_cells(n)
    mod = _derived_sample_mod(n, k)
    assert mod > 1, "fixture too small to exercise the subsample regime"

    rows = ann_ivf_trained(spark, sf_dir).collect()
    assert len(rows) > 0
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == list(
            range(1, len(rs) + 1)
        )
        assert all(r.neighbor_id != q for r in rs)
        cos = [r.cosine for r in sorted(rs, key=lambda r: r.rank)]
        assert cos == sorted(cos, reverse=True)


def test_full_trained_ab_shares_contract_with_production(spark, sf_dir):
    """ann_ivf_full_trained is the full-corpus-Lloyd A/B at the SAME
    derived (K, nprobe) as production: identical output schema and
    query coverage, so the two are directly comparable — and on this
    near-uniform fixture the sampled quantizer serves the same query
    set (training on 1/mod of the corpus loses no queries, only
    shifts centroids)."""
    from dbdiff_spark.ops.similarity import (
        ann_ivf_full_trained,
        ann_ivf_trained,
    )

    prod = ann_ivf_trained(spark, sf_dir)
    full = ann_ivf_full_trained(spark, sf_dir)
    assert prod.columns == full.columns
    pq = {r.query_id for r in prod.select("query_id").distinct().collect()}
    fq = {r.query_id for r in full.select("query_id").distinct().collect()}
    assert pq == fq and len(pq) > 0


def test_lloyd_mean_update_collects_one_row_per_cell(spark, sf_dir):
    """VERDICT r7 minor: the Lloyd mean update must reach the driver as
    K array rows, not K×dim scalar rows (at K=32k × dim=1024 the row
    objects alone would swamp the driver).  The mean frame is the
    collected surface — assert its row count is the live cell count and
    each row carries the full-dim centroid."""
    from dbdiff_spark.ops.similarity import (
        _assign_cells,
        _cell_mean_frame,
        _vectors,
    )

    vecs = _vectors(spark, sf_dir)
    dim = len(vecs.first()["embedding"])
    seeds = vecs.filter("vec_id < 8").collect()
    centroids = {
        int(r["vec_id"]): [float(x) for x in r["embedding"]] for r in seeds
    }
    assigned = _assign_cells(vecs, centroids).select("embedding", "cell")
    live_cells = assigned.select("cell").distinct().count()
    rows = _cell_mean_frame(assigned).collect()
    assert len(rows) == live_cells <= 8
    assert all(len(r["centroid"]) == dim for r in rows)


def test_query_broadcast_guard_bounds_bytes_not_just_rows(spark):
    """VERDICT r7 #6 audit: MAX_BROADCAST_QUERIES alone admits a 540 MB
    broadcast at production 1024-dim embeddings (64Ki rows x 8 KiB).
    The guard must measure estimated PAYLOAD too: a narrow small set
    broadcasts; a set under the row bound but over MAX_BROADCAST_BYTES
    must not."""
    from pyspark.sql import functions as F

    from dbdiff_spark.ops.similarity import (
        MAX_BROADCAST_BYTES,
        MAX_BROADCAST_QUERIES,
        _broadcastable,
    )

    narrow = spark.range(100).select(
        F.col("id").alias("query_id"),
        F.expr("array_repeat(CAST(id AS DOUBLE), 16)").alias("q_emb"),
    )
    assert _broadcastable(narrow, MAX_BROADCAST_QUERIES)

    # 20k rows x 512-dim double = ~82 MB estimated > 64 MiB budget,
    # while staying far under the 65 536-row bound
    wide = spark.range(20_000).select(
        F.col("id").alias("query_id"),
        F.expr("array_repeat(CAST(id AS DOUBLE), 512)").alias("q_emb"),
    )
    assert 20_000 <= MAX_BROADCAST_QUERIES
    assert 20_000 * 512 * 8 > MAX_BROADCAST_BYTES
    assert not _broadcastable(wide, MAX_BROADCAST_QUERIES)


def test_ivf_pq_composes_cell_pruning_with_exact_adc(spark, sf_dir):
    """IVF-PQ is ann_pq restricted to probed cells: any (query,
    neighbor) both searches return must carry the IDENTICAL BIGINT ADC
    distance (same codes, same table — the coarse stage only prunes),
    ranks are dense per query, and no neighbor is its own query."""
    from dbdiff_spark.ops.similarity import ann_ivf_pq, ann_pq

    ivfpq = ann_ivf_pq(spark, sf_dir).collect()
    assert ivfpq
    by_q = {}
    for r in ivfpq:
        assert r.neighbor_id != r.query_id and r.approx_l2sq >= 0
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
    flat = {(r.query_id, r.neighbor_id): r.approx_l2sq for r in ann_pq(spark, sf_dir).collect()}
    pruned = {(r.query_id, r.neighbor_id): r.approx_l2sq for r in ivfpq}
    shared = set(flat) & set(pruned)
    assert shared, "no overlap between flat-PQ and IVF-PQ top-k"
    assert all(flat[k] == pruned[k] for k in shared)


def test_ivf_ingest_appends_batch_without_rewriting_base(spark, sf_dir, tmp_path):
    """Incremental IVF: the batch ingest must APPEND into the live
    cell-partitioned layout — base parquet files byte-identical before
    and after — and the merged index must serve candidates from BOTH
    slices (assignment is a pure function of the frozen quantizer, so
    ingest ≡ rebuild; the oracle checks value equality, this checks the
    physical append contract)."""
    import glob
    import os

    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_ingest")
    rows = sim.ann_ivf_ingest(spark, sf_dir, index_root=root).collect()
    assert rows
    files = sorted(glob.glob(f"{root}/assignments/cell=*/*.parquet"))
    assert len(files) > len(glob.glob(f"{root}/assignments/cell=*"))  # >1 file/cell overall
    merged = spark.read.parquet(f"{root}/assignments")
    halves = {
        r["h"]: r["n"]
        for r in merged.selectExpr("vec_id % 2 AS h")
        .groupBy("h").count().withColumnRenamed("count", "n").collect()
    }
    assert set(halves) == {0, 1} and min(halves.values()) > 0
    # The physical append proof (r8 review: a post-op size snapshot
    # asserts nothing).  Every parquet part file carries its WRITE
    # JOB's uuid in its name; base rows are even vec_ids, batch rows
    # odd.  If the append leg had rewritten the base slice, base rows
    # would sit in files of the SAME job uuid as batch rows — so
    # assert (a) no file mixes the two slices and (b) the job-uuid
    # sets behind base files and batch files are disjoint.
    import re

    from pyspark.sql import functions as F

    per_file = (
        spark.read.parquet(f"{root}/assignments")
        .select(
            F.input_file_name().alias("f"),
            (F.col("vec_id") % 2).alias("h"),
        )
        .groupBy("f")
        .agg(F.count_distinct("h").alias("nh"), F.min("h").alias("h"))
        .collect()
    )
    assert per_file and all(r["nh"] == 1 for r in per_file)

    def job_uuid(path):
        m = re.search(r"part-\d+-([0-9a-f-]{36})", path)
        assert m, path
        return m.group(1)

    base_jobs = {job_uuid(r["f"]) for r in per_file if r["h"] == 0}
    batch_jobs = {job_uuid(r["f"]) for r in per_file if r["h"] == 1}
    assert base_jobs and batch_jobs
    assert base_jobs.isdisjoint(batch_jobs)
    sizes = {f: os.path.getsize(f) for f in files}
    assert all(v > 0 for v in sizes.values())


def test_truncation_recall_prefixes_and_endpoint_monotonicity(spark, sf_dir):
    """Matryoshka-truncation report laws: prefix widths are exactly the
    derived d/2, d/4, d/8 set (>=2 dims), every recall is a valid
    fraction of the Q*k budget, and the widest prefix recalls at least
    as well as the narrowest (a d/2 prefix is a strictly better
    estimator of full-dim cosine than d/8 on any corpus where the
    report is meaningful)."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import (
        ANN_K,
        TRUNC_FRACS,
        embedding_truncation_recall,
    )

    full_d = load_table(spark, sf_dir, "embeddings").selectExpr(
        "max(size(embedding)) AS d"
    ).collect()[0]["d"]
    rows = {
        r.prefix_dims: r
        for r in embedding_truncation_recall(spark, sf_dir).collect()
    }
    expected = {full_d // f for f in TRUNC_FRACS if full_d // f >= 2}
    assert set(rows) == expected
    for r in rows.values():
        assert 0 <= r.n_hits <= r.n_queries * ANN_K
        assert r.recall_ppm == r.n_hits * 1_000_000 // (r.n_queries * ANN_K)
    widest, narrowest = max(rows), min(rows)
    assert rows[widest].recall_ppm >= rows[narrowest].recall_ppm


def test_ivfpq_residual_one_root_serves_exact_ivf_and_pq(spark, sf_dir, tmp_path):
    """The residual IVF-PQ build writes the SAME coarse layout the
    exact-IVF persist/ingest tier serves from, plus the fine artifacts
    beside it — one index root must answer BOTH search modes: the PQ
    result from its own serving path, and exact-IVF via
    ``_serve_ivf_from_artifacts`` reproducing ``ann_ivf_trained``
    bit-for-bit off the codes' root."""
    import glob

    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import (
        QUERY_MOD,
        _serve_ivf_from_artifacts,
        ann_ivf_pq_residual,
        ann_ivf_trained,
        ivf_nprobe_for,
        pq_m_for,
        pq_seeds_for,
        semdedup_cells,
    )

    root = str(tmp_path / "ivfpq_index")
    res = ann_ivf_pq_residual(spark, sf_dir, index_root=root).collect()
    assert len(res) > 0
    assert {r.rank for r in res} <= {1, 2, 3}
    # artifact layout: coarse (shared with the exact-IVF tier) + fine
    assert glob.glob(f"{root}/centroids/part-*.parquet")
    assert len(glob.glob(f"{root}/assignments/cell=*")) > 1
    assert glob.glob(f"{root}/pq_codebook/part-*.parquet")
    assert glob.glob(f"{root}/pq_codes/part-*")
    # codes artifact: one code per (vec, m), every code a codebook entry
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    m_total = pq_m_for(len(emb.select("embedding").first()["embedding"]))
    codes = spark.read.parquet(f"{root}/pq_codes")
    assert codes.count() == n * m_total
    assert codes.select("vec_id", "m").distinct().count() == n * m_total
    mn, mx = codes.selectExpr("min(code)", "max(code)").first()
    assert 0 <= mn and mx < pq_seeds_for(n)
    # the memory story, measured on disk: the PQ serving payload
    # (codes) must be a small fraction of the embedding payload
    # (assignments) — that byte ratio IS the reason IVFPQ exists
    import os

    def tree_bytes(path):
        return sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _dirs, files in os.walk(path)
            for f in files
        )

    code_b = tree_bytes(f"{root}/pq_codes")
    emb_b = tree_bytes(f"{root}/assignments")
    assert code_b * 2 < emb_b, (code_b, emb_b)
    # the SAME root answers exact-IVF, identically to the in-memory build
    k = semdedup_cells(n)
    served = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in _serve_ivf_from_artifacts(
            spark, sf_dir, root, ivf_nprobe_for(k), 65_536, QUERY_MOD, n
        ).collect()
    }
    trained = {
        (r.query_id, r.rank): (r.neighbor_id, r.cosine)
        for r in ann_ivf_trained(spark, sf_dir).collect()
    }
    assert served == trained and len(served) > 0


def test_residual_codes_beat_raw_at_equal_budget(spark, sf_dir):
    """The faiss argument for residual encoding, asserted: at the SAME
    trained quantizer, probes, candidates, grid, and M×K codebook
    budget, residual codes recall at least as much of the exact-L2
    top-k as raw codes on the driver fixture (strictly more measured:
    2/15 hits vs 0 at sf0.001, 3 vs 2 at sf0.01, 4 vs 3 at sf0.1), and
    the report's arithmetic is internally consistent."""
    from dbdiff_spark.ops.similarity import (
        PQ_K,
        ann_ivfpq_recall_report,
    )

    rows = {
        r.variant: r for r in ann_ivfpq_recall_report(spark, sf_dir).collect()
    }
    assert set(rows) == {"ivfpq_raw", "ivfpq_residual", "ivfpq_residual_tcb"}
    for r in rows.values():
        assert r.k == PQ_K
        assert 0 <= r.n_hits <= r.n_queries * PQ_K
        assert r.recall_ppm == r.n_hits * 1_000_000 // (r.n_queries * PQ_K)
    assert (
        rows["ivfpq_residual"].recall_ppm > rows["ivfpq_raw"].recall_ppm
    ), "residual codes should beat raw codes at equal budget here"
    # the trained-codebook arm's recall at the 5-query sf0.001 sample is
    # noise-bound (measured 1-2 hits either way); its ladder win shows
    # at sf0.1 (50k -> 67k -> 117k ppm) and its provable property —
    # lower coding error — is asserted separately below


def test_trained_pq_codebook_lowers_coding_error(spark, sf_dir):
    """What per-subspace Lloyd provably optimizes: total squared coding
    error (sum over (vec, m) of d2 to the nearest codebook entry) must
    not increase vs the seeded codebook — each assignment step picks
    the min and each mean update minimizes the sum given assignments
    (grid rounding gets a hair of slack)."""
    from pyspark.sql import functions as F

    from dbdiff_spark.ops.similarity import (
        _assign_cells,
        _centroid_frame,
        _derived_sample_mod,
        _grid_explode_m,
        _kmeans_centroids,
        _lloyd_train_frame,
        _pq_grid_codes,
        _qdist2_spark,
        _vectors,
        pq_seeds_for,
        semdedup_cells,
    )
    from dbdiff_spark.io import load_table

    n = load_table(spark, sf_dir, "embeddings").count()
    k = semdedup_cells(n)
    vecs = _vectors(spark, sf_dir).persist()
    try:
        centroids = _kmeans_centroids(
            _lloyd_train_frame(vecs, _derived_sample_mod(n, k)), k
        )
        cframe = _centroid_frame(spark, centroids)
        assigned = _assign_cells(vecs, centroids).select(
            "vec_id", "embedding", "cell"
        )

        def total_err(trained: bool) -> int:
            _codes, codebook = _pq_grid_codes(
                assigned, cframe, residual=True, seeds=pq_seeds_for(n),
                train_codebook=trained,
            )
            subs = _grid_explode_m(
                assigned.join(F.broadcast(cframe), "cell").selectExpr(
                    "vec_id",
                    "zip_with(embedding, centroid, (x, c) -> "
                    "CAST(ROUND((CAST(x AS DOUBLE) - c) * 1000000) AS BIGINT))"
                    " AS gq",
                ),
                ["vec_id"],
            )
            return (
                subs.join(F.broadcast(codebook), "m")
                .withColumn("d2", F.expr(_qdist2_spark("sub", "seed_sub")))
                .groupBy("vec_id", "m")
                .agg(F.min("d2").alias("best"))
                .groupBy()
                .agg(F.sum("best").alias("t"))
                .collect()[0]["t"]
            )

        seeded, trained = total_err(False), total_err(True)
        assert trained <= seeded * 1.01, (seeded, trained)
        # and the training should actually move the needle, not no-op
        assert trained < seeded, (seeded, trained)
    finally:
        vecs.unpersist()


def test_query_mod_derivation_law():
    """query_mod_for: pinned floor through 10k vectors (every sf-scale
    oracle value unchanged), ~sqrt(n) stride beyond, exact integer
    arithmetic (VERDICT r8 #6)."""
    import math

    from dbdiff_spark.ops.similarity import QUERY_MOD, query_mod_for

    assert query_mod_for(0) == QUERY_MOD
    assert query_mod_for(500) == QUERY_MOD
    assert query_mod_for(10_000) == QUERY_MOD
    assert query_mod_for(10_201) == 101  # sqrt exact: 101*101
    assert query_mod_for(20_000) == 140
    assert query_mod_for(10**9) == 31_622
    for n in (10_001, 123_457, 10**7 + 3):
        assert query_mod_for(n) == max(
            QUERY_MOD, n // math.ceil(math.sqrt(n))
        )


def test_derived_query_stride_binds_and_matches_duckdb(spark, tmp_path):
    """On a 20k-vector corpus the derived stride BINDS (qmod=140, no
    longer the pinned 100): the production trained-IVF search must use
    it (query count drops to the %140 set) and still hash-match the
    DuckDB oracle, which re-derives the same stride from its own
    count(*) — the derivation is verified where it changes behavior,
    not only where it coincides with the pin."""
    import duckdb

    from dbdiff_spark.ops.similarity import (
        _ann_ivf_sample_trained_sql,
        ann_ivf_trained,
        query_mod_for,
    )

    n, dim = 20_000, 4
    rows = [
        (i, [float((i * 7 + d * 13) % 23) / 23 + 0.1 for d in range(dim)], i % 3)
        for i in range(n)
    ]
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))
    out = ann_ivf_trained(spark, str(tmp_path)).collect()
    qmod = query_mod_for(n)
    assert qmod == 140
    got_queries = {r.query_id for r in out}
    assert got_queries and all(q % qmod == 0 for q in got_queries)
    # pinned-era stride would have included e.g. 100 and 300 (non-140
    # multiples); their absence shows the derivation actually bound
    assert not any(q % 100 == 0 and q % qmod != 0 for q in got_queries)

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{tmp_path}/embeddings.parquet/*.parquet')"
    )
    oracle = con.execute(_ann_ivf_sample_trained_sql()).fetchall()
    spark_set = {
        (r.query_id, r.rank, r.neighbor_id, round(r.cosine, 9)) for r in out
    }
    duck_set = {(q, rk, nb, round(c, 9)) for q, nb, c, rk in oracle}
    assert spark_set == duck_set and len(spark_set) > 0


def test_ivfpq_ingest_appends_codes_without_rewriting_base(spark, sf_dir, tmp_path):
    """Fine-stage incremental ingest: the batch must be assigned AND
    residual-encoded at the frozen quantizer/codebook and APPENDED —
    base code files untouched (disjoint write-job uuids, no file mixes
    the slices) — and the merged codes must cover the union corpus at
    one code per (vec, m)."""
    import re

    from pyspark.sql import functions as F

    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import (
        ann_ivfpq_ingest,
        pq_m_for,
        pq_seeds_for,
    )

    root = str(tmp_path / "ivfpq_ing")
    rows = ann_ivfpq_ingest(spark, sf_dir, index_root=root).collect()
    assert rows and {r.rank for r in rows} <= {1, 2, 3}
    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    n_base = emb.filter("vec_id % 2 = 0").count()
    m_total = pq_m_for(len(emb.select("embedding").first()["embedding"]))
    codes = spark.read.parquet(f"{root}/pq_codes")
    assert codes.count() == n * m_total
    assert codes.select("vec_id", "m").distinct().count() == n * m_total
    mn, mx = codes.selectExpr("min(code)", "max(code)").first()
    # the codebook trains on the BASE slice, so its derived budget
    # bounds the code alphabet
    assert 0 <= mn and mx < pq_seeds_for(n_base)
    per_file = (
        codes.select(
            F.input_file_name().alias("f"), (F.col("vec_id") % 2).alias("h")
        )
        .groupBy("f")
        .agg(F.count_distinct("h").alias("nh"), F.min("h").alias("h"))
        .collect()
    )
    assert per_file and all(r["nh"] == 1 for r in per_file)

    def job_uuid(path):
        m = re.search(r"part-\d+-([0-9a-f-]{36})", path)
        assert m, path
        return m.group(1)

    base_jobs = {job_uuid(r["f"]) for r in per_file if r["h"] == 0}
    batch_jobs = {job_uuid(r["f"]) for r in per_file if r["h"] == 1}
    assert base_jobs and batch_jobs and base_jobs.isdisjoint(batch_jobs)


def test_nprobe_curve_is_monotone_and_derived(spark, sf_dir):
    """Operating-curve laws: rung set is exactly the derived ladder
    {1, ceil(np/2), np, min(K, 2np)}, recall is monotone non-decreasing
    in nprobe (candidate sets are supersets under the shared
    tie-break), and the arithmetic is internally consistent."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import (
        IVF_K,
        ann_ivf_nprobe_curve,
        ivf_nprobe_for,
        semdedup_cells,
    )

    n = load_table(spark, sf_dir, "embeddings").count()
    k = semdedup_cells(n)
    np0 = ivf_nprobe_for(k)
    rows = sorted(
        ann_ivf_nprobe_curve(spark, sf_dir).collect(), key=lambda r: r.nprobe
    )
    assert [r.nprobe for r in rows] == sorted(
        {1, max(1, np0 // 2), np0, min(k, 2 * np0)}
    )
    for r in rows:
        assert r.k == IVF_K
        assert r.recall_ppm == r.n_hits * 1_000_000 // (r.n_queries * IVF_K)
    recalls = [r.recall_ppm for r in rows]
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] > recalls[0]  # extra probes must buy something here


def test_ann_ivf_serve_skips_rebuild_on_warm_root(spark, sf_dir, tmp_path, monkeypatch):
    """VERDICT r9 #1: the serve-only entry builds ONCE per root — the
    params completion marker gates the build, so a warm call must never
    retrain/reassign (patched build raises) and must return rows
    identical to the cold call (deterministic build ⇒ serving is pure)."""
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_serve")
    cold = sorted(map(tuple, sim.ann_ivf_serve(spark, sf_dir, index_root=root).collect()))
    assert cold  # the sf0.001 corpus yields a non-trivial query set

    def _no_rebuild(*_a, **_k):
        raise AssertionError("warm serve call re-ran the index build")

    monkeypatch.setattr(sim, "_build_ivf_coarse_artifacts", _no_rebuild)
    warm = sorted(map(tuple, sim.ann_ivf_serve(spark, sf_dir, index_root=root).collect()))
    assert warm == cold


def test_ann_ivfpq_serve_skips_rebuild_on_warm_root(spark, sf_dir, tmp_path, monkeypatch):
    """The PQ sibling of the warm-serve guarantee, plus the artifact
    contract: one serve root carries the full composite layout."""
    from dbdiff_spark import fs
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivfpq_serve")
    cold = sorted(map(tuple, sim.ann_ivfpq_serve(spark, sf_dir, index_root=root).collect()))
    assert cold
    for part in ("centroids", "assignments", "pq_codebook", "pq_codes", "params"):
        assert fs.exists(spark, f"{root}/{part}"), part

    def _no_rebuild(*_a, **_k):
        raise AssertionError("warm serve call re-ran the index build")

    monkeypatch.setattr(sim, "_build_ivfpq_artifacts", _no_rebuild)
    warm = sorted(map(tuple, sim.ann_ivfpq_serve(spark, sf_dir, index_root=root).collect()))
    assert warm == cold


def test_ann_serve_half_built_root_rebuilds(spark, sf_dir, tmp_path):
    """A crashed half-build (coarse artifacts present, params marker
    absent) must NOT be served — the guard keys on the params artifact
    written last, so the next call rebuilds into a complete root."""
    from dbdiff_spark import fs
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_serve")
    full = sorted(map(tuple, sim.ann_ivf_serve(spark, sf_dir, index_root=root).collect()))
    # simulate the crash: completion marker gone, coarse artifacts left
    fs.delete(spark, f"{root}/params")
    out = sorted(map(tuple, sim.ann_ivf_serve(spark, sf_dir, index_root=root).collect()))
    assert fs.exists(spark, f"{root}/params/_SUCCESS")
    assert out == full


def test_index_rebuild_logs_the_failed_check(spark, sf_dir, tmp_path, caplog):
    """A warm root rejected by ``_ensure_index_params`` names the check
    that failed — here a params row written before ``n_ids`` existed —
    so an upgrade-driven rebuild reads apart from corpus drift."""
    import logging

    import pytest

    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "old_schema")
    spark.createDataFrame(
        [(10, 8, 4, 2, 1, "ivf", sim._corpus_fingerprint(spark, sf_dir))],
        "n bigint, dim bigint, cells bigint, nprobe bigint, qmod bigint,"
        " family string, fingerprint string",
    ).write.parquet(f"{root}/params")

    class _Built(Exception):
        pass

    def _build(*_a):
        raise _Built

    with caplog.at_level(logging.WARNING, logger=sim.__name__):
        with pytest.raises(_Built):
            sim._ensure_index_params(spark, sf_dir, root, "ivf", _build)
    assert any("n_ids" in r.getMessage() for r in caplog.records), caplog.text


def test_pq_derivation_laws_and_duckdb_parity():
    """VERDICT r9 #3: the PQ configuration is DERIVED, not pinned —
    M from dim at the fixed sub-vector width, the codebook size from
    the training budget (largest power of two with ≥39 rows/centroid,
    capped at the one-byte faiss budget) — and the DuckDB spelling
    must re-derive bit-identical values at ANY corpus size, exactly
    like the coarse tier's cells/nprobe/stride laws."""
    import duckdb

    from dbdiff_spark.ops.similarity import (
        PQ_SEEDS_MAX,
        PQ_SUBDIM,
        PQ_TRAIN_PER_CENTROID,
        _pq_seeds_case_duck,
        pq_m_for,
        pq_seeds_for,
    )

    # laws
    assert pq_m_for(64) == 4 and pq_m_for(16) == 1 and pq_m_for(8) == 1
    assert pq_m_for(1024) == 1024 // PQ_SUBDIM
    assert pq_seeds_for(500) == 8          # the driver-gate scale
    assert pq_seeds_for(2000) == 32        # the bench scale
    assert pq_seeds_for(10) == 2           # degenerate floor
    assert pq_seeds_for(10**9) == PQ_SEEDS_MAX  # one-byte budget cap
    for n in range(1, 4000, 37):
        k = pq_seeds_for(n)
        assert k & (k - 1) == 0 and 2 <= k <= PQ_SEEDS_MAX
        # trainability: the budget holds whenever the corpus allows it
        if k > 2:
            assert n >= PQ_TRAIN_PER_CENTROID * k
        assert pq_seeds_for(n + 37) >= k  # monotone in n

    # cross-engine parity over a dense n sweep
    con = duckdb.connect()
    ns = list(range(1, 1200, 13)) + [10**6, 10**9]
    sql = "SELECT " + ", ".join(
        _pq_seeds_case_duck(str(n)) for n in ns
    )
    got = con.execute(sql).fetchone()
    assert list(got) == [pq_seeds_for(n) for n in ns]


def test_ivf_serve_scan_partition_prunes_probed_cells(spark, sf_dir, tmp_path):
    """The 100 TB serving claim, plan-asserted: the cell-partitioned
    assignments scan under ``_serve_ivf_from_artifacts`` must carry a
    DYNAMIC partition-pruning filter on ``cell`` (Catalyst DPP fed by
    the broadcast probe subquery), so a query batch reads only its
    probed cell directories — nprobe·Q partitions, not all K.  This is
    what makes the partitionBy(cell) layout pay at scale; without DPP
    the layout would only help metadata, not bytes read."""
    from dbdiff_spark.ops.similarity import (
        MAX_BROADCAST_QUERIES,
        _build_ivf_coarse_artifacts,
        _derived_sample_mod,
        _serve_ivf_from_artifacts,
        _vectors,
        ivf_nprobe_for,
        semdedup_cells,
    )
    from dbdiff_spark.io import load_table

    root = str(tmp_path / "dpp_ivf")
    n = load_table(spark, sf_dir, "embeddings").count()
    k = semdedup_cells(n)
    _build_ivf_coarse_artifacts(
        spark, sf_dir, root, _vectors(spark, sf_dir), k, _derived_sample_mod(n, k),
        n,
    )
    out = _serve_ivf_from_artifacts(
        spark, sf_dir, root, ivf_nprobe_for(k), MAX_BROADCAST_QUERIES,
        query_mod=n,  # a single-query batch — the pruning-visible shape
        n=n,
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]
    # and the pruning filter sits on the partition column of the
    # artifact scan, not some other relation
    import re

    pf = re.findall(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert any("cell" in f and "dynamicpruning" in f for f in pf), pf


def test_ann_serve_rebuilds_when_corpus_replaced(spark, tmp_path):
    """r10 review finding: the serve root is PATH-keyed, so the warm
    guard must also check a corpus-file fingerprint — replacing the
    corpus at the same path must invalidate the standing index and
    rebuild, never serve corpus-A artifacts against corpus-B queries."""
    import shutil

    from dbdiff_spark.ops import similarity as sim

    sf = str(tmp_path / "corpus")
    root = str(tmp_path / "root")

    def write_corpus(offset: float) -> None:
        rows = [
            (i, [float(i % 7) + offset, float(i % 5), 1.0, 2.0], i % 3)
            for i in range(120)
        ]
        shutil.rmtree(f"{sf}/embeddings.parquet", ignore_errors=True)
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{sf}/embeddings.parquet"
        )

    write_corpus(0.0)
    first = sorted(map(tuple, sim.ann_ivf_serve(spark, sf, index_root=root).collect()))
    write_corpus(10.0)  # same path, different content
    second = sorted(map(tuple, sim.ann_ivf_serve(spark, sf, index_root=root).collect()))
    # the rebuilt index must reflect corpus B: cosines change
    assert first != second
    # and a THIRD call on the unchanged corpus is warm again (params
    # fingerprint now records corpus B)
    third = sorted(map(tuple, sim.ann_ivf_serve(spark, sf, index_root=root).collect()))
    assert third == second


def test_ann_serve_family_marker_prevents_cross_family_skip(spark, sf_dir, tmp_path):
    """r10 review finding: the params marker records WHICH artifact
    family finished.  A root built by ann_ivf_serve (coarse only) must
    NOT satisfy ann_ivfpq_serve's guard — the PQ call rebuilds the full
    composite instead of crashing on missing pq_codes — while an ivfpq
    root (superset layout) serves both families warm."""
    from dbdiff_spark import fs
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "shared_root")
    ivf_rows = sorted(map(tuple, sim.ann_ivf_serve(spark, sf_dir, index_root=root).collect()))
    assert not fs.exists(spark, f"{root}/pq_codes")
    # PQ request on the coarse-only root: rebuilds (no crash), full layout
    pq_rows = sorted(map(tuple, sim.ann_ivfpq_serve(spark, sf_dir, index_root=root).collect()))
    assert pq_rows and fs.exists(spark, f"{root}/pq_codes")
    # now the root is family=ivfpq — the coarse request serves warm
    # from the superset layout and returns the same rows as before
    ivf_again = sorted(map(tuple, sim.ann_ivf_serve(spark, sf_dir, index_root=root).collect()))
    assert ivf_again == ivf_rows


def test_filtered_ann_prefilters_by_query_label(spark, sf_dir):
    """ann_ivf_filtered returns only neighbors sharing the query's own
    label, and — the pre-filter guarantee — never fewer matches per
    query than post-filtering the unfiltered top-k would (the classic
    post-filter recall trap: filter-after-rank can drop below k even
    when k matches exist in the probed cells)."""
    from collections import Counter

    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops.similarity import ann_ivf_filtered, ann_ivf_trained

    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    pre = ann_ivf_filtered(spark, sf_dir).collect()
    assert pre
    for r in pre:
        assert labels[r.neighbor_id] == labels[r.query_id], (
            r.query_id, r.neighbor_id,
        )
        assert r.neighbor_id != r.query_id
    pre_counts = Counter(r.query_id for r in pre)
    # post-filter the unfiltered trained top-k (same derived config)
    unf = ann_ivf_trained(spark, sf_dir).collect()
    post_counts = Counter(
        r.query_id for r in unf if labels[r.neighbor_id] == labels[r.query_id]
    )
    assert set(post_counts) <= set(pre_counts)
    for q, n_post in post_counts.items():
        assert pre_counts[q] >= n_post, (q, pre_counts[q], n_post)
    # and the trap IS real on this corpus (verified: every sf0.001
    # query's unfiltered top-k carries foreign-label rows): pre-filter
    # strictly beats post-filter somewhere, or the guarantee above is
    # vacuously untested (r10 review)
    assert any(
        pre_counts[q] > post_counts.get(q, 0) for q in pre_counts
    )


def test_filtered_serve_matches_rebuild_and_skips_rebuild(spark, sf_dir, tmp_path, monkeypatch):
    """The standing-index filtered search must return EXACTLY the
    rebuild entry's rows (same deterministic derived config), carry the
    label as a persisted payload column of the cell layout, and never
    rebuild on a warm root."""
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_lab")
    served = sorted(map(tuple, sim.ann_ivf_filtered_serve(spark, sf_dir, index_root=root).collect()))
    rebuilt = sorted(map(tuple, sim.ann_ivf_filtered(spark, sf_dir).collect()))
    assert served == rebuilt and served
    # label persisted beside the vectors in the layout
    cols = spark.read.parquet(f"{root}/assignments").columns
    assert "label" in cols and "cell" in cols

    def _no_rebuild(*_a, **_k):
        raise AssertionError("warm filtered serve re-ran the build")

    monkeypatch.setattr(sim, "_kmeans_centroids", _no_rebuild)
    warm = sorted(map(tuple, sim.ann_ivf_filtered_serve(spark, sf_dir, index_root=root).collect()))
    assert warm == served


# --- tombstone DELETE / UPSERT / compaction lifecycle -------------------------


def _cell_file_census(spark, root: str) -> dict[int, int]:
    """cell -> data-file count under <root>/assignments (driver listing)."""
    from dbdiff_spark import fs

    out = {}
    for name in fs.list_dirs(spark, f"{root}/assignments"):
        if name.startswith("cell="):
            out[int(name.split("=", 1)[1])] = len(
                fs.glob(spark, f"{root}/assignments/{name}/part-*")
            )
    return out


def test_delete_serve_excludes_slice_and_redelete_is_idempotent(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Serve-after-delete never returns a tombstoned neighbor, and
    re-issuing the same delete at a later generation (the retry/replay
    case every retraction pipeline hits) leaves the served relation
    bit-identical — no rebuild, no drift."""
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_del")
    cold = sorted(map(tuple, sim.ann_ivf_delete_serve(spark, sf_dir, index_root=root).collect()))
    assert cold
    # no deleted vec_id survives as a neighbor (the slice is vec_id%5=3)
    assert all(r[1] % 5 != 3 for r in cold)
    # but SOME query would have matched a deleted vector absent the
    # tombstones, or the test is vacuous: the plain serve on a separate
    # root (same deterministic quantizer) must contain slice neighbors
    plain = sim.ann_ivf_serve(
        spark, sf_dir, index_root=str(tmp_path / "ivf_plain")
    ).collect()
    assert any(r.neighbor_id % 5 == 3 for r in plain)

    # idempotent re-delete: same ids, later gen, warm (build patched out)
    ids = sim._vectors(spark, sf_dir).filter(sim.IVF_DELETE_SLICE).select("vec_id")
    sim.ivf_delete(spark, root, ids, 2)

    def _no_rebuild(*_a, **_k):
        raise AssertionError("re-delete forced an index rebuild")

    monkeypatch.setattr(sim, "_build_ivf_coarse_artifacts", _no_rebuild)
    warm = sorted(map(tuple, sim.ann_ivf_delete_serve(spark, sf_dir, index_root=root).collect()))
    assert warm == cold


def test_ivfpq_delete_serve_excludes_slice_and_redelete_is_idempotent(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The retraction law on the COMPRESSED tier: ADC serving through
    the tombstone log never returns a deleted neighbor even though its
    pq_codes rows are still on disk (the candidate source is filtered
    BEFORE the codes join), and a replayed delete at a later gen leaves
    the served relation bit-identical without touching the fine
    artifacts."""
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivfpq_del")
    cold = sorted(map(tuple, sim.ann_ivfpq_delete_serve(spark, sf_dir, index_root=root).collect()))
    assert cold
    assert all(r[1] % 5 != 3 for r in cold)
    # non-vacuity: the dead codes rows ARE there to rejoin...
    assert spark.read.parquet(f"{root}/pq_codes").filter(
        "vec_id % 5 = 3"
    ).count() > 0
    # ...and absent tombstones the plain PQ serve returns slice
    # neighbors (default root: warm-shared across the process, so the
    # non-vacuity check costs a serve, not a build — r11 review)
    plain = sim.ann_ivfpq_serve(spark, sf_dir).collect()
    assert any(r.neighbor_id % 5 == 3 for r in plain)

    ids = sim._vectors(spark, sf_dir).filter(sim.IVF_DELETE_SLICE).select("vec_id")
    sim.ivf_delete(spark, root, ids, 2)

    def _no_rebuild(*_a, **_k):
        raise AssertionError("re-delete forced an index rebuild")

    monkeypatch.setattr(sim, "_build_ivfpq_artifacts", _no_rebuild)
    warm = sorted(map(tuple, sim.ann_ivfpq_delete_serve(spark, sf_dir, index_root=root).collect()))
    assert warm == cold


def test_ivfpq_upsert_latest_wins_and_roundtrip_restores_plain_serve(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The fine-stage re-encode: the upserted slice's NEW codes rank
    (the flip visibly moves results vs the plain composite), the
    retired gen-0 codes stay on disk but are unreachable through the
    (vec_id, gen) codes join, and upserting the ORIGINAL vectors back
    at gen 2 — replayed twice to pin dynamic-overwrite idempotency on
    BOTH artifacts — restores exactly what a never-touched composite
    serves."""
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivfpq_ups")
    flipped = sorted(map(tuple, sim.ann_ivfpq_upsert_serve(spark, sf_dir, index_root=root).collect()))
    assert flipped
    # the retired version's codes are still on disk to mis-join...
    assert spark.read.parquet(f"{root}/pq_codes").filter(
        "vec_id % 10 = 7 AND gen = 0"
    ).count() > 0
    # ...and the flip moved the served relation vs a plain composite
    # (default root — warm-shared, costs a serve not a build)
    plain = sorted(map(tuple, sim.ann_ivfpq_serve(spark, sf_dir).collect()))
    assert flipped != plain

    orig = sim._vectors(spark, sf_dir).filter(sim.IVF_UPSERT_SLICE)
    sim.ivfpq_upsert(spark, root, orig, 2)
    sim.ivfpq_upsert(spark, root, orig, 2)  # replayed batch

    def _no_rebuild(*_a, **_k):
        raise AssertionError("warm upsert-serve forced a rebuild")

    monkeypatch.setattr(sim, "_build_ivfpq_ups_artifacts", _no_rebuild)
    restored = sorted(map(tuple, sim.ann_ivfpq_upsert_serve(spark, sf_dir, index_root=root).collect()))
    assert restored == plain


def test_upsert_latest_wins_and_roundtrip_restores_plain_serve(
    spark, sf_dir, tmp_path
):
    """The (vec_id, gen) log resolves latest-wins: after upserting the
    slice BACK to its original vectors at gen 2, the standing index
    serves exactly what a never-touched index serves (same
    deterministic full-corpus quantizer), with the flipped gen-1
    version unreachable."""
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_ups")
    flipped = sorted(map(tuple, sim.ann_ivf_upsert_serve(spark, sf_dir, index_root=root).collect()))
    assert flipped
    plain = sorted(map(tuple, sim.ann_ivf_serve(
        spark, sf_dir, index_root=str(tmp_path / "ivf_plain2")
    ).collect()))
    assert flipped != plain  # the gen-1 flip visibly moved results
    # upsert the ORIGINAL vectors back at gen 2
    orig = sim._vectors(spark, sf_dir).filter(sim.IVF_UPSERT_SLICE)
    sim.ivf_upsert(spark, root, orig, 2)
    restored = sorted(map(tuple, sim.ann_ivf_upsert_serve(spark, sf_dir, index_root=root).collect()))
    assert restored == plain


def _build_appended_delete_root(spark, sf_dir, tmp_path, name: str) -> str:
    """A flat root in the state compaction exists to repair: assignments
    written as TWO appended halves (>1 file per cell), the delete slice
    tombstoned — the ann_ivf_compact_serve build, pre-compaction."""
    from dbdiff_spark.io import load_table, one_file
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / name)
    n = load_table(spark, sf_dir, "embeddings").count()
    k = sim.semdedup_cells(n)
    vecs = sim._vectors(spark, sf_dir)
    centroids = sim._kmeans_centroids(
        sim._lloyd_train_frame(vecs, sim._derived_sample_mod(n, k)), k
    )
    one_file(sim._centroid_frame(spark, centroids)).write.mode(
        "overwrite"
    ).parquet(f"{root}/centroids")
    for half_pred in ("vec_id % 2 = 0", "vec_id % 2 = 1"):
        sim._write_cell_partitioned(
            sim._assign_cells(vecs.filter(half_pred), centroids).select(
                "vec_id", "embedding", "norm", "cell"
            ),
            f"{root}/assignments",
            "append",
        )
    sim.ivf_delete(
        spark, root, vecs.filter(sim.IVF_DELETE_SLICE).select("vec_id"), 1
    )
    return root


def test_compact_collapses_cell_files_and_preserves_served_rows(
    spark, sf_dir, tmp_path
):
    """The OPTIMIZE law on the layout that actually accumulates files
    (flat append trees — ingest batches): compaction rewrites every
    over-bound cell to one file, folds the tombstone-dead rows out,
    and the served relation is unchanged."""
    from dbdiff_spark.ops import similarity as sim

    root = _build_appended_delete_root(spark, sf_dir, tmp_path, "ivf_cmp_t")
    n = sim._vectors(spark, sf_dir).count()
    k = sim.semdedup_cells(n)
    serve = lambda: sorted(  # noqa: E731 — local shorthand
        map(
            tuple,
            sim._serve_ivf_from_artifacts(
                spark, sf_dir, root, sim.ivf_nprobe_for(k),
                sim.MAX_BROADCAST_QUERIES, sim.query_mod_for(n), n,
            ).collect(),
        )
    )
    before_rows = serve()
    census = _cell_file_census(spark, root)
    assert census and any(n > 1 for n in census.values())
    n_compacted = sim.ivf_compact(spark, root, max_files_per_cell=1)
    assert n_compacted == sum(1 for v in census.values() if v > 1)
    after_census = _cell_file_census(spark, root)
    assert set(after_census) == set(census)  # no cell lost
    assert all(v == 1 for v in after_census.values())
    assert serve() == before_rows
    # dead rows physically folded out of every rewritten cell
    a = spark.read.parquet(f"{root}/assignments")
    assert a.filter(sim.IVF_DELETE_SLICE).count() == 0
    # a second compact is a no-op (already at the bound)
    assert sim.ivf_compact(spark, root, max_files_per_cell=1) == 0


def test_compact_expires_fully_retracted_cells(spark, sf_dir, tmp_path):
    """r11 review: dynamic overwrite skips empty partitions, so a cell
    whose every vector was retracted (the tenant-wipe case) must be
    DELETED by compaction, or its dead files survive and every later
    compact re-selects it forever — the convergence law is that the
    second compact is a no-op."""
    from dbdiff_spark import fs
    from dbdiff_spark.ops import similarity as sim

    root = _build_appended_delete_root(spark, sf_dir, tmp_path, "ivf_wipe")
    # retract EVERY vector of one populated cell at gen 2
    a = spark.read.parquet(f"{root}/assignments")
    victim = int(a.groupBy("cell").count().orderBy("cell").first()["cell"])
    sim.ivf_delete(
        spark, root, a.filter(F.col("cell") == victim).select("vec_id"), 2
    )
    assert sim.ivf_compact(spark, root, max_files_per_cell=1) > 0
    assert not fs.exists(spark, f"{root}/assignments/cell={victim}")
    # convergence: nothing left over the bound
    assert sim.ivf_compact(spark, root, max_files_per_cell=1) == 0


def test_compact_census_honours_tombstone_broadcast_bound(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Compaction's dead-leaf census joins the tombstone log under the
    SAME broadcast bound as serving: with the bound at 0 bytes (and
    size-based auto-broadcast off) no plan the compaction executes may
    broadcast the log — an unbounded broadcast there is the executor
    OOM the bound exists to prevent.  Plans are read from the session's
    SQL status store."""
    from dbdiff_spark.ops import similarity as sim

    root = _build_appended_delete_root(spark, sf_dir, tmp_path, "ivf_cmp_bound")
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        sc.listenerBus().waitUntilEmpty()
        listed = store.executionsList()
        return [listed.apply(i) for i in range(listed.size())]

    monkeypatch.setattr(sim, "TOMBSTONE_BROADCAST_MAX_BYTES", 0)
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        before = max((e.executionId() for e in executions()), default=-1)
        assert sim.ivf_compact(spark, root, max_files_per_cell=1) > 0
        plans = [
            e.physicalPlanDescription()
            for e in executions()
            if e.executionId() > before
        ]
    finally:
        spark.conf.set(key, prev)
    log_plans = [p for p in plans if "tombstones" in p]
    assert log_plans  # the census and the rewrite both read the log
    assert not any("Broadcast" in p for p in log_plans), next(
        p for p in log_plans if "Broadcast" in p
    )


@pytest.mark.parametrize(
    "entry", sorted(e for e, row in sim._STANDING_INDEX.items() if not row[4])
)
def test_standing_entry_warm_serve_never_rebuilds(spark, sf_dir, monkeypatch, entry):
    """Every build-once entry builds once per root: on a warm default
    root, with EVERY table row's build patched to raise, the entry
    serves the identical rows."""
    serve = getattr(sim, entry)
    cold = sorted(map(tuple, serve(spark, sf_dir).collect()))
    assert cold

    def _no_rebuild(*_a, **_k):
        raise AssertionError(f"warm {entry} call re-ran an index build")

    for _root, _family, build, _tier, _per_call in sim._STANDING_INDEX.values():
        monkeypatch.setattr(sim, build, _no_rebuild)
    warm = sorted(map(tuple, serve(spark, sf_dir).collect()))
    assert warm == cold


@pytest.mark.parametrize(
    "entry", sorted(e for e, row in sim._STANDING_INDEX.items() if row[4])
)
def test_per_call_entry_rebuilds_on_a_warm_root(
    spark, sf_dir, tmp_path, monkeypatch, entry
):
    """The converse: a per-call row rebuilds on every call, even on a
    root its own last call left complete, and serves the same rows."""
    serve = getattr(sim, entry)
    root = str(tmp_path / entry)
    cold = sorted(map(tuple, serve(spark, sf_dir, index_root=root).collect()))
    assert cold
    build = sim._STANDING_INDEX[entry][2]
    real, calls = getattr(sim, build), []

    def _counting(*a, **k):
        calls.append(a[2])
        return real(*a, **k)

    monkeypatch.setattr(sim, build, _counting)
    warm = sorted(map(tuple, serve(spark, sf_dir, index_root=root).collect()))
    assert calls == [root]
    assert warm == cold


@pytest.mark.parametrize(
    "delete_entry, entry",
    [
        ("ann_ivf_delete_serve", "ann_ivf_index_persist"),
        ("ann_ivfpq_delete_serve", "ann_ivf_pq_residual"),
    ],
)
def test_per_call_rebuild_drops_a_stale_tombstone_log(
    spark, sf_dir, tmp_path, delete_entry, entry
):
    """A per-call rebuild on a root that holds a tombstone log (left by
    a delete entry's build) must not inherit those retractions: it
    serves exactly what a fresh root serves, retracted slice included."""
    root = str(tmp_path / "shared")
    assert getattr(sim, delete_entry)(spark, sf_dir, index_root=root).collect()
    reused = sorted(
        map(tuple, getattr(sim, entry)(spark, sf_dir, index_root=root).collect())
    )
    fresh = sorted(
        map(
            tuple,
            getattr(sim, entry)(
                spark, sf_dir, index_root=str(tmp_path / "fresh")
            ).collect(),
        )
    )
    assert any(r[1] % 5 == 3 for r in fresh)  # the slice is served
    assert reused == fresh


def test_upsert_replay_same_gen_is_idempotent(spark, sf_dir, tmp_path):
    """r11 review: gen is a batch ordinal and batch ordinals REPLAY
    (foreachBatch retries).  Re-running the same upsert at the same gen
    must leave the served relation bit-identical — the gen-keyed
    dynamic overwrite rewrites its own partitions instead of appending
    a second live copy of every row."""
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_ups_replay")
    first = sorted(map(tuple, sim.ann_ivf_upsert_serve(spark, sf_dir, index_root=root).collect()))
    # replay gen 1 exactly as the build issued it
    upd = (
        sim.load_table(spark, sf_dir, "embeddings")
        .filter(sim.IVF_UPSERT_SLICE)
        .selectExpr("vec_id", f"{sim.IVF_UPSERT_SPARK} AS embedding")
        .selectExpr(
            "vec_id",
            "embedding",
            f"sqrt({sim._dot_spark('embedding', 'embedding')}) AS norm",
        )
    )
    sim.ivf_upsert(spark, root, upd, 1)
    replayed = sorted(map(tuple, sim.ann_ivf_upsert_serve(spark, sf_dir, index_root=root).collect()))
    assert replayed == first
    # and no duplicate live rows exist in the layout for the slice
    a = spark.read.parquet(f"{root}/assignments")
    dup = (
        a.filter(sim.IVF_UPSERT_SLICE)
        .filter(F.col("gen") == 1)
        .groupBy("vec_id")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert dup == 0


def test_upsert_refuses_flat_and_pq_roots(spark, sf_dir, tmp_path):
    """The two layout gates: upsert into a flat (gen-less) tree would
    mix parquet schemas in one directory, and upsert on a PQ composite
    root would leave stale codes silently ranking the old vector — both
    must be hard errors, not corruption (r11 review)."""
    import pytest

    from dbdiff_spark.ops import similarity as sim

    upd = sim._vectors(spark, sf_dir).filter(sim.IVF_UPSERT_SLICE)
    flat = str(tmp_path / "flat")
    sim.ann_ivf_serve(spark, sf_dir, index_root=flat).collect()
    with pytest.raises(ValueError, match="generation-partitioned"):
        sim.ivf_upsert(spark, flat, upd, 1)
    pq = str(tmp_path / "pqroot")
    sim.ann_ivfpq_serve(spark, sf_dir, index_root=pq).collect()
    with pytest.raises(NotImplementedError, match="re-encode"):
        sim.ivf_upsert(spark, pq, upd, 1)


def test_delete_on_ingest_root_is_honoured_by_merged_serve(
    spark, sf_dir, tmp_path
):
    """r11 review: ann_ivf_ingest's inline merged serve must route
    through the tombstone filter like every other serve path — a delete
    on an ingest root must not be served back."""
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_ing_del")
    base = sorted(map(tuple, sim.ann_ivf_ingest(spark, sf_dir, index_root=root).collect()))
    assert any(r[1] % 5 == 3 for r in base)  # slice present pre-delete
    sim.ivf_delete(
        spark,
        root,
        sim._vectors(spark, sf_dir).filter(sim.IVF_DELETE_SLICE).select("vec_id"),
        1,
    )
    # serve the merged artifacts directly (the op would rebuild)
    n = sim._vectors(spark, sf_dir).count()
    k_base = sim.semdedup_cells(
        sim._vectors(spark, sf_dir).filter(sim.IVF_BASE_SLICE).count()
    )
    out = sim._serve_ivf_from_artifacts(
        spark, sf_dir, root, sim.ivf_nprobe_for(k_base),
        sim.MAX_BROADCAST_QUERIES, sim.query_mod_for(n), n,
    ).collect()
    assert out and all(r.neighbor_id % 5 != 3 for r in out)


def test_tombstone_visibility_is_noop_without_log(spark, sf_dir, tmp_path):
    """Roots that never saw a delete serve through the identical frame
    object — the zero-log fast path costs one exists() probe, no plan
    change (the DPP pin on the plain serve path depends on this)."""
    from dbdiff_spark.ops import similarity as sim

    df = sim._vectors(spark, sf_dir)
    assert sim._tombstone_visibility(spark, str(tmp_path / "nolog"), df) is df


def test_ivfpq_filtered_serve_label_constraint_and_warm_skip(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Every served neighbor shares its query's label (the pre-filter
    guarantee on the compressed tier), the layout persists the label
    payload, and a warm root never rebuilds."""
    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivfpq_lab")
    cold = sim.ann_ivfpq_filtered_serve(spark, sf_dir, index_root=root).collect()
    assert cold
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    assert all(labels[r.query_id] == labels[r.neighbor_id] for r in cold)
    assert "label" in spark.read.parquet(f"{root}/assignments").columns

    def _no_rebuild(*_a, **_k):
        raise AssertionError("warm filtered PQ serve re-ran the build")

    monkeypatch.setattr(sim, "_build_ivfpq_lab_artifacts", _no_rebuild)
    warm = sim.ann_ivfpq_filtered_serve(spark, sf_dir, index_root=root).collect()
    assert sorted(map(tuple, warm)) == sorted(map(tuple, cold))


def test_delete_serve_keeps_dpp_through_tombstone_join(spark, sf_dir, tmp_path):
    """Retractions must not cost the layout its scale story: with a
    live tombstone log, the assignments scan still carries the DYNAMIC
    partition-pruning filter on ``cell`` (the broadcast tombstone
    anti-filter composes with DPP instead of displacing it), and the
    log side enters as a broadcast join — no corpus-side shuffle."""
    import re

    from dbdiff_spark.io import load_table
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "dpp_del")
    n = load_table(spark, sf_dir, "embeddings").count()
    k = sim.semdedup_cells(n)
    vecs = sim._vectors(spark, sf_dir)
    sim._build_ivf_coarse_artifacts(
        spark, sf_dir, root, vecs, k, sim._derived_sample_mod(n, k), n
    )
    sim.ivf_delete(
        spark, root, vecs.filter(sim.IVF_DELETE_SLICE).select("vec_id"), 1
    )
    out = sim._serve_ivf_from_artifacts(
        spark, sf_dir, root, sim.ivf_nprobe_for(k), sim.MAX_BROADCAST_QUERIES,
        query_mod=n,  # single-query batch — the pruning-visible shape
        n=n,
    )
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    pf = re.findall(r"PartitionFilters: \[([^\]]+)\]", plan)
    assert any("cell" in f and "dynamicpruning" in f for f in pf), pf
    # the tombstone log rides a broadcast join (never a shuffle of the
    # corpus-side scan); AQE prints the executed join as
    # "BroadcastHashJoin [keys], [keys], LeftOuter, BuildRight"
    assert re.search(r"BroadcastHashJoin .*LeftOuter", plan), plan[:2000]


def test_compact_expires_superseded_generation_leaves(spark, sf_dir, tmp_path):
    """r11 review (second pass): on gen-keyed layouts every leaf is one
    file by construction, so compaction selects by DEAD ROWS, not file
    count — after the upserted slice is retracted outright at gen 2,
    the all-dead gen=1 leaves must be expired, the gen=0 leaves
    rewritten without their superseded slice rows, and the served
    relation unchanged."""
    from dbdiff_spark import fs
    from dbdiff_spark.ops import similarity as sim

    root = str(tmp_path / "ivf_ups_exp")
    sim.ann_ivf_upsert_serve(spark, sf_dir, index_root=root).collect()
    ids = sim._vectors(spark, sf_dir).filter(sim.IVF_UPSERT_SLICE).select("vec_id")
    sim.ivf_delete(spark, root, ids, 2)
    before = sorted(map(tuple, sim.ann_ivf_upsert_serve(spark, sf_dir, index_root=root).collect()))
    assert all(r[1] % 10 != 7 for r in before)  # slice fully retracted
    assert sim.ivf_compact(spark, root) > 0
    # the superseded generation's leaves are gone from disk
    gen1_leaves = [
        d for d in fs.list_dirs(spark, f"{root}/assignments/gen=1")
    ] if fs.exists(spark, f"{root}/assignments/gen=1") else []
    assert gen1_leaves == []
    # no slice row survives anywhere in the layout
    a = spark.read.parquet(f"{root}/assignments")
    assert a.filter(sim.IVF_UPSERT_SLICE).count() == 0
    after = sorted(map(tuple, sim.ann_ivf_upsert_serve(spark, sf_dir, index_root=root).collect()))
    assert after == before
    # convergence
    assert sim.ivf_compact(spark, root) == 0
