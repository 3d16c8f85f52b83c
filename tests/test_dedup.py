"""Dedup-tier unit tests: large-star/small-star connected components
equal a pure-Python union-find on every graph shape — including the
long paths that defeat diameter-bound label propagation — and fail
loudly when the round budget runs out (SURVEY §7.1 M5 extension
tier)."""

import random
from collections import Counter

import pytest
from conftest import union_find_labels
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from dbdiff_spark.ops import dedup
from dbdiff_spark.ops.dedup import bigstar_components


def _sym(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    return df.unionByName(df.selectExpr("dst AS src", "src AS dst"))


def test_bigstar_chain_graph(spark):
    # a 64-node path: diameter 63, label propagation would need ~63
    # rounds — big-star must label every node with the chain minimum
    # within the default iteration budget (O(log^2 n) rounds)
    chain = _sym(spark, [(i, i + 1) for i in range(63)])
    out = bigstar_components(chain, "test").collect()
    assert len(out) == 64
    assert all(r.cluster_id == 0 for r in out)


def test_bigstar_multiple_components_and_singleton_pair(spark):
    # 40's only edge is a self-loop, in a graph that needs a round
    edges = _sym(spark, [(10, 11), (11, 12), (20, 21), (5, 30), (40, 40)])
    got = {(r.doc_id, r.cluster_id) for r in bigstar_components(edges, "test").collect()}
    assert got == {
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
        (5, 5), (30, 5),
        (40, 40),
    }


@st.composite
def cc_graphs(draw):
    """A path of ≥1000 nodes plus up to three more components (paths,
    stars, cliques, random forests, isolated pairs, lone self-loops), as
    an edge list over node ids that are either in path order or
    shuffled, with some edges repeated and some self-loops added."""
    shapes = ["path"] + draw(
        st.lists(
            st.sampled_from(["path", "star", "clique", "forest", "pair", "loop"]),
            max_size=3,
        )
    )
    edges, n = [], 0
    for i, shape in enumerate(shapes):
        if shape == "path":
            size = draw(st.integers(1000, 1300) if i == 0 else st.integers(2, 300))
            edges += [(n + j, n + j + 1) for j in range(size - 1)]
        elif shape == "star":
            size = draw(st.integers(2, 200))
            edges += [(n, n + j) for j in range(1, size)]
        elif shape == "clique":
            size = draw(st.integers(2, 20))
            edges += [(n + a, n + b) for a in range(size) for b in range(a + 1, size)]
        elif shape == "pair":
            size = 2
            edges.append((n, n + 1))
        elif shape == "loop":
            # a node whose only edge is a self-loop
            size = 1
            edges.append((n, n))
        else:
            # each node links to a random earlier node, or starts a new tree
            parents = draw(
                st.lists(st.integers(-1, 10**6), min_size=1, max_size=300)
            )
            size = len(parents) + 1
            edges += [
                (n + j, n + p % j)
                for j, p in enumerate(parents, start=1)
                if p >= 0
            ]
        n += size
    edges += [edges[j % len(edges)] for j in draw(st.lists(st.integers(0), max_size=5))]
    edges += [(v % n, v % n) for v in draw(st.lists(st.integers(0), max_size=3))]
    ids = list(range(n))
    if draw(st.booleans()):
        random.Random(draw(st.integers(0, 2**32))).shuffle(ids)
    base = draw(st.sampled_from([0, 2**40]))
    return [(base + ids[a], base + ids[b]) for a, b in edges]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(pairs=cc_graphs())
def test_bigstar_equals_union_find(spark, pairs):
    out = bigstar_components(_sym(spark, pairs), "test").collect()
    assert {r.doc_id: r.cluster_id for r in out} == union_find_labels(pairs)


def test_bigstar_raises_when_rounds_run_out(spark, monkeypatch):
    """A 1000-node path needs more than two contraction rounds: with a
    budget of two, the partial labeling must not escape."""
    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 2)
    path = _sym(spark, [(i, i + 1) for i in range(999)])
    with pytest.raises(RuntimeError, match="long_path_query.*CC_MAX_ITERS=2"):
        bigstar_components(path, "long_path_query")


def test_bigstar_stops_at_a_star_forest(spark, monkeypatch):
    """A star forest (every component a star rooted at its minimum) is
    the loop's fixpoint, read off the first grouping: with no
    contraction round allowed it still labels every node, while a
    3-node path rooted in the middle of its ids needs a round and
    raises."""
    monkeypatch.setattr(dedup, "CC_MAX_ITERS", 0)
    forest = (
        [(0, j) for j in range(1, 6)]  # a star rooted at its minimum
        + [(0, 3), (10, 11), (10, 11)]  # a repeated edge, an isolated pair
        + [(20, 20), (0, 0), (4, 4)]  # a lone self-loop, on a root, on a leaf
    )
    out = bigstar_components(_sym(spark, forest), "test").collect()
    assert {r.doc_id: r.cluster_id for r in out} == union_find_labels(forest)
    with pytest.raises(RuntimeError, match="path_query.*CC_MAX_ITERS=0"):
        bigstar_components(_sym(spark, [(0, 1), (1, 2)]), "path_query")


def test_fuzzy_part_match_blocking_and_band(spark, sf_dir):
    from dbdiff_spark.ops.dedup import FUZZY_MAX_DIST, fuzzy_part_match

    res = fuzzy_part_match(spark, sf_dir).cache()
    assert res.count() > 0
    bad = res.filter(
        "a_key >= b_key OR dist < 1 OR dist > {} OR "
        "regexp_extract(a_name, '[a-z]+$', 0) != regexp_extract(b_name, '[a-z]+$', 0)".format(
            FUZZY_MAX_DIST
        )
    )
    assert bad.count() == 0
    res.unpersist()


def test_fuzzy_band_blocking_is_lossless_and_bounds_pairs(spark, sf_dir):
    """Regression (VERDICT r2 #2): the (block, length-band) composite
    key must (a) change NOTHING about the result — banding is lossless
    because dist ≤ 2 forces |len diff| ≤ 2 < band width — and (b)
    enumerate strictly fewer candidate pairs than single-key blocking,
    which is the whole point of the second key."""
    from dbdiff_spark.ops.dedup import _fuzzy_parts, fuzzy_part_match

    parts = _fuzzy_parts(spark, sf_dir).cache()
    # naive single-key blocking (the old implementation)
    a, b = parts.alias("a"), parts.alias("b")
    naive = (
        a.join(b, "block")
        .filter("a.p_partkey < b.p_partkey")
        .selectExpr(
            "a.p_partkey AS a_key",
            "b.p_partkey AS b_key",
            "levenshtein(a.p_name, b.p_name) AS dist",
        )
        .filter("dist BETWEEN 1 AND 2")
        .select("a_key", "b_key", "dist")
    )
    banded = fuzzy_part_match(spark, sf_dir).select("a_key", "b_key", "dist")
    assert banded.exceptAll(naive).count() == 0
    assert naive.exceptAll(banded).count() == 0
    # band replication never ADDS pairs (each real pair meets exactly once)
    from pyspark.sql import functions as F

    bb = (
        parts.withColumn(
            "band", F.explode(F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1))
        )
    ).alias("b")
    naive_pairs = a.join(b, "block").filter("a.p_partkey < b.p_partkey").count()
    banded_pairs = (
        a.join(bb, ["block", "band"]).filter("a.p_partkey < b.p_partkey").count()
    )
    assert banded_pairs <= naive_pairs
    parts.unpersist()


def test_fuzzy_block_cap_bounds_enumerated_pairs(spark, sf_dir):
    """Regression (VERDICT r2 #2): per-block pair generation must be
    BOUNDED, not merely blocked — with cap K, only each block's K
    lowest-partkey members may appear in any pair, so total pairs
    ≤ blocks × C(K, 2) regardless of corpus size."""
    from pyspark.sql import functions as F

    from dbdiff_spark.ops.dedup import fuzzy_part_match

    cap = 5
    res = fuzzy_part_match(spark, sf_dir, block_cap=cap).cache()
    n_blocks = res.select("block").distinct().count()
    assert res.count() <= n_blocks * cap * (cap - 1) // 2
    # cap admits the K smallest partkeys per block: every emitted pair
    # member must be within its block's first K ranks
    from dbdiff_spark.ops.dedup import _fuzzy_parts
    from pyspark.sql import Window

    allowed = (
        _fuzzy_parts(spark, sf_dir, block_cap=cap)
        .select("p_partkey")
        .withColumn("ok", F.lit(True))
    )
    members = (
        res.selectExpr("a_key AS p_partkey")
        .unionByName(res.selectExpr("b_key AS p_partkey"))
        .distinct()
    )
    assert members.join(allowed, "p_partkey", "left_anti").count() == 0
    res.unpersist()


def test_keep_best_is_cluster_argmax(spark, sf_dir):
    # the kept doc must be the (max tokens, then min doc_id) member of
    # its cluster — checked against independently recomputed membership;
    # in particular a truncated variant never beats its own original
    from dbdiff_spark.ops.dedup import (
        NEARDUP_OFFSET,
        _neardup_corpus,
        dedup_keep_best,
        neardup_clusters,
    )

    kept = {r.cluster_id: r for r in dedup_keep_best(spark, sf_dir).collect()}
    assert len(kept) > 0
    sizes = {
        r.doc_id: r.n
        for r in _neardup_corpus(spark, sf_dir)
        .select("doc_id", F.size("tokens").alias("n"))
        .collect()
    }
    members: dict[int, list[int]] = {}
    for r in neardup_clusters(spark, sf_dir).collect():
        members.setdefault(r.cluster_id, []).append(r.doc_id)
    assert set(members) == set(kept)
    for cid, docs in members.items():
        best = min(docs, key=lambda d: (-sizes[d], d))
        r = kept[cid]
        assert (r.keep_id, r.keep_tokens, r.n_members) == (
            best,
            sizes[best],
            len(docs),
        )
        if best + NEARDUP_OFFSET in docs:  # original present → variant loses
            assert r.keep_id < NEARDUP_OFFSET


def test_repeated_spans_are_maximal_disjoint_and_wide_enough(spark, sf_dir):
    from dbdiff_spark.ops.dedup import SPAN_W, repeated_spans

    rows = repeated_spans(spark, sf_dir).collect()
    assert rows  # the synthetic corpus contains near-duplicates
    by_doc = {}
    for r in rows:
        assert r.span_end - r.span_start + 1 >= SPAN_W
        # n_windows w-grams merged => exactly that many start positions
        assert r.span_end - r.span_start + 1 == r.n_windows + SPAN_W - 1
        by_doc.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    for spans in by_doc.values():
        spans.sort()
        # maximal merge: consecutive intervals cannot touch or overlap
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            assert s2 > e1 + 1


def test_lsh_ingest_assigns_variants_to_their_originals(spark, sf_dir):
    """Truncated variants are near-dups of their originals: the ingest
    must assign (nearly) all of them, and self-ingest against one's own
    index assigns every doc to itself with ALL bands shared."""
    from pyspark.sql import functions as F

    from dbdiff_spark.ops.dedup import (
        N_BANDS,
        NEARDUP_OFFSET,
        _neardup_corpus,
        dedup_ingest_incremental,
        lsh_band_index,
        lsh_ingest,
    )

    rows = dedup_ingest_incremental(spark, sf_dir).collect()
    assert rows
    matched = [r for r in rows if r.assigned_to is not None]
    assert len(matched) / len(rows) > 0.8  # truncation keeps most minhashes
    # a variant's natural match is its own original
    hit_own = sum(1 for r in matched if r.assigned_to == r.new_doc_id - NEARDUP_OFFSET)
    assert hit_own / len(matched) > 0.8
    assert all(0 <= r.n_shared_bands <= N_BANDS for r in rows)

    old = _neardup_corpus(spark, sf_dir).filter(F.col("doc_id") < NEARDUP_OFFSET)
    self_assign = lsh_ingest(old, lsh_band_index(old)).collect()
    # every doc matches itself on all bands, so assignment can never be
    # NULL and never exceeds the doc's own id (exact duplicates in the
    # corpus legitimately assign to the SMALLER duplicate)
    assert all(
        r.assigned_to is not None
        and r.assigned_to <= r.new_doc_id
        and r.n_shared_bands == N_BANDS
        for r in self_assign
    )


def test_leakage_safe_split_never_straddles_clusters(spark, sf_dir):
    """The whole point: every near-dup cluster lands in exactly one
    split — no LSH candidate pair may straddle train/val/test — and
    every corpus doc is assigned exactly once."""
    from dbdiff_spark.ops.dedup import _split_assignments, dedup_minhash_lsh

    assigned = _split_assignments(spark, sf_dir)
    rows = assigned.collect()
    by_doc = {r.doc_id: r.split for r in rows}
    assert len(by_doc) == len(rows)  # one assignment per doc
    # no group spans two splits
    per_group = {}
    for r in rows:
        per_group.setdefault(r.group_id, set()).add(r.split)
    assert all(len(s) == 1 for s in per_group.values())
    # stronger: every candidate PAIR agrees (pairs ⊆ clusters)
    for p in dedup_minhash_lsh(spark, sf_dir).collect():
        assert by_doc[p.id_a] == by_doc[p.id_b], (p.id_a, p.id_b)
    # all three splits materialize at fixture scale
    assert {r.split for r in rows} == {"train", "val", "test"}


def test_contrastive_pairs_negatives_are_verified(spark, sf_dir):
    """Every mined triple: anchor<positive (an LSH candidate pair), the
    negative differs from both and is NOT an LSH candidate of either;
    validation drops only a small tail of the pair set."""
    from dbdiff_spark.ops.dedup import contrastive_pairs, dedup_minhash_lsh

    pair_set = {(p.id_a, p.id_b) for p in dedup_minhash_lsh(spark, sf_dir).collect()}
    triples = contrastive_pairs(spark, sf_dir).collect()
    assert len(triples) > 0.8 * len(pair_set)  # small dropped tail only
    for t in triples:
        assert (t.anchor, t.positive) in pair_set
        assert t.neg_id not in (t.anchor, t.positive)
        for side in (t.anchor, t.positive):
            lo, hi = min(side, t.neg_id), max(side, t.neg_id)
            assert (lo, hi) not in pair_set


def test_entity_resolution_transitivity_and_conservation(spark, sf_dir):
    """Entity laws: every fuzzy-pair endpoint lands in exactly one
    entity, paired records share an entity (transitivity folds chains),
    entity_id is the minimum member key, and member counts conserve."""
    from dbdiff_spark.ops.dedup import (
        ENTITY_BLOCK_CAP,
        entity_resolution_parts,
        fuzzy_part_match,
    )

    pairs = fuzzy_part_match(spark, sf_dir, block_cap=ENTITY_BLOCK_CAP).collect()
    ents = entity_resolution_parts(spark, sf_dir).collect()
    assert ents, "fixture must produce fuzzy entities"

    labels = union_find_labels((p.a_key, p.b_key) for p in pairs)
    expect = set(Counter(labels.values()).items())
    assert {(e.entity_id, e.n_members) for e in ents} == expect


def test_ingest_full_members_inherit_representative(spark, sf_dir):
    """The composed batch-ingest: planted intra-batch copies must elect
    their lower-id sibling as representative and inherit its assignment
    verbatim; representatives assign exactly as the plain probe does."""
    from pyspark.sql import functions as F

    from dbdiff_spark.ops.dedup import (
        INTRA_COPY_OFFSET,
        NEARDUP_OFFSET,
        dedup_ingest_full,
        dedup_ingest_incremental,
    )

    out = {r.new_doc_id: r for r in dedup_ingest_full(spark, sf_dir).collect()}
    plain = {
        r.new_doc_id: r for r in dedup_ingest_incremental(spark, sf_dir).collect()
    }
    n_copies = 0
    for doc_id, row in out.items():
        if doc_id >= NEARDUP_OFFSET + INTRA_COPY_OFFSET:
            sib = doc_id - INTRA_COPY_OFFSET
            # exact copy -> all bands shared -> same cluster as the
            # sibling (the cluster min may be a THIRD doc when natural
            # band collisions merge clusters — rep equality is the law,
            # not rep == sibling)
            assert row.rep_id == out[sib].rep_id <= sib
            assert (row.assigned_to, row.n_shared_bands) == (
                out[sib].assigned_to, out[sib].n_shared_bands,
            )
            n_copies += 1
    assert n_copies > 0
    # a representative's probe result equals the standalone incremental
    # probe for the same doc (the composition changes who probes, not
    # what a probe returns)
    for doc_id, row in plain.items():
        if out[doc_id].rep_id == doc_id:
            assert (out[doc_id].assigned_to, out[doc_id].n_shared_bands) == (
                row.assigned_to, row.n_shared_bands,
            ), doc_id


def test_lsh_calibration_is_monotone_and_starts_at_one_band(spark, sf_dir):
    """Calibration law: mean exact Jaccard rises monotonically with the
    minhash-agreement bucket, and no candidate has fewer than
    BAND_SIZE equal slots (a candidate shares at least one full band)."""
    from dbdiff_spark.ops.dedup import BAND_SIZE, N_HASHES, lsh_pair_calibration

    rows = sorted(
        lsh_pair_calibration(spark, sf_dir).collect(),
        key=lambda r: r.n_equal_slots,
    )
    assert rows
    assert rows[0].n_equal_slots >= BAND_SIZE
    assert rows[-1].n_equal_slots <= N_HASHES
    means = [r.mean_exact_jaccard_ppm for r in rows]
    assert means == sorted(means)
    # full agreement (8/8 slots) is dominated by true near-dups
    full = [r for r in rows if r.n_equal_slots == N_HASHES]
    assert full and full[0].mean_exact_jaccard_ppm > 500_000


def test_repeated_span_cut_keeps_one_canonical_occurrence(spark, sf_dir):
    """ExactSubstr-apply laws on the planted corpus: every truncated
    variant (doc_id ≥ NEARDUP_OFFSET, ≥ SPAN_W tokens) is a prefix of
    its lower-id original, so EVERY of its windows is repeated with a
    lower keeper — the variant is cut completely; cut + kept always
    conserves the token count; and no document is cut below zero or
    past its length."""
    from dbdiff_spark.ops.dedup import (
        NEARDUP_OFFSET,
        SPAN_W,
        repeated_span_cut,
    )

    rows = repeated_span_cut(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_cut <= r.n_tokens
        assert r.n_kept == r.n_tokens - r.n_cut
    variants = [
        r for r in rows if r.doc_id >= NEARDUP_OFFSET and r.n_tokens >= SPAN_W
    ]
    assert variants
    assert all(r.n_cut == r.n_tokens for r in variants)
    # at least one original keeps something (it is the keeper of its
    # own windows unless an even lower doc shares them)
    originals = [r for r in rows if r.doc_id < NEARDUP_OFFSET]
    assert any(r.n_kept > 0 for r in originals)


def test_bbit_estimator_matches_bit_agreement(spark, sf_dir):
    """b-bit law (Li & König): est_jaccard_ppm is the clamped unbiased
    1-bit estimator 2·(agree/N) − 1 of its bucket, buckets partition
    the same candidate pairs lsh_pair_calibration sees (pair totals
    agree), and exact Jaccard still rises with bit agreement at the
    extremes (8-agreeing-bit pairs beat the minimum-agreement bucket —
    1-bit buckets are noisy in the middle by design)."""
    from dbdiff_spark.ops.dedup import (
        N_HASHES,
        dedup_minhash_bbit,
        lsh_pair_calibration,
    )

    rows = sorted(
        dedup_minhash_bbit(spark, sf_dir).collect(),
        key=lambda r: r.n_agreeing_bits,
    )
    assert rows
    for r in rows:
        assert 0 <= r.n_agreeing_bits <= N_HASHES
        expected = max(0, 2 * r.n_agreeing_bits - N_HASHES) * 1_000_000 // N_HASHES
        assert r.est_jaccard_ppm == expected
    n_total = sum(r.n_pairs for r in rows)
    n_cal = sum(r.n_pairs for r in lsh_pair_calibration(spark, sf_dir).collect())
    assert n_total == n_cal
    if len(rows) > 1:
        assert rows[-1].n_agreeing_bits == N_HASHES
        assert (
            rows[-1].mean_exact_jaccard_ppm > rows[0].mean_exact_jaccard_ppm
        )


def test_simhash_neardup_contains_exact_groups(spark, sf_dir):
    """Radius law: every exact-fingerprint group (distance 0) must land
    inside one radius-5 cluster, and every emitted pair really is
    within the radius (re-verified against independently recomputed
    fingerprints at the same derived band width)."""
    from pyspark.sql import functions as F

    from dbdiff_spark.ops.dedup import (
        SIMHASH_RADIUS,
        _neardup_corpus,
        _simhash_frame,
        dedup_simhash_neardup,
        simhash_corpus_width,
    )

    clusters = {
        r.doc_id: r.cluster_id
        for r in dedup_simhash_neardup(spark, sf_dir).collect()
    }
    assert clusters
    _n, w = simhash_corpus_width(spark, sf_dir)
    fps = {
        r.doc_id: tuple(r.fp)
        for r in _simhash_frame(_neardup_corpus(spark, sf_dir), w).collect()
    }
    # exact groups are distance-0 neighbors: same cluster, always
    by_fp = {}
    for d, f in fps.items():
        by_fp.setdefault(f, []).append(d)
    n_groups = 0
    for members in by_fp.values():
        if len(members) > 1:
            n_groups += 1
            assert len({clusters[d] for d in members}) == 1
    assert n_groups > 0
    # clustered docs sit within the radius of SOME cluster-mate
    by_cluster = {}
    for d, c in clusters.items():
        by_cluster.setdefault(c, []).append(d)
    for members in by_cluster.values():
        assert len(members) > 1  # singletons are never emitted
        for d in members:
            assert any(
                sum(bin(a ^ b).count("1") for a, b in zip(fps[d], fps[o]))
                <= SIMHASH_RADIUS
                for o in members
                if o != d
            )


def test_hamming_band_bits_tracks_corpus_size():
    """The w ≈ ⌈log₂N⌉ derivation: shifts with corpus size, clamps at
    the floor/cap, and the DuckDB twin expression derives the IDENTICAL
    width for every N (including the off-by-one edges around powers of
    two and the n=1 degenerate count)."""
    import duckdb

    from dbdiff_spark.ops.dedup import _band_bits_duck, hamming_band_bits

    assert hamming_band_bits(1_000, 8, 16) == 10   # the sf0.01 corpus
    assert hamming_band_bits(10_000, 8, 16) == 14  # the sf0.1 corpus
    assert hamming_band_bits(100, 8, 16) == 8      # floor binds
    assert hamming_band_bits(10**6, 8, 16) == 16   # cap binds (larger N)
    # the simhash cap is 62 (r7, was 30): the law holds unclamped past
    # 10⁹ docs — the >2³⁰ regime degrades by WIDENING, not aborting.
    # 62 is the positive-BIGINT shift ceiling shared by both engines.
    from dbdiff_spark.ops.dedup import SIMHASH_BAND_BITS_MAX

    assert SIMHASH_BAND_BITS_MAX == 62
    assert hamming_band_bits(10**9, 8, 62) == 30      # 10⁹ docs: w=30
    assert hamming_band_bits(2**30 + 1, 8, 62) == 31  # past the old cap
    assert hamming_band_bits(10**10, 8, 62) == 34     # 10¹⁰ docs
    assert hamming_band_bits(10**12, 8, 62) == 40     # 10¹² docs
    assert hamming_band_bits(2**62 + 1, 8, 62) == 62  # cap binds only here
    assert hamming_band_bits(2**14, 8, 16) == 14   # exact power: 2^w ≥ N
    assert hamming_band_bits(2**14 + 1, 8, 16) == 15

    for n in (1, 2, 3, 255, 256, 257, 1_000, 16_384, 16_385, 10**9):
        got = duckdb.sql(
            f"SELECT {_band_bits_duck(f'SELECT {n}', 8, 16)}"
        ).fetchone()[0]
        assert got == hamming_band_bits(n, 8, 16), n
    # w=31+ twin equality — the r6 verdict's derivation coverage ask:
    # both engines must derive the identical width integer-exactly in
    # the beyond-10⁹ regime, all the way to the 62-bit ceiling
    for n in (2**30, 2**30 + 1, 10**10, 10**12, 2**45, 2**61, 2**62 + 1):
        got = duckdb.sql(
            f"SELECT {_band_bits_duck(f'SELECT {n}', 8, 62)}"
        ).fetchone()[0]
        assert got == hamming_band_bits(n, 8, 62), n


def test_band_load_seatbelt_trips_on_degenerate_corpus(spark):
    """The candidate-explosion guard: a corpus where one band value
    captures half the items aborts with the diagnosis BEFORE the pair
    join; a healthy corpus passes and reports the exact candidate
    count the band join will generate."""
    import pytest

    from dbdiff_spark.ops.dedup import assert_band_load

    n = 512
    schema = "doc_id long, fp array<bigint>, band_idx int, band_val long"
    degenerate = spark.createDataFrame(
        [(i, [0 if i < n // 2 else i], 0, 0 if i < n // 2 else i)
         for i in range(n)],
        schema,
    )
    with pytest.raises(ValueError, match="band self-join would generate"):
        assert_band_load(degenerate, n, "test_op", cap_per_item=8)

    healthy = spark.createDataFrame(
        [(i, [i], 0, i) for i in range(n)], schema
    )
    assert assert_band_load(healthy, n, "test_op", cap_per_item=8) == 0


def test_per_occurrence_span_cut_dominates_document_keeper(spark, sf_dir):
    """VERDICT r9 #6: the per-occurrence mode (keeper key (doc_id,
    pos), Lee et al.'s rule) must cut AT LEAST what document-keeper
    mode cuts in every document — non-keeper docs cut identically (the
    keeper occurrence lives in the min doc_id), and the keeper doc
    additionally cuts its own 2nd..nth occurrences — with conservation
    (n_cut + n_kept == n_tokens) holding in both modes."""
    from pyspark.sql import functions as F

    from dbdiff_spark.ops.dedup import (
        SPAN_W,
        _neardup_corpus,
        repeated_span_cut,
        repeated_span_cut_occ,
    )

    doc_mode = {
        r["doc_id"]: (r["n_tokens"], r["n_cut"], r["n_kept"])
        for r in repeated_span_cut(spark, sf_dir).collect()
    }
    occ_mode = {
        r["doc_id"]: (r["n_tokens"], r["n_cut"], r["n_kept"])
        for r in repeated_span_cut_occ(spark, sf_dir).collect()
    }
    assert set(doc_mode) == set(occ_mode) and doc_mode
    for d, (nt, nc, nk) in doc_mode.items():
        assert nc + nk == nt
        ont, onc, onk = occ_mode[d]
        assert ont == nt and onc + onk == ont
        assert onc >= nc, (d, onc, nc)
    # strict dominance whenever any window repeats beyond the
    # document-keeper reach (intra-doc repeats, or repeats inside the
    # keeper document) — derived from the corpus, not assumed
    spans = (
        _neardup_corpus(spark, sf_dir)
        .selectExpr(
            "doc_id",
            f"explode(CASE WHEN size(tokens) >= {SPAN_W} THEN "
            f"sequence(1, size(tokens) - {SPAN_W - 1}) ELSE array() END) AS pos",
            "tokens",
        )
        .selectExpr(
            "doc_id", f"md5(array_join(slice(tokens, pos, {SPAN_W}), ' ')) AS h"
        )
    )
    extra = (
        spans.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("nocc"),
            F.count_distinct("doc_id").alias("nd"),
        )
        .filter((F.col("nocc") >= 2) & (F.col("nocc") > F.col("nd")))
        .count()
    )
    if extra:
        assert sum(c for _t, c, _k in occ_mode.values()) > sum(
            c for _t, c, _k in doc_mode.values()
        )


def test_span_runs_cut_whole_copies_but_keep_fragment_contexts(spark):
    """The run-merged law on a planted corpus (r10 VERDICT #5): a 3·W
    repeat shared verbatim by two docs is ONE run — the copy cuts all
    3·W tokens end-to-end — while a third doc sharing only the repeat's
    middle W-window keeps it (its own maximal run's hash-chain is
    unique: it is a fragment in a different context, not a copy).  The
    fixed-W per-occurrence mode cannot express that distinction — it
    cuts the fragment too."""
    from dbdiff_spark.ops.dedup import SPAN_W, _span_runs_stats

    w = SPAN_W
    repeat = [f"r{i}" for i in range(3 * w)]  # the 3·W repeated region
    pref_a = [f"a{i}" for i in range(w)]
    pref_b = [f"b{i}" for i in range(w)]
    pref_c = [f"c{i}" for i in range(w)]
    suff_c = [f"d{i}" for i in range(w)]
    corpus = spark.createDataFrame(
        [
            (1, pref_a + repeat),               # keeper occurrence
            (2, pref_b + repeat),               # verbatim copy
            (3, pref_c + repeat[w : 2 * w] + suff_c),  # middle fragment
        ],
        "doc_id bigint, tokens array<string>",
    )
    stats = {r.doc_id: r for r in _span_runs_stats(corpus).collect()}
    assert stats[1].n_cut == 0                 # keeper keeps everything
    assert stats[2].n_cut == 3 * w             # the whole copy, one run
    assert stats[3].n_cut == 0                 # fragment-in-context kept
    for r in stats.values():
        assert r.n_kept == r.n_tokens - r.n_cut
