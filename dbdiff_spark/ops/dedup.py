"""Deduplication operators: exact, MinHash+LSH near-dup, SimHash, and
exact n-gram Jaccard verification — the scale path for training-data
cleanup (BASELINE.json north star).

Architecture (100 TB posture):

* Signatures (minhash / simhash / fingerprints) are per-row projections
  over higher-order array expressions — JVM codegen, no Python, no
  shuffle, linear scan.  At cluster scale this stage is embarrassingly
  parallel over input splits.
* Candidate generation shuffles only (band_key → doc ids) — the classic
  LSH band trick: documents agreeing on any band of the signature land in
  the same reducer.  Band keys are md5s, so the shuffle is uniformly
  distributed by construction; hot buckets (boilerplate texts) are the
  one skew risk and AQE skew-join handles the join stage.
* Exact-Jaccard verification touches only candidate pairs (output of the
  band join), never the n² document space.

The demo corpus doubles the ``documents`` table with deterministic
variants (exact copies / tail-truncated copies at shifted doc_ids) so
dedup finds real structure; both engines build the identical corpus.

Cross-engine exactness: md5 everywhere (identical hex in both engines);
set sizes only (order-sensitive list outputs avoided); lexicographic min
over hex strings is the minhash order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbdiff_spark.io import cut_lineage, load_table, spread, with_variants
from dbdiff_spark.ops.text import (
    _D_TOKENS,
    _SPLIT_CASE,
    _TOKENS,
    shingles_expr_duck,
    shingles_expr_spark,
    split_bucket_duck,
    split_bucket_spark,
)

N_HASHES = 8
BAND_SIZE = 2  # 4 bands of 2 → catches pairs with Jaccard ≳ 0.5
N_BANDS = N_HASHES // BAND_SIZE

EXACT_COPY_OFFSET = 2_000_000
NEARDUP_OFFSET = 1_000_000
TRUNCATE_TOKENS = 10


# --- corpus builders (shared construction) ---------------------------------


def _exact_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return with_variants(docs, {"doc_id": f"doc_id + {EXACT_COPY_OFFSET}"})


_EXACT_CORPUS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {EXACT_COPY_OFFSET} AS doc_id, text FROM documents
"""


def _neardup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Original docs plus tail-truncated variants (drop the last 10
    tokens) — near-duplicates by construction.

    Emits ``doc_id, tokens`` (not text): the truncated variant is an
    array slice of the original's token array.  Equivalent to
    re-tokenizing the re-joined text — tokens match ``[a-z0-9]+`` so
    they contain no separators and round-trip through a space join.
    The regexp tokenization, the single most expensive scalar in the
    pipeline, runs ONCE per original document because both rows come
    out of one Generate over the tokenized frame (``with_variants``):
    the scan, the spread exchange and the regexp sit below it once,
    where a self-union of the tokenized frame would re-plan all three
    per branch."""
    docs = spread(
        load_table(spark, sf_dir, "documents"), spark, "doc_id"
    ).selectExpr("doc_id", f"{_TOKENS} AS tokens")
    return with_variants(
        docs,
        {
            "doc_id": f"doc_id + {NEARDUP_OFFSET}",
            "tokens": f"slice(tokens, 1, greatest(1, size(tokens) - {TRUNCATE_TOKENS}))",
        },
    )


_NEARDUP_CORPUS_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {NEARDUP_OFFSET} AS doc_id,
       array_to_string({_D_TOKENS}[1:greatest(1, len({_D_TOKENS}) - {TRUNCATE_TOKENS})], ' ') AS text
FROM documents
"""


# --- exact dedup ------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text) — one shuffle on a
    uniformly distributed key; map-side partial aggregation does the
    heavy lifting at scale."""
    corpus = _exact_corpus(spark, sf_dir)
    return (
        corpus.groupBy(F.md5(F.col("text").cast("binary")).alias("text_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


DEDUP_EXACT_SQL = f"""
SELECT md5(text) AS text_hash, count(*) AS n_copies, min(doc_id) AS keep_id
FROM ({_EXACT_CORPUS_SQL})
GROUP BY md5(text)
HAVING count(*) > 1
"""


# --- MinHash + LSH ----------------------------------------------------------
#
# Hash-budget design: TWO md5 passes over the shingle array per document
# (not one per hash function).  Each md5 yields 32 hex chars = four
# independent 8-hex-char slices; minhash_s = lexicographic min of slice s
# over the shingle set.  The pipeline is staged through explicit
# projections (tokens → shingles → hash arrays → signatures) so Catalyst
# never re-inlines the expensive regexp/md5 work — collapsing these
# stages was a 20× slowdown at sf0.1.

_SLICE_W = 8  # hex chars per minhash slice; 4 slices per md5


def _minhash_select_duck() -> list[str]:
    out = []
    for s in range(N_HASHES):
        arr = "hs1" if s < 4 else "hs2"
        start = _SLICE_W * (s % 4) + 1
        out.append(
            f"list_min(list_transform({arr}, h -> substr(h, {start}, {_SLICE_W}))) AS h{s}"
        )
    return out


def _signatures_spark(corpus: DataFrame) -> DataFrame:
    """Explode-based signature computation over a ``doc_id, tokens``
    corpus: md5 over exploded shingles is whole-stage-codegen'd
    (higher-order ``transform`` lambdas are interpreted per element —
    measurably slower), and the per-doc min is a partially-aggregated
    groupBy, so the shuffle carries one row per (doc, slice-mins) after
    map-side combine."""
    exploded = (
        corpus.selectExpr("doc_id", f"explode({shingles_expr_spark('tokens')}) AS shingle")
        .selectExpr(
            "doc_id",
            "md5(shingle) AS m1",
            "md5(concat('x', shingle)) AS m2",
        )
    )
    aggs = []
    for s in range(N_HASHES):
        src = "m1" if s < 4 else "m2"
        start = _SLICE_W * (s % 4) + 1
        aggs.append(
            F.min(F.expr(f"substr({src}, {start}, {_SLICE_W})")).alias(f"h{s}")
        )
    return exploded.groupBy("doc_id").agg(*aggs)


def _signatures_sql(corpus_sql: str) -> str:
    return f"""
corpus AS ({corpus_sql}),
tok AS (SELECT doc_id, {_D_TOKENS} AS tokens FROM corpus),
sh AS (SELECT doc_id, {shingles_expr_duck('tokens')} AS shingles FROM tok),
hs AS (
  SELECT doc_id,
         list_transform(shingles, x -> md5(x)) AS hs1,
         list_transform(shingles, x -> md5(concat('x', x))) AS hs2
  FROM sh
),
sigs AS (SELECT doc_id, {', '.join(_minhash_select_duck())} FROM hs)"""


def _band_exprs(prefix: str = "") -> list[str]:
    out = []
    for b in range(N_BANDS):
        hs = [f"h{b * BAND_SIZE + i}" for i in range(BAND_SIZE)]
        out.append(f"md5(concat({', '.join(hs)}))")
    return out


def _lsh_pairs(corpus: DataFrame) -> DataFrame:
    """Candidate pairs over a ``doc_id, tokens`` corpus: signature
    projection (no shuffle) → band explode (narrow) → self-join on the
    band key (ONE shuffle) → distinct pairs."""
    sigs = _signatures_spark(corpus)
    band_structs = ", ".join(
        f"struct({b} AS band_idx, {expr} AS band_key)"
        for b, expr in enumerate(_band_exprs())
    )
    banded = sigs.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS band"
    ).select("doc_id", "band.band_idx", "band.band_key")
    left = banded.alias("x")
    right = banded.alias("y")
    pairs = (
        left.join(
            right,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
    )
    return pairs


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs over the near-dup corpus (the
    ``_lsh_pairs`` shape applied to originals + truncated variants)."""
    return _lsh_pairs(_neardup_corpus(spark, sf_dir))


def _candidate_pair_ctes() -> str:
    """The banded/cpairs CTE block over an in-scope ``sigs`` relation —
    the ONE spelling of LSH candidate generation, shared by the pair
    op and both calibration oracles (a banding change must reach all
    three or the calibrations silently measure a different candidate
    set than the engine op they are compared against)."""
    banded = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, {expr} AS band_key FROM sigs"
        for b, expr in enumerate(_band_exprs())
    )
    return f"""banded AS (
  {banded}
),
cpairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM banded x JOIN banded y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
)"""


def _lsh_pairs_sql() -> str:
    return f"""
WITH {_signatures_sql(_NEARDUP_CORPUS_SQL)},
{_candidate_pair_ctes()}
SELECT id_a, id_b FROM cpairs
"""


DEDUP_MINHASH_SQL = _lsh_pairs_sql()


# --- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 16


def _simhash_bits_duck() -> str:
    bits = [
        f"CASE WHEN 2 * len(list_filter(hs, h -> strpos('89abcdef', substr(h, {j + 1}, 1)) > 0)) "
        f"> len(hs) THEN '1' ELSE '0' END"
        for j in range(SIMHASH_BITS)
    ]
    return f"concat({', '.join(bits)})"


def _hex_chunk_exprs(stream_col_for: "Callable[[int], str]", n_bits: int) -> list[str]:
    """32-bit integer chunks of the md5-hex bit-vote streams — only the
    chunks bits 0..n_bits-1 actually read.  Bit j reads hex char
    ``j%32 + 1`` of stream ``j//32``; chunk ``c{s}_{k}`` holds that
    stream's hex chars 8k+1..8k+8 as one BIGINT (conv base 16), so the
    per-bit vote becomes a shift-and-mask instead of a per-bit
    ``substr`` + ``instr`` string scan (r13: the 6w-bit fingerprint
    paid ~84 single-char string probes per token row — the dominant
    per-row cost of the fingerprint stage; 11 ``conv`` parses replace
    them and the aggregates go pure-integer)."""
    out = []
    for s in range((n_bits + 31) // 32):
        stream_bits = min(32, n_bits - 32 * s)
        for k in range((stream_bits + 7) // 8):
            out.append(
                f"CAST(conv(substr({stream_col_for(s)}, {8 * k + 1}, 8), 16, 10)"
                f" AS BIGINT) AS c{s}_{k}"
            )
    return out


def _hex_bit_vote(j: int) -> str:
    """The bit-j vote indicator over the chunk columns: hex digit ≥ 8
    ⟺ bit 3 of the 4-bit nibble — nibble ``q%8`` (from the left) of
    chunk ``c{j//32}_{(j%32)//8}``.  NULL-safe exactly like the old
    ``instr(substr(NULL))`` spelling: a zero-token doc's chunk is NULL
    and the vote contributes nothing."""
    s, q = j // 32, j % 32
    k, c = q // 8, q % 8
    shift = (7 - c) * 4 + 3
    return f"(c{s}_{k} >> {shift}) & 1"


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup groups: 16-bit majority-vote fingerprint over the
    token multiset; docs sharing a fingerprint are near-dup candidates.

    Explode-shaped like the minhash signatures: per-token md5 + 16 bit
    indicators run as codegen'd conditional counts with map-side combine
    (the prior ``transform``/``filter`` formulation walked the hashed
    token array 16× through interpreted lambdas — ~3k interpreted array
    ops per doc).  The extra doc_id aggregation shuffles one 17-long row
    per doc — noise next to the saved CPU.  ``explode_outer`` keeps
    zero-token docs (md5(NULL) counts nothing), which fingerprint as
    all-zeros exactly as the array formulation did.

    Deliberately NOT the ``_hex_chunk_exprs`` conv packing the wide
    ``_simhash_frame`` uses (r13 A/B): at 16 bits the two conv parses
    cost more than 16 single-char probes save (0.63 → 0.75 s measured
    quiet), while at the 84-bit derived fingerprint conv wins its
    stage 1.34 → 0.90 s — the crossover sits well above 16 bits."""
    corpus = _neardup_corpus(spark, sf_dir)
    ex = corpus.selectExpr("doc_id", "explode_outer(tokens) AS t").selectExpr(
        "doc_id", "md5(t) AS h"
    )
    aggs = [F.count(F.col("h")).alias("n")] + [
        F.count_if(
            F.expr(f"instr('89abcdef', substr(h, {j + 1}, 1)) > 0")
        ).alias(f"b{j}")
        for j in range(SIMHASH_BITS)
    ]
    bits = ", ".join(
        f"CASE WHEN 2 * b{j} > n THEN '1' ELSE '0' END"
        for j in range(SIMHASH_BITS)
    )
    fp = ex.groupBy("doc_id").agg(*aggs).selectExpr(
        "doc_id", f"concat({bits}) AS simhash"
    )
    return (
        fp.groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_docs") > 1)
    )


DEDUP_SIMHASH_SQL = f"""
SELECT simhash, count(*) AS n_docs, min(doc_id) AS keep_id
FROM (
  SELECT doc_id, {_simhash_bits_duck()} AS simhash
  FROM (
    SELECT doc_id, list_transform({_D_TOKENS}, x -> md5(x)) AS hs
    FROM ({_NEARDUP_CORPUS_SQL})
  )
)
GROUP BY simhash
HAVING count(*) > 1
"""


# --- hamming-radius SimHash --------------------------------------------------
#
# ``dedup_simhash`` groups on EXACT fingerprint equality; SimHash's
# whole point is that near-duplicates land a FEW bits apart, so the
# radius form is the one production uses.  Same machinery as the
# perceptual dhash near-dup (ops/multimodal.py): band the fingerprint
# into LSH bands (hamming ≤ r over r+1 bands leaves one band clean —
# complete candidate generation by pigeonhole), verify candidates with
# a per-band popcount sum (the bands tile the fingerprint, so
# Σ_b bit_count(band_a ^ band_b) IS the hamming distance), cluster via
# the shared big-star CC.
#
# SIZING — band width AND fingerprint width are derived from the
# corpus count at call time, not compile-time constants.  The
# probe-pinned law (tools/probe_dhash_scale.py): a band self-join over
# B bands of w bits generates ≈ N²·B/2^(w+1) candidate pairs even for
# uniform fingerprints, so w must track log₂(N) — w = ⌈log₂N⌉ keeps
# candidates ≈ N·B/2.  Completeness at radius r needs B ≥ r+1 bands,
# so the fingerprint carries H = (r+1)·⌈log₂N⌉ bits: it GROWS with the
# corpus (N=10³ → 60 bits, N=10⁶ → 120 bits, N=10⁹ → 180).  Both
# engines re-derive the identical w from their own corpus count (the
# SemDeDup K ≈ √n pattern, similarity.py), so the oracle stays
# hash-exact at every scale.  The fingerprint is an ARRAY of 6 band
# values — each ≤ 2^w ≤ 2⁶², always a positive BIGINT in both engines
# — never one packed word, which would cap H itself at 62 bits.
#
# Width floor/cap: 8 ≤ w ≤ 62 — the law w = ⌈log₂N⌉ holds unclamped to
# N = 2⁶² docs (the cap is the engines' positive-BIGINT shift ceiling,
# not a scale limit; see SIMHASH_BAND_BITS_MAX).  Bit votes come from
# a DERIVED number of md5 hex streams (one per 32 bits, stream s =
# md5(chr(97+s)||token)), so bench-scale corpora pay for only 2-3
# streams while a 10⁹-doc run materializes six; the DuckDB twin
# generates stream rows only up to ⌈6w/32⌉, keeping its md5 cost
# proportional too.  At 16 bits a
# radius-3 ball holds 697/65536 codes, so a SINGLE-band 16-bit
# fingerprint is degenerate at N=10⁴ (measured: ~100 random
# neighbors/doc, the oracle closure never finished) — width lives in
# the BAND, completeness in the band COUNT.
#
# Candidate-explosion seatbelt: before the pair join runs, one cheap
# aggregation computes the EXACT candidate count the band join will
# generate (Σ C(k,2) over band buckets) and aborts with a clear error
# when it exceeds CANDIDATE_CAP_PER_ITEM·N — the signature of a
# degenerate corpus (one band value capturing half the docs) that
# would otherwise quietly go quadratic.

SIMHASH_RADIUS = 5
SIMHASH_N_BANDS = 6  # radius+1 bands → pigeonhole completeness
SIMHASH_BAND_BITS_MIN = 8
# w = ⌈log₂N⌉ holds UNCLAMPED to N = 2⁶² docs — far beyond any corpus —
# so the >10⁹-doc regime degrades by WIDENING (6×62 = 372 bits = twelve
# md5 streams) instead of seatbelt-aborting at a fixed width (the r6
# cap was 30).  62 is the engine-exactness ceiling, not a modeling
# choice: each band value must stay a positive BIGINT in BOTH engines
# (DuckDB rejects 1<<63), which caps the per-band shift at bit 61.
# Streams are derived from the bit count (one md5 per 32 bits, prefix
# chr(97+s)), so bench-scale corpora still pay for only 2-3 streams and
# a 10⁹-doc run six; the derivation law is probe-pinned per width
# (tools/probe_dhash_scale.py --synthetic-derivation).
SIMHASH_BAND_BITS_MAX = 62
# Seatbelt cap, per item.  Tuned-uniform load is ≈ B/2 candidates/item,
# but real corpora carry legitimate duplicate structure: this fixture's
# template-generated documents measure 133/item at sf0.01 (w=10) and
# 364/item at sf0.1 (w=14) — dense but LINEAR in N.  1024 leaves that
# regime room while still tripping the quadratic failures the guard is
# for: one band value capturing half the corpus costs ≥ N/8 per item
# (trips for any N ≥ 8192), and a width cap left far below log₂N at
# production scale (e.g. w=16 at N=10⁹ → 45k/item) aborts loudly
# instead of melting the shuffle.
CANDIDATE_CAP_PER_ITEM = 1024


def hamming_band_bits(n_items: int, lo: int, hi: int) -> int:
    """Band width for hamming LSH over ``n_items``: w = ⌈log₂N⌉ clamped
    to [lo, hi] — the probe-pinned rule that keeps the band self-join's
    candidate count ≈ N·B/2 (candidates = N²·B/2^(w+1) for uniform
    fingerprints).  Integer-exact in both engines: Python
    ``(n-1).bit_length()`` ≡ DuckDB ``length(format('{:b}', n-1))`` for
    n ≥ 2 — no floating-point log that could round differently."""
    return max(lo, min(hi, max(1, int(n_items) - 1).bit_length()))


def _band_bits_duck(count_sql: str, lo: int, hi: int) -> str:
    """DuckDB twin of :func:`hamming_band_bits` as a scalar expression
    over a COUNT(*) subquery — the oracle re-derives the identical w
    from its own corpus count."""
    return (
        f"GREATEST({lo}, LEAST({hi}, length(format('{{:b}}', "
        f"GREATEST(({count_sql}) - 1, 1)))))"
    )


def assert_band_load(
    banded: DataFrame,
    n_items: int,
    op_name: str,
    cap_per_item: int = CANDIDATE_CAP_PER_ITEM,
) -> int:
    """Pre-flight guard for banded hamming self-joins: computes the
    EXACT number of candidate pairs the band join will generate —
    Σ C(k,2) over (band_idx, band_val) buckets, one map-side-combinable
    aggregation over the banded frame — and raises with a diagnosis
    when it exceeds ``cap_per_item · n_items``.  In the tuned regime
    (w ≈ log₂N) candidates sit at ≈ B/2 per item; a blowout means the
    corpus is degenerate under this fingerprint (e.g. one band value
    capturing half the items — near-black thumbnails, boilerplate
    docs) or the width cap is too low for the corpus size.  Returns
    the candidate count so callers can log it."""
    row = (
        banded.groupBy("band_idx", "band_val")
        .count()
        .agg(F.sum(F.expr("count * (count - 1) / 2")).alias("cand"))
        .collect()[0]
    )
    candidates = int(row["cand"] or 0)
    cap = cap_per_item * max(int(n_items), 1)
    if candidates > cap:
        raise ValueError(
            f"{op_name}: band self-join would generate {candidates} "
            f"candidate pairs for {n_items} items (cap {cap} = "
            f"{cap_per_item}/item). The corpus is degenerate under this "
            f"fingerprint or the band width is too narrow — widen the "
            f"bands toward w = ceil(log2(N)) or pre-filter the dominant "
            f"band buckets."
        )
    return candidates


def simhash_corpus_width(spark: SparkSession, sf_dir: str) -> tuple[int, int]:
    """(corpus size, derived band width) for the neardup corpus.  The
    count is metadata-cheap: count(*) on the bare documents scan folds
    to parquet row-group metadata, and the corpus is exactly 2× it
    (originals + truncated variants)."""
    n = 2 * load_table(spark, sf_dir, "documents").count()
    return n, hamming_band_bits(n, SIMHASH_BAND_BITS_MIN, SIMHASH_BAND_BITS_MAX)


def _simhash_frame(corpus: DataFrame, band_bits: int) -> DataFrame:
    """``(doc_id, fp)`` — the majority-vote SimHash as an array of
    ``SIMHASH_N_BANDS`` band values, each ``band_bits`` wide (total
    fingerprint 6·w bits)."""
    n_bits = SIMHASH_N_BANDS * band_bits
    # per-row: n_streams md5s, then integer chunks of the hex streams
    # (``_hex_chunk_exprs``) so the 6w bit votes aggregate as
    # shift-and-mask SUMs instead of per-bit substr+instr string
    # probes (~84 single-char scans per token row at w=14 — r13)
    ex = corpus.selectExpr("doc_id", "explode_outer(tokens) AS t").selectExpr(
        "doc_id",
        *_hex_chunk_exprs(
            lambda s: f"md5(concat('{chr(97 + s)}', t))", n_bits
        ),
    )
    aggs = [F.count(F.col("c0_0")).alias("n")] + [
        F.sum(F.expr(_hex_bit_vote(j))).alias(f"b{j}")
        for j in range(n_bits)
    ]
    band_vals = ", ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN 2 * b{b * band_bits + i} > n THEN CAST({1 << i} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END)"
            for i in range(band_bits)
        )
        + " AS BIGINT)"
        for b in range(SIMHASH_N_BANDS)
    )
    return ex.groupBy("doc_id").agg(*aggs).selectExpr(
        "doc_id", f"array({band_vals}) AS fp"
    )


def _simhash_banded(
    spark: SparkSession, sf_dir: str, band_bits: int | None = None
) -> DataFrame:
    """Lazy banded-fingerprint frame (doc_id, fp, band_idx, band_val) —
    also the plan-audit view of the op's distributed core.  Pass the
    already-derived width to avoid re-running the corpus count job."""
    if band_bits is None:
        _n, band_bits = simhash_corpus_width(spark, sf_dir)
    fp = _simhash_frame(_neardup_corpus(spark, sf_dir), band_bits)
    return fp.selectExpr(
        "doc_id", "fp", "posexplode(fp) AS (band_idx, band_val)"
    )


def dedup_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash clusters at hamming radius ≤ ``SIMHASH_RADIUS``:
    ``(doc_id, cluster_id)`` with cluster_id the component minimum.

    Band width w (and with it the 6·w-bit fingerprint) derives from
    the corpus count at call time — see the section header for the
    sizing law; the DuckDB twin re-derives the identical w from its
    own count(*).  The banded frame's lineage is cut once and
    shared by the candidate-explosion seatbelt scan and the pair join,
    so the fingerprint aggregation runs exactly once.

    Clustering is ``bigstar_components``: SimHash is a vocabulary-level
    hash, so on this template-generated corpus genuinely similar docs
    are DENSE in hamming space (sf0.1: 77k verified pairs over 7.6k
    clustered docs, mean degree ~20) and the resulting components are
    deep, which large-star/small-star contracts in O(log²) rounds.  The
    component-minimum fixpoint is algorithm-independent, so the
    recursive-closure oracle is unchanged."""
    n, w = simhash_corpus_width(spark, sf_dir)
    banded = cut_lineage(_simhash_banded(spark, sf_dir, w), eager=True)
    assert_band_load(banded, n, "dedup_simhash_neardup")
    return bigstar_components(
        _symmetric(_simhash_pairs(banded)), "dedup_simhash_neardup"
    )


def _simhash_pairs(banded: DataFrame) -> DataFrame:
    """Verified near-dup pairs from a banded-fingerprint frame: band
    self-join for candidates, per-band popcount sum (≡ full hamming
    distance, since the bands tile the fingerprint) for the verify."""
    left, right = banded.alias("x"), banded.alias("y")
    dist = " + ".join(
        f"bit_count(x.fp[{b}] ^ y.fp[{b}])" for b in range(SIMHASH_N_BANDS)
    )
    return (
        left.join(
            right,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .filter(F.expr(f"({dist}) <= {SIMHASH_RADIUS}"))
        .select(F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b"))
        .distinct()
    )


def _simhash_neardup_sql() -> str:
    w_expr = _band_bits_duck(
        f"SELECT count(*) FROM ({_NEARDUP_CORPUS_SQL})",
        SIMHASH_BAND_BITS_MIN,
        SIMHASH_BAND_BITS_MAX,
    )
    dist = " + ".join(
        f"bit_count(xor(fx.fp[{b + 1}], fy.fp[{b + 1}]))"
        for b in range(SIMHASH_N_BANDS)
    )
    return f"""
WITH RECURSIVE params AS MATERIALIZED (
  SELECT {w_expr} AS w
),
hx AS MATERIALIZED (
  -- one row per (doc, md5 stream); streams exist ONLY up to the
  -- derived width's need (⌈6w/32⌉), so the md5 work scales with w
  SELECT doc_id, s,
         list_transform({_D_TOKENS}, x -> md5(concat(chr(CAST(97 + s AS INT)), x))) AS hs,
         len({_D_TOKENS}) AS ntok
  FROM ({_NEARDUP_CORPUS_SQL}),
       (SELECT unnest(generate_series(0,
          {(SIMHASH_N_BANDS * SIMHASH_BAND_BITS_MAX + 31) // 32 - 1})) AS s) ss,
       params
  WHERE s * 32 < {SIMHASH_N_BANDS} * w
),
sbits AS MATERIALIZED (
  SELECT doc_id, j,
         CASE WHEN 2 * len(list_filter(hs,
                  h -> strpos('89abcdef', substr(h, (j % 32) + 1, 1)) > 0))
                  > ntok
              THEN 1 ELSE 0 END AS bit
  FROM (SELECT unnest(generate_series(
              0, {SIMHASH_N_BANDS} * (SELECT w FROM params) - 1)) AS j) js
  JOIN hx ON hx.s = j // 32
),
sbands AS MATERIALIZED (
  SELECT doc_id, CAST(j // w AS INT) AS band_idx,
         CAST(sum(CAST(bit AS BIGINT) << CAST(j % w AS INT)) AS BIGINT)
           AS band_val
  FROM sbits, params
  GROUP BY doc_id, j // w
),
sfps AS MATERIALIZED (
  SELECT doc_id, list(band_val ORDER BY band_idx) AS fp
  FROM sbands GROUP BY doc_id
),
pairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM sbands x
  JOIN sbands y
    ON x.band_idx = y.band_idx AND x.band_val = y.band_val
   AND x.doc_id < y.doc_id
  JOIN sfps fx ON fx.doc_id = x.doc_id
  JOIN sfps fy ON fy.doc_id = y.doc_id
  WHERE ({dist}) <= {SIMHASH_RADIUS}
),
{_CC_CLUSTERS_CTES}
SELECT doc_id, cluster_id FROM clusters
"""


# --- exact n-gram Jaccard over LSH candidates -------------------------------

JACCARD_THRESHOLD = 0.5


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified with exact 3-gram Jaccard ≥ 0.5 — the
    candidate-then-verify near-dedup pipeline end-to-end.  Only candidate
    pairs (not n²) reach the verification join."""
    corpus = _neardup_corpus(spark, sf_dir)
    shingled = corpus.selectExpr(
        "doc_id", f"array_distinct({shingles_expr_spark('tokens')}) AS shingle_set"
    )
    pairs = dedup_minhash_lsh(spark, sf_dir)
    # Explicit core-count width on the verify path (r13, the
    # _cell_spread lesson): the candidate-pair frame is byte-tiny, so
    # AQE folds the post-join partitions to ONE task and the exact
    # per-pair Jaccard — two ~500-element array_intersects per row,
    # the op's dominant compute — runs single-threaded (profiled:
    # 1.4 s of 1-task tail).  Hash on the pair key keeps retries
    # deterministic; the count derives from the session.
    pairs = pairs.repartition(
        spark.sparkContext.defaultParallelism, "id_a"
    )
    a = shingled.alias("a")
    b = shingled.alias("b")
    return (
        pairs.join(a, pairs.id_a == F.col("a.doc_id"))
        .join(b, pairs.id_b == F.col("b.doc_id"))
        .select(
            "id_a",
            "id_b",
            F.expr(
                "size(array_intersect(a.shingle_set, b.shingle_set)) / "
                "(size(a.shingle_set) + size(b.shingle_set) "
                "- size(array_intersect(a.shingle_set, b.shingle_set)))"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


NGRAM_JACCARD_SQL = f"""
WITH shingled AS (
  SELECT doc_id, list_distinct({shingles_expr_duck('tokens')}) AS shingle_set
  FROM (SELECT doc_id, {_D_TOKENS} AS tokens FROM ({_NEARDUP_CORPUS_SQL}))
),
pairs AS ({_lsh_pairs_sql()})
SELECT id_a, id_b,
       len(list_intersect(a.shingle_set, b.shingle_set))
       / (len(a.shingle_set) + len(b.shingle_set)
          - len(list_intersect(a.shingle_set, b.shingle_set))) AS jaccard
FROM pairs
JOIN shingled a ON id_a = a.doc_id
JOIN shingled b ON id_b = b.doc_id
WHERE len(list_intersect(a.shingle_set, b.shingle_set))
      / (len(a.shingle_set) + len(b.shingle_set)
         - len(list_intersect(a.shingle_set, b.shingle_set))) >= {JACCARD_THRESHOLD}
"""


# --- near-dup clustering (connected components over candidate pairs) --------

CC_MAX_ITERS = 20


def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the LSH candidate-pair graph: every doc
    that appears in a candidate pair gets a cluster id = the minimum
    doc_id reachable from it — the group assignment a dedup pipeline
    keeps one representative per.

    Large-star/small-star contraction (``bigstar_components``).  The
    result is independent of the algorithm (min over a component is
    order-free), so the DuckDB oracle computes it as a recursive
    transitive closure instead — different algorithm, same fixpoint."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    return bigstar_components(_symmetric(pairs), "neardup_clusters")


def _symmetric(pairs: DataFrame) -> DataFrame:
    """An undirected pair list (``id_a``, ``id_b``) as the symmetric
    ``(src, dst)`` edge list ``bigstar_components`` consumes."""
    return pairs.selectExpr("id_a AS src", "id_b AS dst").unionByName(
        pairs.selectExpr("id_b AS src", "id_a AS dst")
    )


# The recursive transitive-closure clustering CTEs, shared by every
# oracle that needs CC labels (NEARDUP_CLUSTERS_SQL and the
# leakage-safe split) — one definition so the closure shape can never
# de-synchronize between them.  Expects a preceding `pairs` CTE.
_CC_CLUSTERS_CTES = """edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b AS a, id_a AS b FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
clusters AS (
  SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS cluster_id
  FROM reach
  GROUP BY a
)"""

NEARDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE pairs AS ({_lsh_pairs_sql()}),
{_CC_CLUSTERS_CTES}
SELECT doc_id, cluster_id FROM clusters
"""


# --- passage-level exact dedup ----------------------------------------------
#
# Sub-document dedup: chunk every document into aligned 16-token
# passages, hash each passage, and surface passages that occur more than
# once across the corpus — the contamination / boilerplate detector that
# document-level dedup misses (a repeated paragraph inside otherwise
# distinct pages).  One explode + one map-side-combinable groupBy; the
# shuffle carries (passage_hash, doc_id) pairs only, uniformly
# distributed by md5.  Runs over the near-dup corpus so shared prefixes
# actually exist.

PASSAGE_TOKENS = 16


def passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)  # doc_id, tokens
    chunks = corpus.selectExpr(
        "doc_id",
        f"explode(transform(sequence(0, (greatest(size(tokens), 1) - 1) div {PASSAGE_TOKENS}),"
        f" i -> md5(array_join(slice(tokens, i * {PASSAGE_TOKENS} + 1, {PASSAGE_TOKENS}), ' '))))"
        " AS passage_hash",
    )
    return (
        chunks.groupBy("passage_hash")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .filter(F.col("n_occurrences") > 1)
    )


PASSAGE_DEDUP_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
toks AS (SELECT doc_id, {_D_TOKENS} AS tokens FROM corpus),
chunks AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(0, (greatest(len(tokens), 1) - 1) // {PASSAGE_TOKENS}),
                i -> md5(array_to_string(tokens[i * {PASSAGE_TOKENS} + 1 : i * {PASSAGE_TOKENS} + {PASSAGE_TOKENS}], ' '))))
         AS passage_hash
  FROM toks
)
SELECT passage_hash,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM chunks
GROUP BY passage_hash
HAVING count(*) > 1
"""


# --- connected components via large-star / small-star ------------------------
#
# The engine's one connected-components algorithm (every near-dup,
# entity and ingest clustering runs through it): Kiveris et al.,
# "Connected Components in MapReduce and Beyond" — alternating
# large-star / small-star contractions converge in O(log² n) rounds on
# ANY graph (min-label propagation needs diameter rounds, fatal on
# chain-shaped graphs).  Their fixpoint is a star forest, and
# large-star's own grouping shows one without an exchange: every node is
# a root (no smaller neighbour) or a leaf (exactly one neighbour, and it
# is smaller).  Fixpoint: every node maps to the minimum doc_id of its
# component, so every oracle is the same recursive closure
# (``_CC_CLUSTERS_CTES``).


def _star_groups(edges: DataFrame) -> DataFrame:
    """Large-star's grouping of a symmetric edge list: one row per node
    ``src`` with ``nbrs``, its distinct neighbours other than itself (a
    self-loop contributes none, so a node whose only edge is a self-loop
    keeps an empty list).  The loop's convergence test, its labels and
    large-star's projection all read this one frame."""
    return edges.groupBy("src").agg(
        F.array_remove(F.collect_set("dst"), F.col("src")).alias("nbrs")
    )


def _large_star(grouped: DataFrame) -> DataFrame:
    """Large-star's projection over ``_star_groups``: for each node u,
    connect every strictly-larger neighbor to min(N(u) ∪ {u}).  Keeps
    (big → small) edges, shrinks tall trees.

    Emits a MULTISET (r12): the old trailing ``distinct()`` paid a
    full exchange per round, yet its one consumer, ``_small_star``'s
    ``collect_set``, re-dedups anyway.  Cross-group duplicates are
    degree-bounded, so the next round's input grows by at most that
    factor while each round drops one exchange."""
    return grouped.selectExpr(
        "explode(filter(nbrs, v -> v > src)) AS src",
        "least(src, array_min(nbrs)) AS dst",
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u over (big → small) edges: connect u and all its
    smaller neighbors to the minimum among them.  Multiset out: the next
    round's ``_star_groups`` re-dedups with its ``collect_set``."""
    directed = edges.selectExpr(
        "greatest(src, dst) AS src", "least(src, dst) AS dst"
    ).filter(F.col("src") != F.col("dst"))
    grouped = directed.groupBy("src").agg(F.collect_set("dst").alias("nbrs"))
    return grouped.selectExpr(
        "explode(concat(array(src), filter(nbrs, v -> v != array_min(nbrs)))) AS src",
        "array_min(nbrs) AS dst",
    ).filter(F.col("src") != F.col("dst"))


def bigstar_components(sym_edges: DataFrame, query: str) -> DataFrame:
    """Connected components of a symmetric edge list ``(src, dst)`` via
    alternating large-star/small-star contraction.  Returns
    ``(doc_id, cluster_id)`` where cluster_id is the component minimum.

    Stops at the first star forest, which the input itself may be.
    Raises ``RuntimeError`` naming ``query`` when ``CC_MAX_ITERS``
    contraction rounds pass without reaching one — a partial
    contraction is a wrong labeling, never a result."""
    edges = sym_edges
    for rounds in range(CC_MAX_ITERS + 1):
        # the one lineage cut per round: without it the logical plan
        # doubles every contraction and the driver OOMs just
        # stringifying it by round ~6 (the classic iterative-algorithm
        # trap).  cut_lineage upgrades to reliable checkpointing
        # (executor-loss-safe) when the session has a checkpoint dir.
        grouped = cut_lineage(_star_groups(edges), eager=True)
        # a star forest when no node has both a smaller neighbour and a
        # second neighbour: then each leaf's one neighbour is a root and
        # each component is a star rooted at its minimum.  A count over
        # the materialized frame: no edge is shuffled.
        if grouped.filter("size(nbrs) > 1 AND array_min(nbrs) < src").count() == 0:
            return grouped.selectExpr(
                "src AS doc_id", "least(src, array_min(nbrs)) AS cluster_id"
            )
        if rounds == CC_MAX_ITERS:
            break
        contracted = _small_star(_large_star(grouped))
        # re-symmetrize for the next round's grouping; a node with no
        # neighbour but itself has no edge in the contraction, so it
        # carries over as its self-loop
        edges = contracted.unionByName(
            contracted.selectExpr("dst AS src", "src AS dst")
        ).unionByName(
            grouped.filter("size(nbrs) = 0").selectExpr("src", "src AS dst")
        )
    raise RuntimeError(
        f"{query}: connected components did not converge within "
        f"CC_MAX_ITERS={CC_MAX_ITERS} large-star/small-star rounds"
    )


# --- record linkage / entity resolution -------------------------------------
#
# Fuzzy matching of entity names across (or within) tables: the classic
# blocking + verification shape.  An all-pairs Levenshtein is O(n²) and
# dead at scale; instead pairs are generated only WITHIN a composite
# blocking key, then verified with the exact edit distance.
#
# The block key is (head noun, length band).  The second component is
# LOSSLESS, not a heuristic cut: Levenshtein distance lower-bounds the
# length difference, so dist ≤ FUZZY_MAX_DIST forces
# |len(a) − len(b)| ≤ FUZZY_MAX_DIST, and with band width
# W > FUZZY_MAX_DIST any surviving pair sits in the same or an adjacent
# band.  One side is replicated into its three neighboring bands and the
# join runs on full (block, band) equality — each qualifying pair meets
# on exactly one replica (at band offset a−b ∈ {−1,0,1}), so no dedup
# pass is needed and the output is bit-identical to single-key blocking.
#
# Scale shape: banding cuts the constant, but block cardinality is
# FIXED (last-word vocabulary × a handful of length bands), so
# per-block pairs still grow quadratically with data — the growth
# VERDICT r2 flagged.  The hard bound is a deterministic per-block
# candidate CAP (the bounded-posting-list pattern from
# ``ops/text.py:inverted_index``): rank block members by p_partkey with
# one ranked window and admit only the first ``FUZZY_BLOCK_CAP`` into
# pair generation.  Worst-case enumerated pairs are then
# ``blocks × C(cap, 2)`` — a constant independent of corpus size —
# instead of ``blocks × C(n/blocks, 2)``.  The cap is far above any
# bench-scale block (it engages only past ~20× sf0.1), is mirrored
# EXACTLY in the oracle SQL, and capping-before-verification is the
# standard entity-resolution recall trade, made deterministic here by
# ranking on the unique key.  Levenshtein is unit-cost DP in both
# engines → integer-exact oracle (the oracle keeps the plain single-key
# formulation for the band precisely because banding is lossless).
FUZZY_MAX_DIST = 2
FUZZY_BAND_WIDTH = 4  # must exceed FUZZY_MAX_DIST for adjacency to hold
FUZZY_BLOCK_CAP = 4096


def _fuzzy_parts(
    spark: SparkSession, sf_dir: str, block_cap: int = FUZZY_BLOCK_CAP
) -> DataFrame:
    from pyspark.sql import Window

    parts = load_table(spark, sf_dir, "part").selectExpr(
        "p_partkey",
        "p_name",
        "regexp_extract(p_name, '[a-z]+$', 0) AS block",
        f"CAST(floor(length(p_name) / {FUZZY_BAND_WIDTH}) AS INT) AS band",
    )
    rnk = F.row_number().over(
        Window.partitionBy("block").orderBy("p_partkey")
    )
    return parts.withColumn("__rnk", rnk).filter(
        F.col("__rnk") <= block_cap
    ).drop("__rnk")


def fuzzy_part_match(
    spark: SparkSession, sf_dir: str, block_cap: int = FUZZY_BLOCK_CAP
) -> DataFrame:
    """Candidate near-duplicate part-name pairs: same head noun, edit
    distance in [1, 2], keyed a < b (distance 0 — exact duplicates —
    is dedup_exact's province).  Pair generation is bounded per block
    by ``block_cap`` (lowest-partkey members admitted first)."""
    parts = _fuzzy_parts(spark, sf_dir, block_cap)
    # Pair generation is CPU-quadratic but byte-tiny: both the scan
    # planner and AQE's shuffle coalescing size by BYTES, so the capped
    # part list lands on ONE task and the whole candidate enumeration +
    # edit-distance DP serializes onto one core (measured 23 s at
    # sf0.1).  Spread the stream side across the cores (explicit
    # partition count — AQE honors it) and broadcast the replicated
    # side; pairs then enumerate in parallel everywhere.
    a = spread(parts, spark, "p_partkey").alias("a")
    b = F.broadcast(
        parts.withColumn(
            "band",
            F.explode(
                F.array(F.col("band") - 1, F.col("band"), F.col("band") + 1)
            ),
        )
    ).alias("b")
    # Two lossless cuts before/inside the DP (39.5 s → seconds at
    # sf0.1, same result set):
    # * the EXACT length filter sits in the join condition — dist ≤ d
    #   forces |len diff| ≤ d, and the band only guarantees ±(band
    #   width − 1); an integer compare prunes pairs before any DP runs;
    # * the Levenshtein itself is THRESHOLDED (3-arg form, banded DP —
    #   O(d·len) per pair instead of O(len²), returning −1 past the
    #   threshold, which the ≥ 1 filter drops with the exact pairs).
    return (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & (
                F.abs(F.length("a.p_name") - F.length("b.p_name"))
                <= FUZZY_MAX_DIST
            ),
        )
        .selectExpr(
            "a.p_partkey AS a_key",
            "b.p_partkey AS b_key",
            "a.p_name AS a_name",
            "b.p_name AS b_name",
            "a.block AS block",
            f"levenshtein(a.p_name, b.p_name, {FUZZY_MAX_DIST}) AS dist",
        )
        .filter((F.col("dist") >= 1) & (F.col("dist") <= FUZZY_MAX_DIST))
    )


def _fuzzy_match_sql(block_cap: int = FUZZY_BLOCK_CAP) -> str:
    return f"""
WITH p AS (
  SELECT p_partkey, p_name, regexp_extract(p_name, '[a-z]+$') AS block,
         row_number() OVER (PARTITION BY regexp_extract(p_name, '[a-z]+$')
                            ORDER BY p_partkey) AS rnk
  FROM part
),
c AS (SELECT p_partkey, p_name, block FROM p WHERE rnk <= {block_cap})
SELECT a.p_partkey AS a_key, b.p_partkey AS b_key,
       a.p_name AS a_name, b.p_name AS b_name,
       a.block AS block,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM c a JOIN c b ON a.block = b.block AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {FUZZY_MAX_DIST}
"""


FUZZY_MATCH_SQL = _fuzzy_match_sql()


# --- entity resolution over the fuzzy-match graph ---------------------------
#
# Record linkage's second half: the fuzzy candidate pairs above are
# only EVIDENCE; the entities are the connected components of the pair
# graph (transitivity: if A≈B and B≈C, one entity {A,B,C} even when
# dist(A,C) > the threshold).  Runs `bigstar_components` over part
# keys and reports one row per multi-member entity with its canonical
# record (the minimum partkey's name — deterministic).  Scale shape: the pair graph is
# block-capped by construction — and TIGHTER here than the pair query's
# own cap (64 vs 256): the match query surfaces candidate EVIDENCE,
# while closure cost grows with component size, so the resolution
# stage bounds its blocks harder (at sf0.1 the 256-cap graph is 2.4M
# edges in ~1250-node near-cliques — fine for one groupBy per
# contraction round, hopeless for the oracle's transitive closure).
# The name join is on the (small) entity-representative set and
# broadcasts.

ENTITY_BLOCK_CAP = 64


def _entity_sym_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = fuzzy_part_match(spark, sf_dir, block_cap=ENTITY_BLOCK_CAP)
    return _symmetric(pairs.selectExpr("a_key AS id_a", "b_key AS id_b"))


def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    entities = bigstar_components(
        _entity_sym_edges(spark, sf_dir), "entity_resolution_parts"
    ).select(
        F.col("doc_id").alias("p_partkey"), F.col("cluster_id").alias("entity_id")
    )
    names = load_table(spark, sf_dir, "part").select("p_partkey", "p_name")
    summary = entities.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        summary.join(
            F.broadcast(
                names.withColumnRenamed("p_partkey", "entity_id")
            ),
            "entity_id",
        )
        .select("entity_id", F.col("p_name").alias("canonical_name"), "n_members")
    )


ENTITY_RESOLUTION_SQL = f"""
WITH RECURSIVE pairs AS (
  SELECT a_key AS id_a, b_key AS id_b FROM ({_fuzzy_match_sql(ENTITY_BLOCK_CAP)})
),
{_CC_CLUSTERS_CTES}
SELECT cluster_id AS entity_id, p.p_name AS canonical_name,
       CAST(count(*) AS BIGINT) AS n_members
FROM clusters c JOIN part p ON p.p_partkey = c.cluster_id
GROUP BY cluster_id, p.p_name
"""


# --- representative selection (the "keep one" step) -------------------------
#
# Clustering alone doesn't dedup a corpus — the pipeline must then pick
# ONE representative per cluster and drop the rest.  Policy here: keep
# the longest member (most tokens), tie-broken by smallest doc_id, so
# truncated near-dup variants lose to their originals deterministically.
# Spark shape: min(struct(-n_tokens, doc_id)) per cluster — a single
# map-side-combinable groupBy, no window sort over the full corpus (a
# row_number() window would shuffle AND sort every member; the struct-min
# carries one 16-byte value per group through partial aggregation).  The
# oracle uses the window formulation — different algorithm, same fixpoint.


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per near-dup cluster: the representative to keep (longest member,
    then lowest doc_id) and the member count — the decision table a
    dedup pipeline applies as an anti-join against the corpus.
    Consumes the ``neardup_clusters`` labeling."""
    clusters = neardup_clusters(spark, sf_dir)
    sizes = _neardup_corpus(spark, sf_dir).select(
        "doc_id", F.size("tokens").cast("bigint").alias("n_tokens")
    )
    return (
        clusters.join(sizes, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(F.expr("named_struct('neg', -n_tokens, 'id', doc_id)")).alias("__b"),
        )
        .select(
            "cluster_id",
            F.col("__b.id").alias("keep_id"),
            (-F.col("__b.neg")).alias("keep_tokens"),
            "n_members",
        )
    )


DEDUP_KEEP_BEST_SQL = f"""
WITH clusters AS ({NEARDUP_CLUSTERS_SQL}),
sizes AS (
  SELECT doc_id, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens
  FROM ({_NEARDUP_CORPUS_SQL})
),
j AS (
  SELECT c.cluster_id, c.doc_id, s.n_tokens
  FROM clusters c JOIN sizes s USING (doc_id)
),
r AS (
  SELECT cluster_id, doc_id, n_tokens,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY n_tokens DESC, doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
  FROM j
)
SELECT cluster_id, doc_id AS keep_id, n_tokens AS keep_tokens, n_members
FROM r WHERE rn = 1
"""


# --- cross-document repeated-span extraction ---------------------------------
#
# Passage dedup hashes FIXED 16-token chunks, so a duplicated paragraph
# that straddles a chunk boundary is invisible to it.  The sliding-
# window variant (cf. Lee et al., "Deduplicating Training Data Makes
# Language Models Better" — the ExactSubstr cut list) hashes EVERY
# 8-token window, marks windows whose hash occurs in >= 2 distinct
# documents, and merges adjacent marked windows into maximal repeated
# regions: the per-document cut list an excision pass consumes.

SPAN_W = 8  # window width in tokens



def _span_frame(corpus: DataFrame) -> DataFrame:
    """``(doc_id, pos, h)`` for every SPAN_W-token window of a
    ``(doc_id, tokens)`` corpus, REPARTITIONED on the window hash.

    Every ExactSubstr op consumes this frame through PARTITION-key
    windows on ``h`` (r12): the earlier groupBy + join-back shape
    could not actually share this exchange — column pruning projected
    the keeper subtree narrower than the probe side, the two exchanges
    canonicalized unequal, and the corpus was tokenized + window-
    hashed once PER consumer (event-log profile: 2-3 concurrent
    423k-row span map stages per op at sf0.1).  A window over ``h``
    consumes the one exchange exactly once; the explicit repartition
    keeps the window's partitioning requirement satisfied here, next
    to the docstring that explains it.  The exchange carries the same
    ~50 B/window rows the old join shuffled anyway — the saved passes
    are full corpus scans."""
    spans = (
        corpus.selectExpr(
            "doc_id",
            "tokens",
            f"explode_outer(CASE WHEN size(tokens) >= {SPAN_W} THEN "
            f"sequence(1, size(tokens) - {SPAN_W - 1}) "
            "ELSE array() END) AS pos",
        )
        .filter(F.col("pos").isNotNull())
        .selectExpr(
            "doc_id",
            "pos",
            f"md5(array_join(slice(tokens, pos, {SPAN_W}), ' ')) AS h",
        )
    )
    return spans.repartition(F.col("h"))


def repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal cross-document repeated token regions per document.

    Output: ``doc_id, span_start, span_end`` (1-based token positions,
    inclusive) and ``n_windows`` (how many w-grams the region merged).

    Scale shape: the window frame carries ``(doc_id, pos, 128-bit-ish
    md5)`` — ~50 B/window regardless of document size; one shuffle on
    the hash for the distinct-doc count, one hash join back (AQE
    broadcasts the repeated-hash side when it is small — repeated
    content is the minority by volume in a healthy corpus), then the
    interval merge is a per-document window over only the MARKED
    positions.  No stage ever holds a whole document's text."""
    corpus = _neardup_corpus(spark, sf_dir)  # doc_id, tokens
    # explode WINDOW POSITIONS, then hash in a post-explode projection:
    # md5 inside a transform lambda evaluates interpreted per element
    # (the minhash-signatures lesson, module header) — as a per-row
    # expression after the explode it stays in whole-stage codegen.
    spans = _span_frame(corpus)
    from pyspark.sql import Window

    # repeated-window marking as a WINDOW over the h-partitioned spans
    # rather than a groupBy + join-back (r12, guide §2.4): the join
    # shape planned the keeper aggregate as a BROADCAST whose subtree
    # was column-pruned differently from the probe side, so the
    # "shared" span exchange canonicalized unequal and the corpus was
    # tokenized + window-hashed TWICE (event-log profile: two
    # concurrent 423k-row span map stages).  The window consumes the
    # single exchange once; same rows out (count distinct per h ≥ 2).
    wh = Window.partitionBy("h")
    hits = (
        spans.withColumn("nd", F.size(F.collect_set("doc_id").over(wh)))
        .filter(F.col("nd") >= 2)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + SPAN_W - 1).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("grp")
    )


REPEATED_SPANS_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
toks AS (SELECT doc_id, {_D_TOKENS} AS tokens FROM corpus),
spans AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(tokens[i : i + {SPAN_W - 1}], ' ')) AS h
  FROM toks, unnest(CASE WHEN len(tokens) >= {SPAN_W}
                         THEN generate_series(1, len(tokens) - {SPAN_W - 1})
                         ELSE [] END) AS u(i)
),
repeated AS (
  SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT doc_id, pos FROM spans JOIN repeated USING (h)
),
grps AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {SPAN_W - 1} AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_windows
FROM grps
GROUP BY doc_id, grp
"""


def repeated_span_cut(
    spark: SparkSession, sf_dir: str, per_occurrence: bool = False
) -> DataFrame:
    """The APPLY half of ExactSubstr dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better" — ``repeated_spans`` is
    the detection half): per document, the token positions inside
    repeated windows are CUT unless this occurrence is the window's
    KEEPER.  Two keeper granularities:

    - **Default (document-keeper)**: keeper = minimum doc_id
      containing the window hash — one canonical DOCUMENT per
      cross-document repeated window.  Deliberately coarser than Lee
      et al.'s rule on two axes: every occurrence INSIDE the keeper
      document survives, and windows repeated only WITHIN one document
      are never cut (detection requires count_distinct(doc_id) >= 2).
      The keeper set stays groupBy-sized at corpus scale.
    - **``per_occurrence=True`` (Lee et al.'s rule, r9 VERDICT #6)**:
      keeper key extends to ``(doc_id, pos)`` — exactly ONE occurrence
      of each repeated window survives corpus-wide, intra-document
      repeats included (detection becomes total occurrences >= 2).
      Cuts are therefore a superset of the default mode's per doc:
      non-keeper documents cut identically (the keeper occurrence
      lives in the min doc_id), and the keeper document now cuts its
      own 2nd..nth occurrences.

    Output: ``doc_id, n_tokens, n_cut, n_kept`` — the decision stats a
    pipeline applies as per-doc slice lists.

    Scale shape: identical to ``repeated_spans`` until the hit join
    (window frame ~50 B/window, one shuffle on the hash carrying the
    per-hash keeper, hash join back); the per-occurrence keeper is the
    same single groupBy with a min(struct) instead of min(doc_id) —
    no new shuffle class.  The only new stage in either mode is the
    hit-window → covered-position explode, a ≤SPAN_W-fold expansion of
    the MARKED windows only (repeated content is the minority by
    volume in a healthy corpus), followed by a per-doc distinct-count.
    No stage holds document text."""
    corpus = _neardup_corpus(spark, sf_dir)  # doc_id, tokens
    spans = _span_frame(corpus)
    from pyspark.sql import Window

    # keeper marking as a WINDOW over the h-partitioned spans rather
    # than a groupBy + join-back (r12 — see repeated_spans: the join
    # shape column-pruned the keeper subtree differently from the
    # probe side, defeating exchange reuse, so the corpus span pass
    # ran twice).  Identical keeper rule: min over the h-partition.
    wh = Window.partitionBy("h")
    if per_occurrence:
        # min(struct) ≡ the lexicographically first (doc_id, pos)
        # occurrence — the DuckDB twin orders by doc_id, pos
        marked = (
            spans.withColumn("nocc", F.count(F.lit(1)).over(wh))
            .withColumn("keep", F.min(F.struct("doc_id", "pos")).over(wh))
            .filter(
                (F.col("nocc") >= 2)
                & ~(
                    (F.col("doc_id") == F.col("keep.doc_id"))
                    & (F.col("pos") == F.col("keep.pos"))
                )
            )
        )
    else:
        marked = (
            spans.withColumn(
                "nd", F.size(F.collect_set("doc_id").over(wh))
            )
            .withColumn("keeper", F.min("doc_id").over(wh))
            .filter(
                (F.col("nd") >= 2) & (F.col("doc_id") != F.col("keeper"))
            )
        )
    cut_positions = marked.selectExpr(
        "doc_id",
        f"explode(sequence(pos, pos + {SPAN_W - 1})) AS tokpos",
    )
    sizes = corpus.select(
        "doc_id", F.size("tokens").cast("bigint").alias("n_tokens")
    )
    # count(DISTINCT tokpos) per doc ≡ the former distinct() +
    # count(*): one exchange (on doc_id) instead of two
    cuts = cut_positions.groupBy("doc_id").agg(
        F.count_distinct("tokpos").cast("bigint").alias("n_cut")
    )
    return (
        sizes.join(cuts, "doc_id", "left")
        .selectExpr(
            "doc_id",
            "n_tokens",
            "coalesce(n_cut, CAST(0 AS BIGINT)) AS n_cut",
            "n_tokens - coalesce(n_cut, CAST(0 AS BIGINT)) AS n_kept",
        )
    )


REPEATED_SPAN_CUT_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
toks AS (SELECT doc_id, {_D_TOKENS} AS tokens FROM corpus),
spans AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(tokens[i : i + {SPAN_W - 1}], ' ')) AS h
  FROM toks, unnest(CASE WHEN len(tokens) >= {SPAN_W}
                         THEN generate_series(1, len(tokens) - {SPAN_W - 1})
                         ELSE [] END) AS u(i)
),
keepers AS (
  SELECT h, min(doc_id) AS keeper FROM spans
  GROUP BY h HAVING count(DISTINCT doc_id) >= 2
),
cutpos AS (
  SELECT DISTINCT s.doc_id, s.pos + off AS tokpos
  FROM spans s JOIN keepers k USING (h),
       unnest(generate_series(0, {SPAN_W - 1})) AS o(off)
  WHERE s.doc_id <> k.keeper
),
cuts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut FROM cutpos GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       coalesce(c.n_cut, 0) AS n_cut,
       CAST(len(tokens) AS BIGINT) - coalesce(c.n_cut, 0) AS n_kept
FROM toks t LEFT JOIN cuts c ON t.doc_id = c.doc_id
"""


def repeated_span_cut_occ(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry spelling of the per-occurrence ExactSubstr mode (Lee
    et al.'s keeper rule, keeper key ``(doc_id, pos)``) — see
    ``repeated_span_cut``."""
    return repeated_span_cut(spark, sf_dir, per_occurrence=True)


# Lee et al.'s per-occurrence rule: rank every occurrence of a window
# hash by (doc_id, pos); rank 1 is the single corpus-wide keeper, all
# other occurrences (intra-document repeats included) are cut.
REPEATED_SPAN_CUT_OCC_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
toks AS (SELECT doc_id, {_D_TOKENS} AS tokens FROM corpus),
spans AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(tokens[i : i + {SPAN_W - 1}], ' ')) AS h
  FROM toks, unnest(CASE WHEN len(tokens) >= {SPAN_W}
                         THEN generate_series(1, len(tokens) - {SPAN_W - 1})
                         ELSE [] END) AS u(i)
),
ranked AS (
  SELECT doc_id, pos, h,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
         COUNT(*) OVER (PARTITION BY h) AS nocc
  FROM spans
),
cutpos AS (
  SELECT DISTINCT doc_id, pos + off AS tokpos
  FROM ranked, unnest(generate_series(0, {SPAN_W - 1})) AS o(off)
  WHERE nocc >= 2 AND rn > 1
),
cuts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut FROM cutpos GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       coalesce(c.n_cut, 0) AS n_cut,
       CAST(len(tokens) AS BIGINT) - coalesce(c.n_cut, 0) AS n_kept
FROM toks t LEFT JOIN cuts c ON t.doc_id = c.doc_id
"""


def _span_runs_stats(corpus: DataFrame) -> DataFrame:
    """Variable-length ExactSubstr over a ``(doc_id, tokens)`` corpus —
    the run-merged semantics behind :func:`repeated_span_runs`, split
    out so tests can plant corpora."""
    from pyspark.sql import Window

    spans = _span_frame(corpus)
    # repeated-window marking and the run-keeper rule both as WINDOWS
    # over their respective keys rather than groupBy + join-back (r12
    # — see repeated_spans): the join shape re-derived the whole span
    # pass per consumer (three concurrent 423k-row span map stages in
    # the event-log profile, the worst of the family since the keeper
    # side here re-runs spans→hits→sessionize→runs end-to-end).
    wh = Window.partitionBy("h")
    hits = (
        spans.withColumn("nocc", F.count(F.lit(1)).over(wh))
        .filter(F.col("nocc") >= 2)
        .select("doc_id", "pos", "h")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = (
        hits.withColumn("grp", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("run_start"),
            (F.max("pos") + SPAN_W - 1).alias("run_end"),
            # the hash-chain: the run's identity is the ORDERED window-
            # hash sequence (array_sort on (pos, h) structs — pos is
            # unique per doc, so the order is the positional one)
            F.expr(
                "md5(array_join(transform("
                "array_sort(collect_list(struct(pos, h))), s -> s.h), ''))"
            ).alias("chain"),
        )
        .drop("grp")
    )
    wc = Window.partitionBy("chain")
    cut_runs = (
        runs.withColumn("n_run_occ", F.count(F.lit(1)).over(wc))
        .withColumn(
            "keep", F.min(F.struct("doc_id", "run_start")).over(wc)
        )
        .filter(
            (F.col("n_run_occ") >= 2)
            & ~(
                (F.col("doc_id") == F.col("keep.doc_id"))
                & (F.col("run_start") == F.col("keep.run_start"))
            )
        )
    )
    cut_positions = cut_runs.selectExpr(
        "doc_id", "explode(sequence(run_start, run_end)) AS tokpos"
    )
    sizes = corpus.select(
        "doc_id", F.size("tokens").cast("bigint").alias("n_tokens")
    )
    # count(DISTINCT tokpos) per doc ≡ distinct() + count(*): one
    # exchange instead of two
    cuts = cut_positions.groupBy("doc_id").agg(
        F.count_distinct("tokpos").cast("bigint").alias("n_cut")
    )
    return sizes.join(cuts, "doc_id", "left").selectExpr(
        "doc_id",
        "n_tokens",
        "coalesce(n_cut, CAST(0 AS BIGINT)) AS n_cut",
        "n_tokens - coalesce(n_cut, CAST(0 AS BIGINT)) AS n_kept",
    )


def repeated_span_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr at RUN granularity — the variable-length semantics
    the fixed-W window modes approximate (r10 VERDICT #5, Lee et al.'s
    any-length-≥W repeats): overlapping window hits are first merged
    into maximal repeated RUNS (per doc, consecutive hit positions
    sessionize into one interval — a length-L repeat is ONE run of
    L−W+1 windows, not L−W+1 independent decisions), each run gets an
    identity — the md5 HASH-CHAIN of its ordered window hashes, i.e.
    the run's full content at window resolution — and the keeper rule
    then applies to whole runs: the lexicographically first
    (doc_id, run_start) occurrence of each chain survives, every other
    occurrence of that SAME maximal repeat is cut end-to-end.

    What this changes vs ``repeated_span_cut_occ``: a document that
    shares only a FRAGMENT of someone else's longer repeat (its own
    run's chain is unique in the corpus) now KEEPS it — the window
    mode cuts any repeated window regardless of context, the run mode
    cuts only verbatim copies of a maximal repeat.  Copies of whole
    repeated regions (the boilerplate/license/template case ExactSubstr
    exists for) cut identically in both.

    Output: ``doc_id, n_tokens, n_cut, n_kept`` (the siblings'
    contract).

    Scale shape: identical to ``repeated_span_cut`` through the hit
    join; the sessionize is the SAME per-doc window the detection op
    already runs (hit positions only, never text), the chain is one
    md5 over a per-run string — runs are bounded by hits — and the
    keeper groupBy moves one ~50 B row per RUN (fewer rows than the
    window mode's per-hash keeper, since runs merge windows).  No new
    shuffle class."""
    return _span_runs_stats(_neardup_corpus(spark, sf_dir))


REPEATED_SPAN_RUNS_SQL = f"""
WITH corpus AS ({_NEARDUP_CORPUS_SQL}),
toks AS (SELECT doc_id, {_D_TOKENS} AS tokens FROM corpus),
spans AS (
  SELECT doc_id, i AS pos,
         md5(array_to_string(tokens[i : i + {SPAN_W - 1}], ' ')) AS h
  FROM toks, unnest(CASE WHEN len(tokens) >= {SPAN_W}
                         THEN generate_series(1, len(tokens) - {SPAN_W - 1})
                         ELSE [] END) AS u(i)
),
repeated AS (
  SELECT h FROM spans GROUP BY h HAVING count(*) >= 2
),
hits AS (
  SELECT doc_id, pos, h FROM spans JOIN repeated USING (h)
),
grps AS (
  SELECT doc_id, pos, h,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM hits
),
runs AS (
  SELECT doc_id, min(pos) AS run_start,
         max(pos) + {SPAN_W - 1} AS run_end,
         md5(string_agg(h, '' ORDER BY pos)) AS chain
  FROM grps GROUP BY doc_id, grp
),
ranked AS (
  SELECT doc_id, run_start, run_end,
         ROW_NUMBER() OVER (PARTITION BY chain
                            ORDER BY doc_id, run_start) AS rn,
         COUNT(*) OVER (PARTITION BY chain) AS n_run_occ
  FROM runs
),
cutpos AS (
  SELECT DISTINCT doc_id, u.p AS tokpos
  FROM ranked, unnest(generate_series(run_start, run_end)) AS u(p)
  WHERE n_run_occ >= 2 AND rn > 1
),
cuts AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_cut FROM cutpos GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(len(tokens) AS BIGINT) AS n_tokens,
       coalesce(c.n_cut, 0) AS n_cut,
       CAST(len(tokens) AS BIGINT) - coalesce(c.n_cut, 0) AS n_kept
FROM toks t LEFT JOIN cuts c ON t.doc_id = c.doc_id
"""


# --- incremental dedup ingestion ---------------------------------------------
#
# The batch LSH pass recomputes every signature each run; a production
# corpus INGESTS — yesterday's band index is on disk, today's batch is
# new.  The incremental form computes signatures ONLY for the new batch
# and probes the stored index: per-ingest cost is O(batch), not
# O(corpus) — the same maintenance inversion as diff_snapshots
# (incremental=True) and mv_maintain, extended to the dedup tier.


def lsh_band_index(corpus: DataFrame) -> DataFrame:
    """The persistable LSH state: ``doc_id, band_idx, band_key`` rows.
    Write this partitioned/bucketed by band_key and every future ingest
    is a keyed probe, never a corpus rescan."""
    return _banded_from_sigs(_signatures_spark(corpus))


def lsh_ingest(new_corpus: DataFrame, band_index: DataFrame) -> DataFrame:
    """Assign a new batch against a stored band index: per new doc, the
    smallest existing doc sharing any band (NULL ⇒ no near-duplicate in
    the corpus — a fresh cluster seed) plus how many of its bands hit.

    Scale shape: signatures/bands for the BATCH only (the index side is
    a scan of stored state), one keyed join on band_key, one per-new-doc
    aggregation.  AQE broadcasts the batch side when it is small — the
    common ingest case.

    Scope: this is batch-vs-CORPUS assignment.  Duplicates WITHIN the
    arriving batch are the batch operators' job — run
    ``dedup_minhash_lsh``/``neardup_clusters`` over the (small) batch
    first, ingest the representatives, then append their bands to the
    stored index.  Splitting the two keeps each step one join."""
    new_b = lsh_band_index(new_corpus)
    hits = (
        new_b.alias("n")
        .join(
            band_index.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .groupBy(F.col("n.doc_id").alias("new_doc_id"))
        .agg(
            F.min(F.col("o.doc_id")).alias("assigned_to"),
            F.count_distinct(F.col("n.band_idx")).alias("n_shared_bands"),
        )
    )
    return (
        new_b.select(F.col("doc_id").alias("new_doc_id"))
        .distinct()
        .join(hits, "new_doc_id", "left")
        .select(
            "new_doc_id",
            "assigned_to",
            F.coalesce("n_shared_bands", F.lit(0)).cast("bigint").alias(
                "n_shared_bands"
            ),
        )
    )


def dedup_ingest_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver query: originals are the stored corpus (their band index
    stands in for the persisted state), truncated variants are the
    arriving batch — near-duplicates of their originals by
    construction, so nearly every ingested doc should assign.

    One signature pass (r12): both slices band off one checkpointed
    signature frame — the ``lsh_ingest(new, lsh_band_index(old))``
    composition ran the tokenize→shingle→md5 pipeline three times
    (the batch side's two consumers cannot share an exchange across
    the aggregate/broadcast boundary, plus the old side).  Identical
    rows: a document's signature does not depend on its slice."""
    sigs = cut_lineage(
        _signatures_spark(_neardup_corpus(spark, sf_dir)), eager=True
    )
    new_b = _banded_from_sigs(sigs.filter(F.col("doc_id") >= NEARDUP_OFFSET))
    old_b = _banded_from_sigs(sigs.filter(F.col("doc_id") < NEARDUP_OFFSET))
    hits = (
        new_b.alias("n")
        .join(
            old_b.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .groupBy(F.col("n.doc_id").alias("new_doc_id"))
        .agg(
            F.min(F.col("o.doc_id")).alias("assigned_to"),
            F.count_distinct(F.col("n.band_idx")).alias("n_shared_bands"),
        )
    )
    return (
        new_b.select(F.col("doc_id").alias("new_doc_id"))
        .distinct()
        .join(hits, "new_doc_id", "left")
        .select(
            "new_doc_id",
            "assigned_to",
            F.coalesce("n_shared_bands", F.lit(0)).cast("bigint").alias(
                "n_shared_bands"
            ),
        )
    )


def _ingest_sql() -> str:
    banded = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, {expr} AS band_key FROM sigs"
        for b, expr in enumerate(_band_exprs())
    )
    return f"""
WITH {_signatures_sql(_NEARDUP_CORPUS_SQL)},
banded AS (
  {banded}
),
new_b AS (SELECT * FROM banded WHERE doc_id >= {NEARDUP_OFFSET}),
old_b AS (SELECT * FROM banded WHERE doc_id < {NEARDUP_OFFSET}),
hits AS (
  SELECT n.doc_id AS new_doc_id,
         min(o.doc_id) AS assigned_to,
         CAST(count(DISTINCT n.band_idx) AS BIGINT) AS n_shared_bands
  FROM new_b n JOIN old_b o
    ON n.band_idx = o.band_idx AND n.band_key = o.band_key
  GROUP BY n.doc_id
)
SELECT nd.new_doc_id, h.assigned_to,
       CAST(coalesce(h.n_shared_bands, 0) AS BIGINT) AS n_shared_bands
FROM (SELECT DISTINCT doc_id AS new_doc_id FROM new_b) nd
LEFT JOIN hits h ON nd.new_doc_id = h.new_doc_id
"""


DEDUP_INGEST_SQL = _ingest_sql()


# ``lsh_ingest``'s scope note punts within-batch duplicates to "the
# batch operators, then ingest the representatives" — this is that
# composition as one operator: (1) within-batch candidate pairs (band
# self-join restricted to the batch), (2) connected components elect each
# cluster's minimum-id doc as representative, (3) ONLY representatives
# probe the stored index, (4) every batch doc inherits its
# representative's assignment.  Probing |reps| ≤ |batch| docs is the
# cost win; the fixture plants exact copies inside the batch
# (doc_id + INTRA_COPY_OFFSET) so step 1 has real clusters to collapse.

INTRA_COPY_OFFSET = 6_000_000


def _banded_from_sigs(sigs: DataFrame) -> DataFrame:
    """``(doc_id, band_idx, band_key)`` from a signature frame — the
    banding step alone, for callers that already hold (and share) the
    expensive signature pass."""
    band_structs = ", ".join(
        f"struct({b} AS band_idx, {expr} AS band_key)"
        for b, expr in enumerate(_band_exprs())
    )
    return sigs.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS band"
    ).select("doc_id", "band.band_idx", "band.band_key")


def dedup_ingest_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE signature pass (r12): the old composition ran the
    tokenize→shingle→md5→min pipeline through ``_lsh_pairs(batch)``,
    then AGAIN inside ``lsh_ingest`` for the representative probe (whose
    two consumers could not share an exchange), and a fourth time for
    ``lsh_band_index(old)`` — the signature projection is the dominant
    per-row cost of the whole op (guide §2.4: share the pass, not just
    the plan).  Signatures are now computed once over the base corpus
    and pinned; the intra-batch copies' signatures are the arriving
    docs' rows RE-KEYED (+INTRA_COPY_OFFSET) — identical tokens,
    identical signature, zero recompute.  Everything downstream (pair
    self-join, CC, representative probe, old-side index) is banding +
    joins over that one checkpointed frame.  Rows are unchanged: the
    signature of a document does not depend on which slice consumes
    it."""
    corpus = _neardup_corpus(spark, sf_dir)
    sigs = cut_lineage(_signatures_spark(corpus), eager=True)
    arriving = sigs.filter(F.col("doc_id") >= NEARDUP_OFFSET)
    batch_sigs = with_variants(
        arriving, {"doc_id": f"doc_id + {INTRA_COPY_OFFSET}"}
    )
    batch_banded = _banded_from_sigs(batch_sigs)
    # intra-batch candidate pairs → connected components
    left = batch_banded.alias("x")
    right = batch_banded.alias("y")
    intra_pairs = (
        left.join(
            right,
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("id_a"), F.col("y.doc_id").alias("id_b")
        )
        .distinct()
    )
    clusters = bigstar_components(_symmetric(intra_pairs), "dedup_ingest_full")
    assign = (
        batch_sigs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            F.col("doc_id").alias("new_doc_id"),
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("rep_id"),
        )
    )
    rep_ids = assign.select(F.col("rep_id").alias("doc_id")).distinct()
    reps_banded = batch_banded.join(rep_ids, "doc_id")
    old_banded = _banded_from_sigs(
        sigs.filter(F.col("doc_id") < NEARDUP_OFFSET)
    )
    hits = (
        reps_banded.alias("n")
        .join(
            old_banded.alias("o"),
            (F.col("n.band_idx") == F.col("o.band_idx"))
            & (F.col("n.band_key") == F.col("o.band_key")),
        )
        .groupBy(F.col("n.doc_id").alias("rep_id"))
        .agg(
            F.min(F.col("o.doc_id")).alias("assigned_to"),
            F.count_distinct(F.col("n.band_idx")).alias("n_shared_bands"),
        )
    )
    probe = (
        rep_ids.select(F.col("doc_id").alias("rep_id"))
        .join(hits, "rep_id", "left")
        .select(
            "rep_id",
            "assigned_to",
            F.coalesce("n_shared_bands", F.lit(0)).cast("bigint").alias(
                "n_shared_bands"
            ),
        )
    )
    return assign.join(probe, "rep_id").select(
        "new_doc_id", "rep_id", "assigned_to", "n_shared_bands"
    )


def _ingest_full_sql() -> str:
    corpus = f"""{_NEARDUP_CORPUS_SQL}
UNION ALL
SELECT doc_id + {INTRA_COPY_OFFSET} AS doc_id, text
FROM ({_NEARDUP_CORPUS_SQL}) WHERE doc_id >= {NEARDUP_OFFSET}"""
    banded = "\nUNION ALL\n".join(
        f"SELECT doc_id, {b} AS band_idx, {expr} AS band_key FROM sigs"
        for b, expr in enumerate(_band_exprs())
    )
    return f"""
WITH RECURSIVE {_signatures_sql(corpus)},
banded AS (
  {banded}
),
new_b AS (SELECT * FROM banded WHERE doc_id >= {NEARDUP_OFFSET}),
old_b AS (SELECT * FROM banded WHERE doc_id < {NEARDUP_OFFSET}),
pairs AS (
  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
  FROM new_b x JOIN new_b y
    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
   AND x.doc_id < y.doc_id
),
{_CC_CLUSTERS_CTES},
assign AS (
  SELECT nd.doc_id AS new_doc_id,
         coalesce(c.cluster_id, nd.doc_id) AS rep_id
  FROM (SELECT DISTINCT doc_id FROM new_b) nd
  LEFT JOIN clusters c ON nd.doc_id = c.doc_id
),
hits AS (
  SELECT n.doc_id AS rep_id, min(o.doc_id) AS assigned_to,
         CAST(count(DISTINCT n.band_idx) AS BIGINT) AS n_shared_bands
  FROM new_b n JOIN old_b o
    ON n.band_idx = o.band_idx AND n.band_key = o.band_key
  WHERE n.doc_id IN (SELECT rep_id FROM assign)
  GROUP BY n.doc_id
)
SELECT a.new_doc_id, a.rep_id, h.assigned_to,
       CAST(coalesce(h.n_shared_bands, 0) AS BIGINT) AS n_shared_bands
FROM assign a LEFT JOIN hits h ON a.rep_id = h.rep_id
"""


# --- LSH calibration: estimated vs exact Jaccard -----------------------------
#
# The dedup tier's analog of ``ann_ivf_recall_report``: every candidate
# pair's minhash agreement (0..8 equal signature slots — the quantity
# LSH thresholds on) against the EXACT shingle-set Jaccard, bucketed by
# agreement level.  E[slots equal]/8 estimates J, so mean exact Jaccard
# must rise monotonically with the bucket — the evaluation a production
# dedup runs before picking its band/row configuration.  Candidates
# guarantee one full band (2 slots) agrees, so buckets start at ≥2.
#
# Exactness: slot equality is string equality; exact Jaccard is
# |∩|·10⁶ div |∪| over DISTINCT shingle sets (Spark array_intersect /
# array_union match DuckDB list_intersect / list_distinct(concat) —
# both deduplicate); bucket means are integer-div of integer sums.
# Scale shape: pairs are the banding's bounded output; four keyed
# joins back to per-doc frames, one map-side-combinable aggregate.


def lsh_pair_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _neardup_corpus(spark, sf_dir)
    sigs = _signatures_spark(corpus)
    dsets = corpus.selectExpr(
        "doc_id",
        f"array_distinct({shingles_expr_spark('tokens')}) AS shd",
    )
    pairs = _lsh_pairs(corpus)
    siga = sigs.select(
        F.col("doc_id").alias("id_a"),
        *[F.col(f"h{s}").alias(f"ha{s}") for s in range(N_HASHES)],
    )
    sigb = sigs.select(
        F.col("doc_id").alias("id_b"),
        *[F.col(f"h{s}").alias(f"hb{s}") for s in range(N_HASHES)],
    )
    seta = dsets.select(F.col("doc_id").alias("id_a"), F.col("shd").alias("sha"))
    setb = dsets.select(F.col("doc_id").alias("id_b"), F.col("shd").alias("shb"))
    n_eq = " + ".join(
        f"(CASE WHEN ha{s} = hb{s} THEN 1 ELSE 0 END)" for s in range(N_HASHES)
    )
    scored = (
        pairs.join(siga, "id_a")
        .join(sigb, "id_b")
        .join(seta, "id_a")
        .join(setb, "id_b")
        .selectExpr(
            f"CAST(({n_eq}) AS INT) AS n_equal_slots",
            # widen BEFORE the multiply: size() is INT32 and a pair
            # sharing >2147 distinct shingles would silently wrap in
            # non-ANSI Spark, while the DuckDB twin's len() is 64-bit
            "CAST(CAST(size(array_intersect(sha, shb)) AS BIGINT) * 1000000"
            " div size(array_union(sha, shb)) AS BIGINT) AS jac_ppm",
        )
    )
    return scored.groupBy("n_equal_slots").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr("CAST(sum(jac_ppm) div count(*) AS BIGINT)").alias(
            "mean_exact_jaccard_ppm"
        ),
    )


def _pair_calibration_sql() -> str:
    n_eq = " + ".join(
        f"(CASE WHEN sa.h{s} = sb.h{s} THEN 1 ELSE 0 END)"
        for s in range(N_HASHES)
    )
    return f"""
WITH {_signatures_sql(_NEARDUP_CORPUS_SQL)},
{_candidate_pair_ctes()},
dsets AS (SELECT doc_id, list_distinct(shingles) AS shd FROM sh),
scored AS (
  SELECT CAST(({n_eq}) AS INT) AS n_equal_slots,
         CAST(len(list_intersect(da.shd, db.shd)) * 1000000
              // len(list_distinct(da.shd || db.shd)) AS BIGINT) AS jac_ppm
  FROM cpairs p
  JOIN sigs sa ON p.id_a = sa.doc_id
  JOIN sigs sb ON p.id_b = sb.doc_id
  JOIN dsets da ON p.id_a = da.doc_id
  JOIN dsets db ON p.id_b = db.doc_id
)
SELECT n_equal_slots, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_exact_jaccard_ppm
FROM scored GROUP BY n_equal_slots
"""


# --- b-bit minhash ------------------------------------------------------------
#
# Li & König, "b-Bit Minwise Hashing" (WWW 2010): store only the lowest
# b bits of each minhash value.  At b=1 the per-doc signature is
# N_HASHES BITS (one byte here) instead of N_HASHES 8-hex-char slices —
# a 64× storage cut, which at 100 TB is the difference between a
# signature matrix that fits executor memory / broadcast budgets and
# one that doesn't.  The price is estimator variance: for 1-bit hashes
# P[bit_a = bit_b] = (1 + J) / 2, so Ĵ = 2·(agree/N) − 1, and a
# disagreeing-by-chance half of unrelated pairs compresses the usable
# range.  The report quantifies exactly that trade on this corpus:
# per agreeing-bit count, the estimator's value next to the measured
# mean exact Jaccard of the candidate pairs (candidates still come
# from full-slice LSH bands — b-bit compresses the STORED signatures,
# not the band keys).


def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-bit minhash calibration over LSH candidate pairs:
    ``(n_agreeing_bits, est_jaccard_ppm, n_pairs,
    mean_exact_jaccard_ppm)``.

    The packed signature is a pure projection of the existing slice
    signatures (parity of each slice's last hex char), the pair
    agreement is one ``bit_count`` over an int XOR — the whole
    estimator runs in codegen with no extra shuffle beyond the joins
    the calibration already pays."""
    corpus = _neardup_corpus(spark, sf_dir)
    sigs = _signatures_spark(corpus)
    bbit = " + ".join(
        f"(CASE WHEN instr('13579bdf', substr(h{s}, {_SLICE_W}, 1)) > 0"
        f" THEN {1 << s} ELSE 0 END)"
        for s in range(N_HASHES)
    )
    packed = sigs.selectExpr("doc_id", f"CAST(({bbit}) AS INT) AS bsig")
    dsets = corpus.selectExpr(
        "doc_id",
        f"array_distinct({shingles_expr_spark('tokens')}) AS shd",
    )
    pairs = _lsh_pairs(corpus)
    scored = (
        pairs.join(packed.selectExpr("doc_id AS id_a", "bsig AS ba"), "id_a")
        .join(packed.selectExpr("doc_id AS id_b", "bsig AS bb"), "id_b")
        .join(dsets.selectExpr("doc_id AS id_a", "shd AS sha"), "id_a")
        .join(dsets.selectExpr("doc_id AS id_b", "shd AS shb"), "id_b")
        .selectExpr(
            f"CAST({N_HASHES} - bit_count(ba ^ bb) AS INT) AS n_agreeing_bits",
            # widen BEFORE the multiply: size() is INT32 and a pair
            # sharing >2147 distinct shingles would silently wrap in
            # non-ANSI Spark, while the DuckDB twin's len() is 64-bit
            "CAST(CAST(size(array_intersect(sha, shb)) AS BIGINT) * 1000000"
            " div size(array_union(sha, shb)) AS BIGINT) AS jac_ppm",
        )
    )
    return (
        scored.selectExpr(
            "n_agreeing_bits",
            f"CAST(greatest(0, 2 * n_agreeing_bits - {N_HASHES}) * 1000000"
            f" div {N_HASHES} AS BIGINT) AS est_jaccard_ppm",
            "jac_ppm",
        )
        .groupBy("n_agreeing_bits", "est_jaccard_ppm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr("CAST(sum(jac_ppm) div count(*) AS BIGINT)").alias(
                "mean_exact_jaccard_ppm"
            ),
        )
    )


def _bbit_calibration_sql() -> str:
    bbit = " + ".join(
        f"(CASE WHEN strpos('13579bdf', substr(h{s}, {_SLICE_W}, 1)) > 0"
        f" THEN {1 << s} ELSE 0 END)"
        for s in range(N_HASHES)
    )
    return f"""
WITH {_signatures_sql(_NEARDUP_CORPUS_SQL)},
{_candidate_pair_ctes()},
packed AS (SELECT doc_id, CAST(({bbit}) AS INT) AS bsig FROM sigs),
dsets AS (SELECT doc_id, list_distinct(shingles) AS shd FROM sh),
scored AS (
  SELECT CAST({N_HASHES} - bit_count(xor(pa.bsig, pb.bsig)) AS INT)
           AS n_agreeing_bits,
         CAST(len(list_intersect(da.shd, db.shd)) * 1000000
              // len(list_distinct(da.shd || db.shd)) AS BIGINT) AS jac_ppm
  FROM cpairs p
  JOIN packed pa ON p.id_a = pa.doc_id
  JOIN packed pb ON p.id_b = pb.doc_id
  JOIN dsets da ON p.id_a = da.doc_id
  JOIN dsets db ON p.id_b = db.doc_id
)
SELECT n_agreeing_bits,
       CAST(greatest(0, 2 * n_agreeing_bits - {N_HASHES}) * 1000000
            // {N_HASHES} AS BIGINT) AS est_jaccard_ppm,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(jac_ppm) // count(*) AS BIGINT) AS mean_exact_jaccard_ppm
FROM scored GROUP BY n_agreeing_bits, est_jaccard_ppm
"""


# --- leakage-safe train/val/test split ---------------------------------------
#
# Per-document hash splits (text.train_val_split) leak: a near-dup pair
# straddling train and val lets the model "see" eval content — the
# classic contamination bug benchmark papers keep re-finding.  The fix
# is split-by-CLUSTER: every document inherits its connected-component
# id from the near-dup graph (its own id when unpaired), and the split
# hash is taken over that GROUP id, so entire dup clusters land in one
# split by construction.  Same 80/10/10 thresholds as the per-doc
# split.  Shape at scale: the CC labels are the neardup_clusters
# output (large-star/small-star), one keyed left join to attach them,
# then a map-side-combinable aggregate.


def _split_assignments(
    spark: SparkSession, sf_dir: str, clusters: DataFrame | None = None
) -> DataFrame:
    """Per-doc (doc_id, group_id, split) over the near-dup corpus —
    the testable inner frame (no cluster may span two splits).
    ``clusters`` defaults to the ``neardup_clusters`` labeling."""
    if clusters is None:
        clusters = neardup_clusters(spark, sf_dir)
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus_ids = with_variants(ids, {"doc_id": f"doc_id + {NEARDUP_OFFSET}"})
    return (
        corpus_ids.join(clusters, "doc_id", "left")
        .selectExpr("doc_id", "coalesce(cluster_id, doc_id) AS group_id")
        .selectExpr(
            "doc_id",
            "group_id",
            f"{split_bucket_spark('group_id')} AS split_bucket",
        )
        .selectExpr("doc_id", "group_id", f"{_SPLIT_CASE} AS split")
    )


def _leakage_agg(assignments: DataFrame) -> DataFrame:
    return (
        assignments.groupBy("split")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_docs"),
            F.expr("CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups"),
        )
        .orderBy("split")
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _leakage_agg(_split_assignments(spark, sf_dir))


def _cc_one_round_lazy(sym_edges: DataFrame) -> DataFrame:
    """ONE large-star/small-star round of ``bigstar_components`` as a
    fully LAZY ``(doc_id, cluster_id)`` frame — the per-round plan
    shape, for --explain.  The converged operators run driver actions
    per round at construction time, so inspecting their plan would
    execute the workload; every round has this same shape, so one
    round is the honest plan to print."""
    return _small_star(_large_star(_star_groups(sym_edges))).selectExpr(
        "src AS doc_id", "dst AS cluster_id"
    )


def _clusters_explain_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _cc_one_round_lazy(_symmetric(dedup_minhash_lsh(spark, sf_dir)))


EXPLAIN_FRAMES = {
    "dedup_simhash_neardup": lambda spark, sf_dir: _simhash_pairs(
        _simhash_banded(spark, sf_dir)
    ),
    "neardup_clusters": _clusters_explain_frame,
    "entity_resolution_parts": lambda spark, sf_dir: _cc_one_round_lazy(
        _entity_sym_edges(spark, sf_dir)
    ),
    "leakage_safe_split": lambda spark, sf_dir: _leakage_agg(
        _split_assignments(
            spark, sf_dir, clusters=_clusters_explain_frame(spark, sf_dir)
        )
    ),
}


LEAKAGE_SAFE_SPLIT_SQL = f"""
WITH RECURSIVE pairs AS ({_lsh_pairs_sql()}),
{_CC_CLUSTERS_CTES},
corpus_ids AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + {NEARDUP_OFFSET} AS doc_id FROM documents
),
g AS (
  SELECT c.doc_id, coalesce(cl.cluster_id, c.doc_id) AS group_id
  FROM corpus_ids c LEFT JOIN clusters cl ON c.doc_id = cl.doc_id
),
a AS (
  SELECT doc_id, group_id,
         {split_bucket_duck('group_id')} AS split_bucket
  FROM g
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT group_id) AS BIGINT) AS n_groups
FROM (SELECT *, {_SPLIT_CASE} AS split FROM a)
GROUP BY split ORDER BY split
"""


# --- contrastive pair mining -------------------------------------------------
#
# Training pairs for embedding-model finetuning, mined from the dedup
# graph: POSITIVES are the LSH candidate pairs (near-duplicates — the
# classic self-supervised positive), NEGATIVES a deterministic
# bucket-representative document, validity-checked relationally: the
# negative must differ from both pair members AND must not itself be an
# LSH candidate of either (two anti-joins against the pair set — no
# connected-components pass, the whole query stays lazy).  Pairs whose
# assigned negative fails validation are dropped rather than repaired
# (a probe-chain repair would complicate the oracle for a <2% tail).
#
# Scale shape: bucket representatives are an NB-row aggregate
# (broadcast); the negative assignment is a map-side md5; the
# validity checks are keyed anti-joins on the (bounded) pair set.

NEG_BUCKETS = 64


def _neg_bucket(engine: str, *id_exprs: str) -> str:
    """16-bit md5 bucket over the pair ids — cross-engine exact (the
    split-bucket idiom with its own salt)."""
    concat = (
        "concat('neg:', " + ", ':', ".join(f"CAST({e} AS STRING)" for e in id_exprs) + ")"
        if engine == "spark"
        else "'neg:' || " + " || ':' || ".join(f"CAST({e} AS VARCHAR)" for e in id_exprs)
    )
    if engine == "spark":
        return (
            f"CAST(conv(substr(md5({concat}), 1, 4), 16, 10) AS BIGINT)"
            f" % {NEG_BUCKETS}"
        )
    return f"(('0x' || substr(md5({concat}), 1, 4))::BIGINT) % {NEG_BUCKETS}"


def contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir)
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    corpus_ids = with_variants(ids, {"doc_id": f"doc_id + {NEARDUP_OFFSET}"})
    reps = (
        corpus_ids.selectExpr(
            "doc_id", f"{_neg_bucket('spark', 'doc_id')} AS bucket"
        )
        .groupBy("bucket")
        .agg(F.expr("CAST(min(doc_id) AS BIGINT) AS neg_id"))
    )
    cand = pairs.selectExpr(
        "id_a AS anchor",
        "id_b AS positive",
        f"{_neg_bucket('spark', 'id_a', 'id_b')} AS bucket",
    ).join(F.broadcast(reps), "bucket")
    valid = cand.filter("neg_id <> anchor AND neg_id <> positive")
    # the negative must not be an LSH candidate of either pair member
    p = pairs
    for side in ("anchor", "positive"):
        valid = valid.join(
            p,
            (F.expr(f"least({side}, neg_id)") == p.id_a)
            & (F.expr(f"greatest({side}, neg_id)") == p.id_b),
            "left_anti",
        )
    return valid.select("anchor", "positive", "neg_id").orderBy(
        "anchor", "positive"
    )


CONTRASTIVE_PAIRS_SQL = f"""
WITH pairs AS ({_lsh_pairs_sql()}),
corpus_ids AS (
  SELECT doc_id FROM documents
  UNION ALL
  SELECT doc_id + {NEARDUP_OFFSET} AS doc_id FROM documents
),
reps AS (
  SELECT {_neg_bucket('duck', 'doc_id')} AS bucket,
         CAST(min(doc_id) AS BIGINT) AS neg_id
  FROM corpus_ids GROUP BY 1
),
cand AS (
  SELECT id_a AS anchor, id_b AS positive, r.neg_id
  FROM pairs p
  JOIN reps r ON {_neg_bucket('duck', 'p.id_a', 'p.id_b')} = r.bucket
  WHERE r.neg_id <> p.id_a AND r.neg_id <> p.id_b
)
SELECT anchor, positive, neg_id
FROM cand c
WHERE NOT EXISTS (
  SELECT 1 FROM pairs q
  WHERE q.id_a = least(c.anchor, c.neg_id)
    AND q.id_b = greatest(c.anchor, c.neg_id)
)
AND NOT EXISTS (
  SELECT 1 FROM pairs q
  WHERE q.id_a = least(c.positive, c.neg_id)
    AND q.id_b = greatest(c.positive, c.neg_id)
)
ORDER BY anchor, positive
"""


# --- cross-source duplication matrix -----------------------------------------
#
# Which sources copy from which: the LSH candidate pairs rolled up to an
# unordered (source, source) contamination matrix — the corpus-curation
# view that decides which feeds to de-prioritize.  Synthetic corpus ids
# (the tail-truncated variants ≥ NEARDUP_OFFSET) map back to their
# original document before the source lookup.  Shape: the pair frame is
# tiny relative to the corpus (bounded by LSH collisions), the doc →
# source map joins keyed on doc_id, and the matrix aggregation is
# unordered-pair keyed (least/greatest) with map-side combine.


def cross_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dedup_minhash_lsh(spark, sf_dir).selectExpr(
        f"CASE WHEN id_a >= {NEARDUP_OFFSET} THEN id_a - {NEARDUP_OFFSET}"
        " ELSE id_a END AS orig_a",
        f"CASE WHEN id_b >= {NEARDUP_OFFSET} THEN id_b - {NEARDUP_OFFSET}"
        " ELSE id_b END AS orig_b",
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.selectExpr("doc_id AS orig_a", "source AS src_a")
    sb = src.selectExpr("doc_id AS orig_b", "source AS src_b")
    return (
        pairs.join(sa, "orig_a")
        .join(sb, "orig_b")
        .selectExpr(
            "least(src_a, src_b) AS source_lo",
            "greatest(src_a, src_b) AS source_hi",
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.expr("CAST(count(*) AS BIGINT) AS n_pairs"))
        .orderBy("source_lo", "source_hi")
    )


CROSS_SOURCE_DUP_SQL = f"""
WITH lsh_pairs AS ({_lsh_pairs_sql()}),
orig AS (
  SELECT CASE WHEN id_a >= {NEARDUP_OFFSET} THEN id_a - {NEARDUP_OFFSET}
         ELSE id_a END AS orig_a,
         CASE WHEN id_b >= {NEARDUP_OFFSET} THEN id_b - {NEARDUP_OFFSET}
         ELSE id_b END AS orig_b
  FROM lsh_pairs
)
SELECT least(da.source, db.source) AS source_lo,
       greatest(da.source, db.source) AS source_hi,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM orig
JOIN documents da ON orig.orig_a = da.doc_id
JOIN documents db ON orig.orig_b = db.doc_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


QUERIES = {
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_ingest_incremental": (dedup_ingest_incremental, DEDUP_INGEST_SQL),
    "dedup_ingest_full": (dedup_ingest_full, _ingest_full_sql()),
    "lsh_pair_calibration": (lsh_pair_calibration, _pair_calibration_sql()),
    "dedup_minhash_bbit": (dedup_minhash_bbit, _bbit_calibration_sql()),
    "repeated_spans": (repeated_spans, REPEATED_SPANS_SQL),
    "repeated_span_cut": (repeated_span_cut, REPEATED_SPAN_CUT_SQL),
    # Lee et al.'s per-occurrence keeper rule — (doc_id, pos) key
    "repeated_span_cut_occ": (repeated_span_cut_occ, REPEATED_SPAN_CUT_OCC_SQL),
    # variable-length ExactSubstr: window hits merged into maximal runs
    # (hash-chain identity), keeper rule applied to whole runs
    "repeated_span_runs": (repeated_span_runs, REPEATED_SPAN_RUNS_SQL),
    "dedup_keep_best": (dedup_keep_best, DEDUP_KEEP_BEST_SQL),
    "fuzzy_part_match": (fuzzy_part_match, FUZZY_MATCH_SQL),
    "entity_resolution_parts": (entity_resolution_parts, ENTITY_RESOLUTION_SQL),
    "passage_dedup": (passage_dedup, PASSAGE_DEDUP_SQL),
    # kept under its registered name: the same op as neardup_clusters
    "neardup_clusters_bigstar": (neardup_clusters, NEARDUP_CLUSTERS_SQL),
    "dedup_minhash_lsh": (dedup_minhash_lsh, DEDUP_MINHASH_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_simhash_neardup": (dedup_simhash_neardup, _simhash_neardup_sql()),
    "ngram_jaccard_pairs": (ngram_jaccard_pairs, NGRAM_JACCARD_SQL),
    "neardup_clusters": (neardup_clusters, NEARDUP_CLUSTERS_SQL),
    "cross_source_dup_matrix": (cross_source_dup_matrix, CROSS_SOURCE_DUP_SQL),
    "leakage_safe_split": (leakage_safe_split, LEAKAGE_SAFE_SPLIT_SQL),
    "contrastive_pairs": (contrastive_pairs, CONTRASTIVE_PAIRS_SQL),
}
