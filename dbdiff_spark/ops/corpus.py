"""Corpus-preparation operators for the training-data pipeline tier:
benchmark decontamination, deterministic sequence packing, per-domain
capping, and bloom-filter semi-join pruning.

These are the corpus-hygiene steps a large pretraining pipeline runs
after dedup/quality filtering (the reference engine has no analogue —
this tier extends SURVEY §2's inventory the way COVERAGE.md documents).

Scale posture:
- ``decontam_ngram_overlap``: the benchmark shingle set is tiny relative
  to the corpus, so the overlap join broadcasts it; the only shuffle is
  the per-doc hit count.  Shingling is per-row whole-stage-codegen
  (``transform``/``slice`` over the token array — no UDF).
- ``pack_sequences``: packing is per-shard (language) so the window
  cumsum parallelizes across shards; a single global window would
  serialize onto one reducer, which is exactly the trap to avoid at
  100 TB.  Within a shard the assignment is a pure prefix-sum — one
  shuffle on the shard key.
- ``domain_cap``: row_number per domain — one shuffle on the domain key,
  then a map-side filter.  AQE handles skewed domains.
- ``bloom_join_prune``: the classic semi-join reduction — build a bloom
  sized from the build-side count (next pow2 of 16 bits/key, ≈0.55% fpr
  at any scale) over the selective dimension keys (one small aggregation),
  broadcast the 128-word filter as a single array row, and evaluate the
  membership test as a map-side FILTER on the fact side.  No explode, no
  extra shuffle on the probe path: at scale this prunes the fact table
  before it ever reaches a join exchange.  No false negatives by
  construction (the unit test asserts it).

Cross-engine exactness: md5-derived bit positions (identical hex in
both engines), 32-bit masks inside BIGINT words (bit 31 stays positive
in both — Spark ``shiftleft(CAST(1 AS BIGINT), …)`` ≡ DuckDB
``1::BIGINT << …``), and counts only via SUM(CASE …) cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbdiff_spark.io import load_table, spread

TOKEN_PATTERN = "[a-z0-9]+"
_TOKENS = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}', 0)"
_D_TOKENS = f"regexp_extract_all(lower(text), '{TOKEN_PATTERN}')"

# --- benchmark decontamination ----------------------------------------------
#
# Mark training documents that share any N-token shingle with a held-out
# benchmark set (here: a deterministic doc_id slice standing in for the
# eval suite).  N-gram-overlap decontamination is the standard guard
# against eval contamination in pretraining corpora.
SHINGLE_N = 8
BENCH_PRED = "doc_id % 23 = 0"  # ~4% of docs play the benchmark role


def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per training document: how many distinct 8-token shingles it
    shares with the benchmark slice, and the resulting contamination
    flag.  Shingle build is staged through separate projections so
    Catalyst cannot re-inline the regexp per downstream use."""
    docs = spread(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    toks = docs.selectExpr("doc_id", "lang", f"{_TOKENS} AS toks")
    sh = toks.selectExpr(
        "doc_id",
        "lang",
        f"CASE WHEN size(toks) >= {SHINGLE_N} THEN "
        f"transform(sequence(1, size(toks) - {SHINGLE_N - 1}), "
        f"i -> array_join(slice(toks, i, {SHINGLE_N}), ' ')) "
        "ELSE array() END AS shingles",
    )
    # explode_outer, NOT explode: Catalyst infers `size(shingles) > 0`
    # from a plain explode and pushes that predicate below the spread
    # exchange — re-inlining the whole regexp+transform into a single-
    # partition Filter and doubling the hot-path compute (measured; same
    # family as the projection-collapse trap in ARCHITECTURE.md).  The
    # outer variant emits NULL for empty arrays, filtered cheaply after.
    bench = (
        sh.filter(F.expr(BENCH_PRED))
        .select(F.explode_outer("shingles").alias("sh"))
        .filter(F.col("sh").isNotNull())
        .distinct()
    )
    train = sh.filter(~F.expr(BENCH_PRED))
    # broadcast-filter BEFORE any shuffle: only shingles that match the
    # benchmark set reach the distinct-count exchange; the win grows
    # with corpus size
    matched = train.select(
        "doc_id", F.explode_outer("shingles").alias("sh")
    ).join(F.broadcast(bench), "sh")
    hits = matched.groupBy("doc_id").agg(F.countDistinct("sh").alias("n"))
    return (
        train.select("doc_id", "lang")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "lang",
            F.expr("CAST(coalesce(n, 0) AS BIGINT)").alias("n_shingle_hits"),
            F.expr("coalesce(n, 0) > 0").alias("is_contaminated"),
        )
    )


DECONTAM_SQL = f"""
WITH sh AS (
  SELECT doc_id, lang,
         CASE WHEN len(toks) >= {SHINGLE_N}
              THEN list_transform(generate_series(1, len(toks) - {SHINGLE_N - 1}),
                                  i -> array_to_string(toks[i:i+{SHINGLE_N - 1}], ' '))
              ELSE [] END AS shingles
  FROM (SELECT doc_id, lang, {_D_TOKENS} AS toks FROM documents)
),
bench AS (
  SELECT DISTINCT sh FROM (
    SELECT unnest(shingles) AS sh FROM sh WHERE {BENCH_PRED}
  )
),
train_sh AS (
  SELECT DISTINCT doc_id, sh FROM (
    SELECT doc_id, unnest(shingles) AS sh FROM sh WHERE NOT ({BENCH_PRED})
  )
),
hits AS (
  SELECT doc_id, count(*) AS n
  FROM train_sh JOIN bench USING (sh)
  GROUP BY doc_id
)
SELECT t.doc_id, t.lang,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_shingle_hits,
       COALESCE(h.n, 0) > 0 AS is_contaminated
FROM (SELECT doc_id, lang FROM sh WHERE NOT ({BENCH_PRED})) t
LEFT JOIN hits h ON t.doc_id = h.doc_id
"""


# --- deterministic sequence packing -----------------------------------------
#
# Assign documents to fixed-token-budget packs by running prefix sum in
# a canonical order (doc_id) within each language shard: a doc opens in
# the pack its exclusive prefix sum lands in (contiguous fill; a doc
# straddling the boundary belongs to the pack it started in).  Identical
# on every engine/run because the order and the arithmetic are exact.
PACK_BUDGET = 256  # tokens per pack


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (lang, pack): document count, token total, and doc_id span of
    each training pack under a 256-token budget."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.selectExpr(
        "doc_id", "lang", f"CAST(size({_TOKENS}) AS BIGINT) AS n_tokens"
    )
    packed = toks.selectExpr(
        "doc_id",
        "lang",
        "n_tokens",
        "coalesce(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) "
        f"div {PACK_BUDGET} AS pack_id",
    )
    return packed.groupBy("lang", "pack_id").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_docs"),
        F.expr("CAST(sum(n_tokens) AS BIGINT)").alias("total_tokens"),
        F.expr("min(doc_id)").alias("first_doc"),
        F.expr("max(doc_id)").alias("last_doc"),
    )


PACK_SQL = f"""
SELECT lang, pack_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS first_doc,
       max(doc_id) AS last_doc
FROM (
  SELECT doc_id, lang, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         // {PACK_BUDGET} AS pack_id
  FROM (
    SELECT doc_id, lang, CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens
    FROM documents
  )
)
GROUP BY lang, pack_id
"""


def pack_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budget-utilization histogram over the packs ``pack_sequences``
    produces: per language, how many packs land in each 10%-of-budget
    fill decile, plus the overfull bucket (a doc straddling the
    boundary stays in the pack it opened — deliberate packing
    semantics, so fills > 100% exist and must be VISIBLE, not clipped).
    The dashboard that tells you whether the token budget or the doc
    length distribution is wasting training throughput."""
    packs = pack_sequences(spark, sf_dir)
    return (
        packs.select(
            "lang",
            F.expr(
                f"least(CAST((total_tokens * 10) div {PACK_BUDGET} AS BIGINT), 12)"
            ).alias("fill_decile"),
        )
        .groupBy("lang", "fill_decile")
        .agg(F.count(F.lit(1)).alias("n_packs"))
    )


PACK_UTILIZATION_SQL = f"""
WITH packs AS ({PACK_SQL})
SELECT lang,
       CAST(least((total_tokens * 10) // {PACK_BUDGET}, 12) AS BIGINT) AS fill_decile,
       CAST(count(*) AS BIGINT) AS n_packs
FROM packs
GROUP BY 1, 2
"""


# --- per-domain capping ------------------------------------------------------
#
# Cap the number of documents any single domain (source) contributes:
# rank within domain by a quality proxy (longer first, doc_id as the
# unique tie-break) and keep the top CAP.  Guards the training mix
# against a single crawl domain dominating.
DOMAIN_CAP = 40


def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: its within-domain rank and whether the 40-doc
    domain cap keeps it."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.selectExpr(
        "doc_id",
        "source",
        "n_chars",
        "CAST(row_number() OVER (PARTITION BY source "
        "ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cap_rank",
    ).selectExpr("*", f"cap_rank <= {DOMAIN_CAP} AS is_kept")


DOMAIN_CAP_SQL = f"""
SELECT doc_id, source, n_chars, cap_rank, cap_rank <= {DOMAIN_CAP} AS is_kept
FROM (
  SELECT doc_id, source, n_chars,
         CAST(row_number() OVER (PARTITION BY source
              ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cap_rank
  FROM documents
)
"""


# --- bloom-filter semi-join pruning -----------------------------------------
#
# Build a bloom filter over the keys of a selective dimension predicate
# (customers with acctbal > 8000), broadcast it, and pre-filter the fact
# table (orders) map-side before any join.  Reports, per order priority,
# how many orders the bloom passes vs. truly match — the false-positive
# overhead is the price of skipping the full semi-join shuffle.
BLOOM_K = 3
BLOOM_BITS_PER_KEY = 16  # with k=3 hashes → fpr ≈ 0.55% below the cap
# Ceiling: the filter broadcasts as ONE packed array row, so it must
# stay broadcast-sized — 2^24 bits = 512k words ≈ 4 MB.  Builds past
# ~1M keys saturate the cap and fpr degrades (honestly reported by the
# query's false-positive columns); the production answer there is a
# per-bucket partitioned bloom, not a bigger single row.
BLOOM_MAX_LOG2 = 24
DIM_PRED = "c_acctbal > 8000"


def bloom_bits(n_keys: int) -> int:
    """Filter size DERIVED from the build-side key count: the next
    power of two ≥ BLOOM_BITS_PER_KEY·n (floor 4096, ceiling 2^24 —
    the broadcast bound documented at BLOOM_MAX_LOG2).  Power-of-two so
    the 60-bit md5 slice mods to an exactly uniform position in both
    engines; fpr stays ≈ (1 − e^(−k·n/m))^k ≈ 0.55% up to the ceiling
    (~1M build keys) and degrades honestly past it.  (The
    r5 fixed 4096-bit filter was already ~60% fpr at sf0.1's ~2.7k
    build keys and pure noise at the 100 TB target — the same
    compile-time-constant failure mode as the fixed hamming band
    widths, fixed the same way: integer-exact bit-length derivation the
    oracle replays from its own count.)"""
    n = max(int(n_keys), 1)
    return 1 << min(
        BLOOM_MAX_LOG2, max(12, (BLOOM_BITS_PER_KEY * n - 1).bit_length())
    )


def _pos_spark(key_expr: str, i: int, bits: int) -> str:
    return (
        f"CAST(conv(substr(md5(concat('bf{i}:', CAST({key_expr} AS STRING))), 1, 15),"
        f" 16, 10) AS BIGINT) % {bits}"
    )


def _pos_duck(key_expr: str, i: int, mod: str = "m") -> str:
    return (
        f"('0x' || substr(md5('bf{i}:' || CAST({key_expr} AS VARCHAR)), 1, 15))"
        f"::BIGINT % {mod}"
    )


def bloom_join_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order priority: total orders, bloom-filter survivors, true
    semi-join matches, and false positives."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    sel = customer.filter(F.expr(DIM_PRED)).select("c_custkey")
    # size the filter from the build side (one cheap filter-count job);
    # the oracle re-derives the identical m from its own count(*)
    m_bits = bloom_bits(sel.count())
    n_words = m_bits // 32

    positions = sel.selectExpr(
        f"explode(array("
        f"{', '.join(_pos_spark('c_custkey', i, m_bits) for i in range(BLOOM_K))}))"
        " AS pos"
    )
    words = positions.selectExpr(
        "pos div 32 AS word",
        "shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)) AS mask",
    ).groupBy("word").agg(F.expr("bit_or(mask)").alias("bits"))
    # Densify to all words and pack into ONE array row for broadcast.
    full = (
        spark.range(n_words)
        .withColumnRenamed("id", "word")
        .join(words, "word", "left")
        .selectExpr("word", "coalesce(bits, CAST(0 AS BIGINT)) AS bits")
    )
    packed = full.agg(
        F.expr(
            "transform(sort_array(collect_list(struct(word, bits))), s -> s.bits)"
        ).alias("bf")
    )

    probe = orders.crossJoin(F.broadcast(packed))
    pass_terms = " AND ".join(
        f"(element_at(bf, CAST(({_pos_spark('o_custkey', i, m_bits)}) div 32 AS INT) + 1)"
        f" & shiftleft(CAST(1 AS BIGINT),"
        f" CAST(({_pos_spark('o_custkey', i, m_bits)}) % 32 AS INT))) != 0"
        for i in range(BLOOM_K)
    )
    flagged = probe.selectExpr(
        "o_orderkey",
        "o_custkey",
        "o_orderpriority",
        f"({pass_terms}) AS bloom_pass",
    ).join(
        F.broadcast(sel.withColumn("__true", F.lit(True))),
        F.col("o_custkey") == F.col("c_custkey"),
        "left",
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.expr("CAST(count(*) AS BIGINT)").alias("n_orders"),
        F.expr("CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT)").alias(
            "n_bloom_pass"
        ),
        F.expr(
            "CAST(sum(CASE WHEN __true IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_true_match"),
        F.expr(
            "CAST(sum(CASE WHEN bloom_pass AND __true IS NULL THEN 1 ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_false_pos"),
    )


_D_PASS_TERMS = " AND ".join(
    f"(bf[CAST(({_pos_duck('o_custkey', i)}) // 32 AS INT) + 1]"
    f" & (1::BIGINT << CAST(({_pos_duck('o_custkey', i)}) % 32 AS INT))) != 0"
    for i in range(BLOOM_K)
)

BLOOM_SQL = f"""
WITH sel AS (SELECT c_custkey FROM customer WHERE {DIM_PRED}),
bparams AS MATERIALIZED (
  -- same next-pow2(16·n) derivation as bloom_bits(): integer-exact
  -- bit-length, never a float log
  SELECT (CAST(1 AS BIGINT) << LEAST({BLOOM_MAX_LOG2},
           GREATEST(12, length(format('{{:b}}',
           GREATEST({BLOOM_BITS_PER_KEY} * count(*) - 1, 1)))))) AS m
  FROM sel
),
pos AS (
  SELECT unnest([{', '.join(_pos_duck('c_custkey', i) for i in range(BLOOM_K))}]) AS pos
  FROM sel, bparams
),
wb AS (
  SELECT pos // 32 AS word,
         bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
  FROM pos GROUP BY 1
),
bfa AS (
  SELECT array_agg(COALESCE(wb.bits, 0) ORDER BY d.w) AS bf
  FROM (SELECT unnest(generate_series(0, (SELECT m // 32 - 1 FROM bparams)))
          AS w) d
  LEFT JOIN wb ON wb.word = d.w
),
flagged AS (
  SELECT o.o_orderpriority,
         ({_D_PASS_TERMS}) AS bloom_pass,
         s.c_custkey IS NOT NULL AS is_true
  FROM orders o CROSS JOIN bfa CROSS JOIN bparams
  LEFT JOIN sel s ON o.o_custkey = s.c_custkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_pass,
       CAST(SUM(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS n_true_match,
       CAST(SUM(CASE WHEN bloom_pass AND NOT is_true THEN 1 ELSE 0 END) AS BIGINT)
         AS n_false_pos
FROM flagged
GROUP BY o_orderpriority
"""


# --- deterministic global corpus shuffle ------------------------------------
#
# Training wants the corpus in a reproducible pseudo-random order.  The
# naive row_number() over a global ORDER BY collapses the window onto one
# reducer — the canonical non-scalable plan.  Instead: hash every doc
# into 65536 buckets, rank WITHIN each bucket (parallel windows), and
# add the bucket's global offset from the 65536-row bucket histogram —
# the only single-partition step touches 64 Ki rows regardless of corpus
# size, and the mapping is identical on every engine, run, and layout.


def corpus_shuffle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per document: its position in the deterministic global shuffle
    order (a permutation of 0..N-1)."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = docs.selectExpr(
        "doc_id",
        "md5(concat('shuf:', CAST(doc_id AS STRING))) AS h",
    ).selectExpr(
        "doc_id",
        "h",
        "CAST(conv(substr(h, 1, 4), 16, 10) AS BIGINT) AS bucket",
    )
    ranked = hashed.selectExpr(
        "doc_id",
        "bucket",
        "CAST(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id)"
        " AS BIGINT) AS local_rank",
    )
    # The unpartitioned running sum below triggers Spark's single-
    # partition-window warning, but its input is the per-BUCKET count
    # table — ≤ 65 536 rows by construction (4 hex chars of md5) at ANY
    # corpus size.  That bound is the whole point of the bucket/offset
    # design: the corpus-sized ranking above is partitioned per bucket,
    # and only this fixed-size offset table ever passes through one
    # reducer.
    offsets = (
        hashed.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .selectExpr(
            "bucket",
            "coalesce(sum(n) OVER (ORDER BY bucket"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offset",
        )
    )
    return ranked.join(F.broadcast(offsets), "bucket").selectExpr(
        "doc_id", "bucket", "offset + local_rank - 1 AS shuffle_pos"
    )


SHUFFLE_INDEX_SQL = """
WITH hashed AS (
  SELECT doc_id,
         md5('shuf:' || CAST(doc_id AS VARCHAR)) AS h,
         ('0x' || substr(md5('shuf:' || CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT AS bucket
  FROM documents
),
ranked AS (
  SELECT doc_id, bucket,
         CAST(row_number() OVER (PARTITION BY bucket ORDER BY h, doc_id) AS BIGINT)
           AS local_rank
  FROM hashed
),
offsets AS (
  SELECT bucket,
         CAST(COALESCE(SUM(n) OVER (ORDER BY bucket
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           AS offset
  FROM (SELECT bucket, count(*) AS n FROM hashed GROUP BY bucket)
)
SELECT r.doc_id, r.bucket, o.offset + r.local_rank - 1 AS shuffle_pos
FROM ranked r JOIN offsets o USING (bucket)
"""


# --- fractional-epoch dataset mixing ---------------------------------------

# Per-source epoch weights: a training mix up-samples scarce high-value
# sources (>1 epoch), down-samples bulk ones (<1), drops the rest.
_EPOCHS_PER_64K = (
    "CASE WHEN source IN ('src0','src1','src2','src3') THEN 163840 "  # 2.5 epochs
    "WHEN source IN ('src4','src5','src6','src7') THEN 65536 "  # 1.0
    "WHEN source IN ('src8','src9','src10','src11') THEN 16384 "  # 0.25
    "ELSE 0 END"  # dropped from the mix
)


def mixture_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fractional-epoch replication — the *up-sampling*
    half of dataset mixing that rate-sampling (``stratified_sample``)
    cannot express: 2.5 epochs means every doc appears twice and a
    hash-selected 50% get a third copy.

    ``n_copies = floor(epochs) + (md5-bucket < frac·2^16)`` — per-row
    arithmetic, then one explode; no shuffle, no RNG state, and the
    SAME replica multiset on every engine, run, and cluster layout, so
    a training mix is auditable and resumable.  Scale shape: output
    size is Σ epochs·|source| by construction; the explode is narrow
    and streams — nothing accumulates."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.selectExpr(
        "doc_id",
        "source",
        f"CAST(({_EPOCHS_PER_64K}) AS BIGINT) div 65536"
        " + CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT)"
        f" < CAST(({_EPOCHS_PER_64K}) AS BIGINT) % 65536 THEN 1 ELSE 0 END AS n_copies",
    )
    return (
        sized.filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            "n_copies",
            F.explode(F.expr("sequence(1, n_copies)")).alias("copy_idx"),
        )
    )


MIXTURE_EPOCHS_SQL = f"""
WITH sized AS (
  SELECT doc_id, source,
         CAST(({_EPOCHS_PER_64K}) AS BIGINT) // 65536
         + CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)))::BIGINT
                     < CAST(({_EPOCHS_PER_64K}) AS BIGINT) % 65536 THEN 1 ELSE 0 END
           AS n_copies
  FROM documents
)
SELECT doc_id, source, n_copies,
       CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
FROM sized
WHERE n_copies >= 1
"""




# --- temperature-derived dataset mixing --------------------------------------
#
# ``mixture_epochs`` pins per-source epochs by hand; production mixes
# DERIVE them: sample source i proportionally to w_i^α (the
# multilingual-sampling convention, α=1/2 here — mBERT/XLM/PaLM use
# α ∈ [0.2, 0.7]), which up-samples scarce sources and down-samples
# bulk ones while preserving total volume.  Every rate is a pure
# function of the corpus' own per-source sizes — nothing to tune per
# corpus, the r8 derivation posture.
#
# Cross-engine exactness: α=1/2 makes w^α = sqrt(w) — correctly
# rounded IEEE for exact integers in both engines — and the sqrt is
# immediately quantized to the micro grid (CAST(ROUND(sqrt(w)·10⁶) AS
# BIGINT)) so the normalizing sum is an ORDER-FREE integer sum, never
# a float reduction.  The final epochs-per-64Ki rate is one fixed
# left-associative double chain over those exact integers, ROUNDed to
# the 1/65536 grid that ``mixture_epochs`` established; per-doc copy
# counts then reuse its deterministic md5-fraction replication.
#
# Scale shape: per-source sizes are one map-side-combined groupBy
# (#sources rows), the totals row is a broadcast cross join, and the
# replication is per-row arithmetic — no corpus shuffle anywhere.

MIX_GRID = 65_536  # epochs quantized to 1/64Ki — shared with mixture_epochs

_MIX_RATE = (
    f"CAST(ROUND({MIX_GRID} * CAST(sq AS DOUBLE) * CAST(t AS DOUBLE)"
    " / CAST(s AS DOUBLE) / CAST(w AS DOUBLE)) AS BIGINT)"
)


def mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixing report at temperature α=1/2: source size
    (chars), the derived epochs rate (1/64Ki units), document count,
    and the total replica count the deterministic md5-fraction
    replication produces — volume-preserving by construction (Σ rates
    ≈ #sources·64Ki re-weighted by size)."""
    docs = load_table(spark, sf_dir, "documents")
    # a zero-volume source has no defined rate (w^α/w is 0/0) and no
    # volume to preserve — drop it BEFORE the rate arithmetic, or the
    # NaN casts diverge between engines (Spark→0, DuckDB→error)
    per_source = (
        docs.groupBy("source")
        .agg(
            F.sum("n_chars").cast("bigint").alias("w"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        )
        .filter(F.col("w") > 0)
        .withColumn(
            "sq",
            F.expr("CAST(ROUND(sqrt(CAST(w AS DOUBLE)) * 1000000) AS BIGINT)"),
        )
    )
    totals = per_source.groupBy().agg(
        F.sum("w").cast("bigint").alias("t"),
        F.sum("sq").cast("bigint").alias("s"),
    )
    rates = per_source.crossJoin(F.broadcast(totals)).withColumn(
        "epochs_64k", F.expr(_MIX_RATE)
    )
    copies = (
        docs.select("doc_id", "source")
        .join(F.broadcast(rates.select("source", "epochs_64k")), "source")
        .selectExpr(
            "source",
            f"epochs_64k div {MIX_GRID}"
            " + CASE WHEN CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT)"
            f" < epochs_64k % {MIX_GRID} THEN 1 ELSE 0 END AS n_copies",
        )
        .groupBy("source")
        .agg(F.sum("n_copies").cast("bigint").alias("n_copies"))
    )
    return rates.join(copies, "source").select(
        "source", "w", "n_docs", "epochs_64k", "n_copies"
    )


MIXTURE_TEMPERATURE_SQL = f"""
WITH per_source AS MATERIALIZED (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS w,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(ROUND(sqrt(CAST(SUM(n_chars) AS BIGINT)::DOUBLE) * 1000000) AS BIGINT) AS sq
  FROM documents GROUP BY source
  HAVING CAST(SUM(n_chars) AS BIGINT) > 0
),
totals AS (
  SELECT CAST(SUM(w) AS BIGINT) AS t, CAST(SUM(sq) AS BIGINT) AS s
  FROM per_source
),
rates AS (
  SELECT source, w, n_docs,
         CAST(ROUND({MIX_GRID} * CAST(sq AS DOUBLE) * CAST(t AS DOUBLE)
              / CAST(s AS DOUBLE) / CAST(w AS DOUBLE)) AS BIGINT) AS epochs_64k
  FROM per_source, totals
),
copies AS (
  SELECT d.source,
         CAST(SUM(r.epochs_64k // {MIX_GRID}
              + CASE WHEN (('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)))::BIGINT
                     < r.epochs_64k % {MIX_GRID} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_copies
  FROM documents d JOIN rates r USING (source)
  GROUP BY d.source
)
SELECT source, w, n_docs, epochs_64k, n_copies
FROM rates JOIN copies USING (source)
"""


# --- token-budget selection (quality-ranked corpus cut) ----------------------
#
# "Take the best documents until the token budget is spent" — the final
# selection step of a curation pipeline: rank the corpus by a quality
# score, keep documents in rank order while the cumulative token count
# fits the budget.  The naive formulation is a GLOBAL running sum over
# the quality-sorted corpus — a single-reducer window, the canonical
# scale trap.  This uses the bucket/offset design corpus_shuffle_index
# established: quantize the score into ordered buckets, running-sum
# WITHIN each bucket (partitioned window, fully parallel), and carry
# only the per-bucket token totals (≤ #buckets rows, bounded by the
# score grid at ANY corpus size) through the one-reducer offset pass.
#
# Score: integer lexical diversity, ppm of distinct tokens per token —
# pure integer division over identical tokenizations, so both engines
# rank identically; ties break on doc_id.

BUDGET_TOKENS = 40_000
_SCORE_BUCKETS = 256  # score is ppm (0..1e6) → bucket = score div 3907


def select_token_budget(
    spark: SparkSession, sf_dir: str, budget: int = BUDGET_TOKENS
) -> DataFrame:
    """Documents selected by quality rank until ``budget`` cumulative
    tokens (inclusive), with their rank-order running total."""
    docs = load_table(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        f"CAST(size({_TOKENS}) AS BIGINT) AS n_tokens",
        f"CAST(size(array_distinct({_TOKENS})) AS BIGINT) AS n_distinct",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "CASE WHEN n_tokens = 0 THEN 0"
        " ELSE (1000000 * n_distinct) div n_tokens END AS score",
    ).selectExpr(
        "doc_id",
        "n_tokens",
        "score",
        f"score div (1000000 div {_SCORE_BUCKETS} + 1) AS bucket",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(
        F.col("score").desc(), F.col("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = docs.withColumn("local_cum", F.sum("n_tokens").over(w))
    # offset = tokens in all strictly BETTER buckets; the per-bucket
    # totals table is score-grid-bounded, so the unpartitioned window
    # below is a fixed-size pass regardless of corpus size
    offsets = (
        docs.groupBy("bucket")
        .agg(F.sum("n_tokens").alias("bt"))
        .selectExpr(
            "bucket",
            "coalesce(sum(bt) OVER (ORDER BY bucket DESC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offset",
        )
    )
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .selectExpr(
            "doc_id", "n_tokens", "score", "offset + local_cum AS cum_tokens"
        )
        .filter(F.col("cum_tokens") <= budget)
    )


SELECT_BUDGET_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens,
         CASE WHEN len({_D_TOKENS}) = 0 THEN 0
              ELSE (1000000 * CAST(len(list_distinct({_D_TOKENS})) AS BIGINT))
                   // CAST(len({_D_TOKENS}) AS BIGINT) END AS score
  FROM documents
),
running AS (
  SELECT doc_id, n_tokens, score,
         CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_tokens
  FROM scored
)
SELECT doc_id, n_tokens, score, cum_tokens
FROM running WHERE cum_tokens <= {BUDGET_TOKENS}
"""


# --- the pipeline capstone: prepare-corpus funnel ---------------------------
#
# The WHOLE pretraining data-prep pipeline as one declarative plan —
# quality filter → exact dedup → fingerprint near-dedup → benchmark
# decontamination → token-budget cut — reported as the stage funnel
# (docs and tokens surviving each stage), which is the number a data
# lead actually reads.  Each stage is the registry operator's logic
# inlined on the SURVIVORS of the previous stage, so Catalyst plans the
# whole funnel as one DAG (filters compose; the corpus is scanned per
# stage-count, never materialized between stages).
#
# Stage constants are chosen to bite at every fixture scale.  All
# arithmetic integer (token counts, ppm scores, md5 keys).

FUNNEL_MIN_TOKENS = 20
FUNNEL_MIN_SCORE_PPM = 200_000  # distinct/total ratio ≥ 0.2
FUNNEL_BUDGET_TOKENS = 20_000


def _funnel_scored(spark: SparkSession, sf_dir: str):
    # spread FIRST (io.spread): the byte-tiny documents file plans as
    # ONE scan task, and the funnel's heavy per-doc expressions
    # (fingerprint md5-per-shingle especially — measured 7.1 s of the
    # 10.9 s total on a single core) inherit that parallelism ceiling
    # unless the corpus is repartitioned up front
    return spread(load_table(spark, sf_dir, "documents"), spark, "doc_id").selectExpr(
        "doc_id",
        "text",
        f"CAST(size({_TOKENS}) AS BIGINT) AS n_tokens",
        f"CASE WHEN size({_TOKENS}) = 0 THEN 0"
        f" ELSE (1000000 * CAST(size(array_distinct({_TOKENS})) AS BIGINT))"
        f" div size({_TOKENS}) END AS score",
    )


def prepare_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SINGLE-LINEAGE funnel: every document carries survival FLAGS for
    each stage, and the six-row report is ONE aggregation unpivoted —
    the naive formulation (count each stage's surviving frame
    separately) re-executed the whole chain per stage and measured
    10.9 s at sf0.1; the flag form runs 6×+ fewer tokenization passes.
    The keep-sets (exact-hash min, fingerprint min, contamination set)
    still derive from the stage's survivors, each computed once and
    joined back as a flag."""
    from dbdiff_spark.ops.text import shingles_expr_spark

    scored = _funnel_scored(spark, sf_dir)
    base = scored.withColumn(
        "ok1",
        (F.col("n_tokens") >= FUNNEL_MIN_TOKENS)
        & (F.col("score") >= FUNNEL_MIN_SCORE_PPM),
    )
    keep2 = (
        base.filter("ok1")
        .groupBy(F.md5(F.col("text").cast("binary")).alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("k2"))
    )
    b2 = base.join(keep2, "doc_id", "left").withColumn(
        "ok2", F.col("ok1") & F.coalesce(F.col("k2"), F.lit(False))
    )
    fp_expr = (
        f"array_join(slice(array_sort(transform("
        f"{shingles_expr_spark(_TOKENS)}, x -> md5(x))), 1, 4), ',')"
    )
    keep3 = (
        b2.filter("ok2")
        .selectExpr("doc_id", f"{fp_expr} AS fp")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", F.lit(True).alias("k3"))
    )
    b3 = b2.join(keep3, "doc_id", "left").withColumn(
        "ok3", F.col("ok2") & F.coalesce(F.col("k3"), F.lit(False))
    )
    sh = f"""CASE WHEN size({_TOKENS}) >= {SHINGLE_N} THEN
        transform(sequence(1, size({_TOKENS}) - {SHINGLE_N - 1}),
        i -> array_join(slice({_TOKENS}, i, {SHINGLE_N}), ' '))
        ELSE array() END"""
    docs = spread(load_table(spark, sf_dir, "documents"), spark, "doc_id")
    bench = (
        docs.filter(F.expr(BENCH_PRED))
        .selectExpr(f"explode_outer({sh}) AS shg")
        .filter(F.col("shg").isNotNull())
        .distinct()
    )
    cont = (
        b3.filter(F.col("ok3") & ~F.expr(BENCH_PRED))
        .selectExpr("doc_id", f"explode_outer({sh}) AS shg")
        .filter(F.col("shg").isNotNull())
        .join(F.broadcast(bench), "shg")
        .select("doc_id")
        .distinct()
        .withColumn("c4", F.lit(True))
    )
    b4 = b3.join(cont, "doc_id", "left").withColumn(
        "ok4",
        F.col("ok3")
        & ~F.expr(BENCH_PRED)
        & ~F.coalesce(F.col("c4"), F.lit(False)),
    )
    # budget rank over ok4 rows only: non-survivors contribute 0 to the
    # running sum and sort after every survivor, so their cum is the
    # final total — harmless, they are already excluded by ok4
    from pyspark.sql import Window

    w = Window.orderBy(
        F.col("ok4").desc(), F.col("score").desc(), F.col("doc_id")
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b5 = b4.withColumn(
        "cum",
        F.sum(F.when(F.col("ok4"), F.col("n_tokens")).otherwise(F.lit(0))).over(w),
    ).withColumn("ok5", F.col("ok4") & (F.col("cum") <= FUNNEL_BUDGET_TOKENS))
    one = b5.agg(
        F.count(F.lit(1)).alias("d0"),
        F.sum("n_tokens").alias("t0"),
        *[
            x
            for i in range(1, 6)
            for x in (
                F.count_if(F.col(f"ok{i}")).alias(f"d{i}"),
                F.coalesce(
                    F.sum(F.when(F.col(f"ok{i}"), F.col("n_tokens"))), F.lit(0)
                ).alias(f"t{i}"),
            )
        ],
    )
    labels = [
        "0_all", "1_quality", "2_exact_dedup", "3_fingerprint_dedup",
        "4_decontaminated", "5_token_budget",
    ]
    stack = ", ".join(f"'{lb}', d{i}, t{i}" for i, lb in enumerate(labels))
    return one.selectExpr(
        f"stack(6, {stack}) AS (stage, n_docs, n_tokens)"
    ).selectExpr(
        "stage",
        "CAST(n_docs AS BIGINT) AS n_docs",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
    ).orderBy("stage")


def _funnel_sql() -> str:
    from dbdiff_spark.ops.text import shingles_expr_duck

    sh8 = (
        f"CASE WHEN len(toks) >= {SHINGLE_N} THEN "
        f"list_transform(generate_series(1, len(toks) - {SHINGLE_N - 1}), "
        f"i -> array_to_string(toks[i:i+{SHINGLE_N - 1}], ' ')) "
        "ELSE [] END"
    )
    fp = (
        f"array_to_string(list_sort(list_transform("
        f"{shingles_expr_duck('toks')}, x -> md5(x)))[1:4], ',')"
    )
    stage = (
        "SELECT '{label}' AS stage, CAST(count(*) AS BIGINT) AS n_docs, "
        "CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM {src}"
    )
    stages = "\nUNION ALL\n".join(
        stage.format(label=lb, src=src)
        for lb, src in (
            ("0_all", "scored"), ("1_quality", "s1"), ("2_exact_dedup", "s2"),
            ("3_fingerprint_dedup", "s3"), ("4_decontaminated", "s4"),
            ("5_token_budget", "s5"),
        )
    )
    return f"""
WITH scored AS (
  SELECT doc_id, text, {_D_TOKENS} AS toks,
         CAST(len({_D_TOKENS}) AS BIGINT) AS n_tokens,
         CASE WHEN len({_D_TOKENS}) = 0 THEN 0
              ELSE (1000000 * CAST(len(list_distinct({_D_TOKENS})) AS BIGINT))
                   // CAST(len({_D_TOKENS}) AS BIGINT) END AS score
  FROM documents
),
s1 AS (
  SELECT * FROM scored
  WHERE n_tokens >= {FUNNEL_MIN_TOKENS} AND score >= {FUNNEL_MIN_SCORE_PPM}
),
k2 AS (SELECT min(doc_id) AS doc_id FROM s1 GROUP BY md5(text)),
s2 AS (SELECT s1.* FROM s1 JOIN k2 USING (doc_id)),
s2fp AS (SELECT *, {fp} AS fp FROM s2),
k3 AS (SELECT min(doc_id) AS doc_id FROM s2fp GROUP BY fp),
s3 AS (SELECT s2fp.* FROM s2fp JOIN k3 USING (doc_id)),
bench AS (
  SELECT DISTINCT shg FROM (
    SELECT unnest({sh8}) AS shg FROM scored WHERE {BENCH_PRED}
  )
),
cont AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest({sh8}) AS shg FROM s3 WHERE NOT ({BENCH_PRED})
  ) JOIN bench USING (shg)
),
s4 AS (
  SELECT doc_id, n_tokens, score FROM s3
  WHERE NOT ({BENCH_PRED}) AND doc_id NOT IN (SELECT doc_id FROM cont)
),
s5 AS (
  SELECT * FROM (
    SELECT doc_id, n_tokens, score,
           SUM(n_tokens) OVER (ORDER BY score DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS cum
    FROM s4
  ) WHERE cum <= {FUNNEL_BUDGET_TOKENS}
)
{stages}
ORDER BY stage
"""


# --- deterministic importance resampling ------------------------------------
#
# Systematic weighted sampling: the curation step that up/down-samples
# documents by an integer quality weight without randomness.  Docs are
# laid on a line in hash order (md5 of the key — shuffle-invariant,
# uniform); each doc occupies [start, start + w); it is replicated once
# per step-grid point inside its interval:
#
#     n_copies = end div STEP − start div STEP
#
# which telescopes: Σ n_copies == total_weight div STEP EXACTLY — the
# global sample size is pinned by arithmetic, not by luck.  A doc with
# w > STEP yields multiple epochs (upsampling); w ≪ STEP yields a
# w/STEP inclusion rate (downsampling) — the standard quality-mixing
# primitive.
#
# Scale shape: the prefix sum is the same bucketed two-phase pass as
# ``select_token_budget``, but bucketed on the leading hash byte —
# uniform by construction, so no bucket skew at any corpus size; the
# 256-row bucket-total table broadcasts.

RESAMPLE_STEP = 10_000_000


def importance_resample(
    spark: SparkSession, sf_dir: str, step: int = RESAMPLE_STEP
) -> DataFrame:
    from pyspark.sql import Window

    # spread before the regexp weight projection — the one-file bench
    # scan plans as a single task (io.spread docstring)
    docs = spread(load_table(spark, sf_dir, "documents"), spark, "doc_id").selectExpr(
        "doc_id",
        f"CAST(size({_TOKENS}) AS BIGINT) AS n_tokens",
        f"CAST(size(array_distinct({_TOKENS})) AS BIGINT) AS n_distinct",
    ).selectExpr(
        "doc_id",
        # weight = distinctness ppm (the select_token_budget score)
        "CASE WHEN n_tokens = 0 THEN 0"
        " ELSE (1000000 * n_distinct) div n_tokens END AS weight",
    ).selectExpr(
        "doc_id",
        "weight",
        "md5(CAST(doc_id AS STRING)) AS h",
    ).selectExpr("doc_id", "weight", "h", "substr(h, 1, 2) AS bucket")
    w = Window.partitionBy("bucket").orderBy("h", "doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = docs.withColumn("local_cum", F.sum("weight").over(w))
    offsets = (
        docs.groupBy("bucket")
        .agg(F.sum("weight").alias("bt"))
        .selectExpr(
            "bucket",
            "coalesce(sum(bt) OVER (ORDER BY bucket"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS offset",
        )
    )
    return (
        ranked.join(F.broadcast(offsets), "bucket")
        .selectExpr(
            "doc_id",
            "weight",
            f"(offset + local_cum) div {step}"
            f" - (offset + local_cum - weight) div {step} AS n_copies",
        )
        .filter(F.col("n_copies") > 0)
    )


IMPORTANCE_RESAMPLE_SQL = f"""
WITH scored AS (
  SELECT doc_id,
         CASE WHEN len({_D_TOKENS}) = 0 THEN 0
              ELSE (1000000 * CAST(len(list_distinct({_D_TOKENS})) AS BIGINT))
                   // CAST(len({_D_TOKENS}) AS BIGINT) END AS weight,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
running AS (
  SELECT doc_id, weight,
         CAST(SUM(weight) OVER (ORDER BY h, doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS endc
  FROM scored
)
SELECT doc_id, weight,
       endc // {RESAMPLE_STEP} - (endc - weight) // {RESAMPLE_STEP} AS n_copies
FROM running
WHERE endc // {RESAMPLE_STEP} - (endc - weight) // {RESAMPLE_STEP} > 0
"""


QUERIES = {
    "prepare_corpus_funnel": (prepare_corpus_funnel, _funnel_sql()),
    "importance_resample": (importance_resample, IMPORTANCE_RESAMPLE_SQL),
    "decontam_ngram_overlap": (decontam_ngram_overlap, DECONTAM_SQL),
    "mixture_epochs": (mixture_epochs, MIXTURE_EPOCHS_SQL),
    "mixture_temperature": (mixture_temperature, MIXTURE_TEMPERATURE_SQL),
    "pack_sequences": (pack_sequences, PACK_SQL),
    "pack_utilization": (pack_utilization, PACK_UTILIZATION_SQL),
    "domain_cap": (domain_cap, DOMAIN_CAP_SQL),
    "bloom_join_prune": (bloom_join_prune, BLOOM_SQL),
    "corpus_shuffle_index": (corpus_shuffle_index, SHUFFLE_INDEX_SQL),
    "select_token_budget": (select_token_budget, SELECT_BUDGET_SQL),
}
