"""Sketch operators — approximate structures whose CONSTRUCTION is
exact and deterministic, so they distribute trivially and oracle-check
bit-for-bit (unlike engine-native HLL sketches, which are
implementation-specific).

Count-min sketch over the document token stream:

* depth 4 × width 256; row hashes are the leading hex chars of
  ``md5('<d>:' || token)`` — independent uniform hashes, identical in
  every engine.
* Construction is ONE corpus pass: each token expands to its
  (depth, bucket) cells and a single grouped count builds every row at
  once — map-side combinable, one shuffle of ≤ depth×width rows per
  partition: the classic mergeable-summary shape (sketches merge by
  cell-wise add, which is how a 1000-executor build combines partial
  sketches for free).
* Point queries never under-count; the EXPECTED over-count per row is
  n/width (the 2n/width bound holds per row only with probability ≥ ½ —
  Markov).  Taking the min over rows is the CM estimate.

``cms_token_counts`` builds the sketch AND evaluates five fixed probe
tokens against their true counts in one result — construction,
estimation, and error visible to the oracle in a single query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dbdiff_spark.io import load_table, local_frame
from dbdiff_spark.ops.text import _D_TOKENS, _TOKENS

CMS_DEPTH = 4
_HEX_CHARS = 2  # bucket = first _HEX_CHARS of the md5 → width 16^_HEX_CHARS


def _bucket_spark(depth: int, token_col: str) -> str:
    return (
        f"CAST(conv(substr(md5(concat('{depth}:', {token_col})), 1, {_HEX_CHARS}), 16, 10) AS INT)"
    )


def _bucket_duck(depth: int, token_col: str) -> str:
    h = f"substr(md5(concat('{depth}:', {token_col})), 1, {_HEX_CHARS})"
    digits = [
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        for i in range(_HEX_CHARS)
    ]
    acc = digits[0]
    for d in digits[1:]:
        acc = f"(16 * {acc} + {d})"
    return f"CAST({acc} AS INT)"


PROBE_TOKENS = ("the", "spark", "table", "row", "zzz-absent")


def cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a 4×256 count-min sketch of the corpus token stream and
    evaluate the probe tokens: per (token, depth) the sketch cell count,
    the CM estimate (min over depths), and the true count."""
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.selectExpr(f"explode({_TOKENS}) AS token")
    # ONE corpus pass: each token expands to its CMS_DEPTH (depth,
    # bucket) cells, one grouped count builds the whole table.  Counts
    # come from the FULL stream (that's what makes it a sketch).
    cell_structs = ", ".join(
        f"struct({d} AS depth, {_bucket_spark(d, 'token')} AS bucket)"
        for d in range(CMS_DEPTH)
    )
    cells = (
        tokens.selectExpr(f"explode(array({cell_structs})) AS cell")
        .groupBy("cell.depth", "cell.bucket")
        .agg(F.count(F.lit(1)).alias("cell_count"))
    )
    probes = local_frame(
        spark, [(t,) for t in PROBE_TOKENS], "probe_token string"
    )
    probe_structs = ", ".join(
        f"struct({d} AS depth, {_bucket_spark(d, 'probe_token')} AS bucket)"
        for d in range(CMS_DEPTH)
    )
    probe_cells = probes.selectExpr(
        "probe_token", f"explode(array({probe_structs})) AS cell"
    ).select("probe_token", "cell.depth", "cell.bucket")
    looked_up = probe_cells.join(cells, on=["depth", "bucket"], how="left").select(
        "probe_token",
        "depth",
        F.coalesce(F.col("cell_count"), F.lit(0)).alias("cell_count"),
    )
    estimates = looked_up.groupBy("probe_token").agg(
        F.min("cell_count").alias("cm_estimate")
    )
    truth = tokens.groupBy(F.col("token").alias("probe_token")).agg(
        F.count(F.lit(1)).alias("true_count")
    )
    return estimates.join(truth, on="probe_token", how="left").select(
        "probe_token",
        "cm_estimate",
        F.coalesce(F.col("true_count"), F.lit(0)).alias("true_count"),
    )


def _cms_sql() -> str:
    layers = "\nUNION ALL\n".join(
        f"SELECT {d} AS depth, {_bucket_duck(d, 'token')} AS bucket, "
        f"CAST(count(*) AS BIGINT) AS cell_count FROM tokens GROUP BY 1, 2"
        for d in range(CMS_DEPTH)
    )
    probe_rows = ", ".join(f"('{t}')" for t in PROBE_TOKENS)
    probe_layers = "\nUNION ALL\n".join(
        f"SELECT probe_token, {d} AS depth, {_bucket_duck(d, 'probe_token')} AS bucket FROM probes"
        for d in range(CMS_DEPTH)
    )
    return f"""
WITH tokens AS (
  SELECT unnest({_D_TOKENS}) AS token FROM documents
),
cells AS (
  {layers}
),
probes AS (SELECT * FROM (VALUES {probe_rows}) AS v(probe_token)),
probe_cells AS (
  {probe_layers}
),
looked_up AS (
  SELECT probe_token, p.depth, coalesce(cell_count, 0) AS cell_count
  FROM probe_cells p LEFT JOIN cells c ON p.depth = c.depth AND p.bucket = c.bucket
),
estimates AS (
  SELECT probe_token, min(cell_count) AS cm_estimate FROM looked_up GROUP BY probe_token
),
truth AS (
  SELECT token AS probe_token, CAST(count(*) AS BIGINT) AS true_count
  FROM tokens GROUP BY token
)
SELECT e.probe_token, cm_estimate, coalesce(true_count, 0) AS true_count
FROM estimates e LEFT JOIN truth t ON e.probe_token = t.probe_token
"""


CMS_SQL = _cms_sql()

# --- KMV (k-minimum-values) distinct-count sketch ----------------------------
#
# The deterministic alternative to HLL: per group keep the k smallest
# distinct 48-bit hashes of the value; the k-th minimum estimates the
# hash-space density, so distinct ≈ (k-1) · 2^48 / kth_min.  Unlike
# engine-native approx_count_distinct the construction is exact given
# the hash function — identical on every engine and every cluster
# layout, which is why it oracle-checks bit-for-bit.
#
# Scale shape: (group, hash) distinct is one map-side-combinable
# shuffle; the per-group k-minimum is a row_number window over groups
# (each group's distinct-hash set, not the raw rows).  Sketches merge
# by unioning hash sets and re-taking the k minimum — the mergeable-
# summary property that lets 1000 executors build partials
# independently.  Integer-only estimate arithmetic (48-bit domain keeps
# (k-1)·2^48 inside BIGINT); groups smaller than k report exactly.

KMV_K = 64
_KMV_HEX = 12  # 48-bit hash domain
_KMV_DOMAIN = 16**_KMV_HEX


def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-partkey estimate per lineitem return flag, with the
    exact distinct count alongside for calibration."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    hashes = li.selectExpr(
        "l_returnflag AS grp",
        f"CAST(conv(substr(md5(CAST(l_partkey AS STRING)), 1, {_KMV_HEX}), 16, 10)"
        " AS BIGINT) AS h",
    ).distinct()
    w = Window.partitionBy("grp").orderBy("h")
    topk = hashes.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= KMV_K
    )
    sketch = topk.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_sketch_hashes"),
        F.max("h").alias("kth_min_hash"),
    )
    exact = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.countDistinct("l_partkey").alias("exact_distinct")
    )
    return sketch.join(exact, "grp").selectExpr(
        "grp",
        "n_sketch_hashes",
        "kth_min_hash",
        f"CAST(CASE WHEN n_sketch_hashes < {KMV_K} THEN n_sketch_hashes"
        f" ELSE (({KMV_K} - 1) * {_KMV_DOMAIN}) div kth_min_hash END AS BIGINT)"
        " AS kmv_estimate",
        "exact_distinct",
    )


KMV_SQL = f"""
WITH hashes AS (
  SELECT DISTINCT l_returnflag AS grp,
         ('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, {_KMV_HEX}))::BIGINT AS h
  FROM lineitem
),
topk AS (
  SELECT grp, h FROM (
    SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rn FROM hashes
  ) WHERE rn <= {KMV_K}
),
sketch AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_sketch_hashes, max(h) AS kth_min_hash
  FROM topk GROUP BY grp
),
exact AS (
  SELECT l_returnflag AS grp, CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_distinct
  FROM lineitem GROUP BY l_returnflag
)
SELECT s.grp, n_sketch_hashes, kth_min_hash,
       CAST(CASE WHEN n_sketch_hashes < {KMV_K} THEN n_sketch_hashes
            ELSE (({KMV_K} - 1) * {_KMV_DOMAIN}) // kth_min_hash END AS BIGINT) AS kmv_estimate,
       exact_distinct
FROM sketch s JOIN exact e ON s.grp = e.grp
"""

# --- grid-histogram quantile sketch -----------------------------------------
#
# A mergeable quantile summary with deterministic cross-engine results:
# quantize values onto a fixed grid (cell = floor(v / width)), histogram
# by cell (cell-wise ADD is the merge — 1000 executors build partials
# independently, exactly like CMS/KMV above), answer quantile queries
# from the cumulative histogram as the first cell whose cumulative count
# reaches ceil(q·n).  Error is bounded by the grid width; unlike
# engine-native approx_percentile (t-digest/GK internals differ per
# engine and layout) the answer is bit-identical everywhere.  Integer
# rank arithmetic: ceil(q·n) = (q_pct·n + 99) // 100.
QUANTILE_CELL_WIDTH = 100  # on l_extendedprice


def quantile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return flag: grid-sketched p50/p95/p99 upper bounds of
    l_extendedprice (cell width 100)."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = (
        li.selectExpr(
            "l_returnflag AS grp",
            f"CAST(floor(l_extendedprice / {QUANTILE_CELL_WIDTH}.0) AS BIGINT) AS cell",
        )
        .groupBy("grp", "cell")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cum = hist.selectExpr(
        "grp",
        "cell",
        "sum(cnt) OVER (PARTITION BY grp ORDER BY cell"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum",
        "sum(cnt) OVER (PARTITION BY grp) AS n",
    )
    qcols = []
    for pct in (50, 95, 99):
        qcols.append(
            f"CAST(min(CASE WHEN cum >= ({pct} * n + 99) div 100"
            f" THEN (cell + 1) * {QUANTILE_CELL_WIDTH} END) AS BIGINT)"
            f" AS p{pct}_upper"
        )
    return cum.groupBy("grp").agg(
        *[F.expr(q) for q in qcols], F.expr("CAST(max(n) AS BIGINT) AS n_rows")
    )


QUANTILE_HIST_SQL = f"""
WITH hist AS (
  SELECT l_returnflag AS grp,
         CAST(floor(l_extendedprice / {QUANTILE_CELL_WIDTH}.0) AS BIGINT) AS cell,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
cum AS (
  SELECT grp, cell,
         CAST(SUM(cnt) OVER (PARTITION BY grp ORDER BY cell
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(SUM(cnt) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM hist
)
SELECT grp,
       CAST(min(CASE WHEN cum >= (50 * n + 99) // 100
            THEN (cell + 1) * {QUANTILE_CELL_WIDTH} END) AS BIGINT) AS p50_upper,
       CAST(min(CASE WHEN cum >= (95 * n + 99) // 100
            THEN (cell + 1) * {QUANTILE_CELL_WIDTH} END) AS BIGINT) AS p95_upper,
       CAST(min(CASE WHEN cum >= (99 * n + 99) // 100
            THEN (cell + 1) * {QUANTILE_CELL_WIDTH} END) AS BIGINT) AS p99_upper,
       CAST(max(n) AS BIGINT) AS n_rows
FROM cum
GROUP BY grp
"""


# --- HyperLogLog distinct-count sketch ---------------------------------------
#
# The classic register sketch, built DETERMINISTICALLY so it oracle-
# checks bit-for-bit (engine-native HLLs — Spark's approx_count_distinct,
# DuckDB's approx_count_distinct — use private hash/bias tables and can
# never cross-check):
#
# * register index = first 2 hex chars of md5(value) (p=8 → m=256);
# * rho = 1 + number of leading zero BITS in the next 48 hash bits,
#   computed from the hex string alone (strip leading '0' chars, then a
#   16-way CASE on the first non-zero nibble) — no log2/bit_length, so
#   both engines run the same exact string/integer ops;
# * register value = max(rho) per (group, register): ONE map-side-
#   combinable aggregation — registers merge by max, which is exactly
#   how 1000 executors combine partial sketches;
# * the harmonic-mean estimate stays exact: the indicator sum is kept as
#   the INTEGER sum of 2^(49-rho) (max 256·2^49 = 2^57 < int64), and the
#   only floating op is one final correctly-rounded IEEE division by a
#   shared literal numerator — deterministic on every engine.
#
# The small-range linear-counting correction (m·ln(m/V)) is deliberately
# NOT folded in: ln is libm-dependent (last-ulp divergence breaks the
# oracle); zero_registers is reported so callers can apply it.

_HLL_HEX_P = 2  # register index hex chars → m = 256
HLL_M = 16**_HLL_HEX_P
_HLL_RHO_HEX = 12  # 48 bits examined for the leading-zero run
_HLL_MAX_RHO = 4 * _HLL_RHO_HEX + 1  # all-zero tail → rho = 49
# alpha_m · m² · 2^49 as one shared literal: both engines divide the
# integer register sum into the SAME double constant.
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
_HLL_NUMERATOR = repr(_HLL_ALPHA * HLL_M * HLL_M * float(2**49))

# leading zero bits inside the first non-zero nibble
_NIBBLE_ZEROS = {"1": 3, "2": 2, "3": 2, "4": 1, "5": 1, "6": 1, "7": 1}


def _nibble_case(first_char: str) -> str:
    whens = " ".join(
        f"WHEN '{d}' THEN {z}" for d, z in _NIBBLE_ZEROS.items()
    )
    return f"CASE {first_char} {whens} ELSE 0 END"


def _rho_exprs(tail: str) -> tuple[str, str]:
    """(stripped, rho) SQL snippets shared by both engines."""
    stripped = f"regexp_replace({tail}, '^0+', '')"
    rho = (
        f"CASE WHEN {stripped} = '' THEN {_HLL_MAX_RHO} "
        f"ELSE 4 * ({_HLL_RHO_HEX} - length({stripped}))"
        f" + {_nibble_case(f'substr({stripped}, 1, 1)')} + 1 END"
    )
    return stripped, rho


def hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL distinct-user estimate per event type (m=256 registers), with
    the exact distinct count alongside for calibration."""
    ev = load_table(spark, sf_dir, "events")
    h = "md5(CAST(user_id AS STRING))"
    reg = f"CAST(conv(substr({h}, 1, {_HLL_HEX_P}), 16, 10) AS INT)"
    _, rho = _rho_exprs(f"substr({h}, {_HLL_HEX_P + 1}, {_HLL_RHO_HEX})")
    registers = (
        ev.selectExpr("event_type AS grp", f"{reg} AS reg", f"{rho} AS rho")
        .groupBy("grp", "reg")
        .agg(F.max("rho").alias("r"))
    )
    # The '__all__' row is produced by MERGING the per-group register
    # tables (register-wise max) — NOT by rescanning events.  This is
    # the mergeable-summary property exercised end-to-end: the oracle
    # computes the same row from raw data, so the hash match proves
    # merge(sketch(A), sketch(B)) == sketch(A ∪ B).
    merged = (
        registers.groupBy("reg")
        .agg(F.max("r").alias("r"))
        .select(F.lit("__all__").alias("grp"), "reg", "r")
    )
    registers = registers.unionByName(merged)
    sketch = registers.groupBy("grp").agg(
        F.expr(f"CAST({HLL_M} - count(*) AS INT) AS zero_registers"),
        F.expr(
            f"sum(shiftleft(CAST(1 AS BIGINT), {_HLL_MAX_RHO} - r))"
            f" + ({HLL_M} - count(*)) * shiftleft(CAST(1 AS BIGINT), {_HLL_MAX_RHO})"
            " AS register_sum"
        ),
    )
    exact = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    exact = exact.unionByName(
        ev.agg(F.countDistinct("user_id").alias("exact_distinct")).select(
            F.lit("__all__").alias("grp"), "exact_distinct"
        )
    )
    return sketch.join(exact, "grp").selectExpr(
        "grp",
        "zero_registers",
        "register_sum",
        f"CAST({_HLL_NUMERATOR} AS DOUBLE) / CAST(register_sum AS DOUBLE)"
        " AS hll_estimate",
        "exact_distinct",
    )


def _hll_sql() -> str:
    h = "md5(CAST(user_id AS VARCHAR))"
    idx_hex = f"substr({h}, 1, {_HLL_HEX_P})"
    digits = [
        f"(strpos('0123456789abcdef', substr({idx_hex}, {i + 1}, 1)) - 1)"
        for i in range(_HLL_HEX_P)
    ]
    reg = digits[0]
    for d in digits[1:]:
        reg = f"(16 * {reg} + {d})"
    _, rho = _rho_exprs(f"substr({h}, {_HLL_HEX_P + 1}, {_HLL_RHO_HEX})")
    return f"""
WITH per_grp AS (
  SELECT event_type AS grp, CAST({reg} AS INT) AS reg, max({rho}) AS r
  FROM events GROUP BY 1, 2
),
registers AS (
  SELECT * FROM per_grp
  UNION ALL
  SELECT '__all__' AS grp, reg, max(r) AS r FROM per_grp GROUP BY reg
),
sketch AS (
  SELECT grp,
         CAST({HLL_M} - count(*) AS INT) AS zero_registers,
         CAST(sum(CAST(1 AS BIGINT) << ({_HLL_MAX_RHO} - r)) AS BIGINT)
           + ({HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_MAX_RHO})
           AS register_sum
  FROM registers GROUP BY grp
),
exact AS (
  SELECT event_type AS grp, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
  FROM events GROUP BY event_type
  UNION ALL
  SELECT '__all__', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
)
SELECT s.grp, zero_registers, register_sum,
       CAST({_HLL_NUMERATOR} AS DOUBLE) / CAST(register_sum AS DOUBLE) AS hll_estimate,
       exact_distinct
FROM sketch s JOIN exact e ON s.grp = e.grp
"""


HLL_SQL = _hll_sql()


# --- correlated-sampling join-size estimation -------------------------------
#
# The planner-side use of synopses: estimate |orders ⋈ lineitem| without
# running the join.  Correlated (end-biased) sampling — Vengerov et al.
# 2015: both sides keep exactly the keys whose shared hash falls under
# the same threshold τ, so a sampled key is present on both sides or
# neither, and Σ c_A·c_B over sampled keys scaled by 1/p is the
# estimate.  The same md5→48-bit domain as the KMV sketch; τ = domain/16
# makes p exactly 1/16 and every step integer arithmetic.
#
# Scale shape: each side is scanned once and immediately filtered to
# ~1/16 of its keys, aggregated to per-key counts (map-side combinable)
# BEFORE the tiny sample-sample join; the exact count alongside (the
# calibration column, as in kmv_distinct) is the only full-join cost,
# and a production estimator drops it.

JOIN_EST_RATE_INV = 16
_JOIN_EST_TAU = _KMV_DOMAIN // JOIN_EST_RATE_INV


def _key_hash(col: str) -> str:
    return (
        f"CAST(conv(substr(md5(CAST({col} AS STRING)), 1, {_KMV_HEX}), 16, 10)"
        " AS BIGINT)"
    )


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    s_orders = (
        orders.filter(F.expr(f"{_key_hash('o_orderkey')} < {_JOIN_EST_TAU}"))
        .groupBy(F.col("o_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("ca"))
    )
    s_li = (
        li.filter(F.expr(f"{_key_hash('l_orderkey')} < {_JOIN_EST_TAU}"))
        .groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    est = s_orders.join(s_li, "k").agg(
        F.count(F.lit(1)).alias("n_sample_keys"),
        F.coalesce(
            F.sum(F.col("ca") * F.col("cb") * JOIN_EST_RATE_INV), F.lit(0)
        ).alias("est_join_size"),
    )
    exact = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .agg(F.count(F.lit(1)).alias("exact_join_size"))
    )
    return est.join(F.broadcast(exact))


JOIN_SIZE_EST_SQL = f"""
WITH s_orders AS (
  SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca
  FROM orders
  WHERE ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, {_KMV_HEX}))::BIGINT
        < {_JOIN_EST_TAU}
  GROUP BY o_orderkey
),
s_li AS (
  SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb
  FROM lineitem
  WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, {_KMV_HEX}))::BIGINT
        < {_JOIN_EST_TAU}
  GROUP BY l_orderkey
),
est AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sample_keys,
         CAST(coalesce(sum(ca * cb * {JOIN_EST_RATE_INV}), 0) AS BIGINT)
           AS est_join_size
  FROM s_orders JOIN s_li USING (k)
)
SELECT n_sample_keys, est_join_size,
       (SELECT CAST(count(*) AS BIGINT)
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey) AS exact_join_size
FROM est
"""


QUERIES = {
    "cms_token_counts": (cms_token_counts, CMS_SQL),
    "join_size_estimate": (join_size_estimate, JOIN_SIZE_EST_SQL),
    "kmv_distinct": (kmv_distinct, KMV_SQL),
    "quantile_histogram": (quantile_histogram, QUANTILE_HIST_SQL),
    "hll_distinct": (hll_distinct, HLL_SQL),
}
