"""Analytics operators — aggregation / join / window / rollup / pivot /
top-k coverage over the driver testdata, each with a DuckDB oracle twin.

The reference engine has exactly one aggregate (record count,
``extract_data.go:23``); everything here is extension-tier capability for
the 100 TB north star, expressed with built-in DataFrame operators so
Catalyst plans them (broadcast for dims, partial aggregation, AQE).

Oracle-exactness design: double-typed measures are summed as
``DECIMAL(18,4)`` (exact, order-independent — a parallel double sum is
not reproducible across engines) and cast back to double at the end;
timestamps aggregate as epoch micros.  Both engines evaluate identical
rounding (ties are unreachable for binary doubles at 4 decimal places).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dbdiff_spark.io import cut_lineage, load_table


def _dsum(expr: str) -> str:
    """Exact, order-independent sum of a double expression (shared SQL).

    Quantizes each row to a 1e-4 integer grid and sums BIGINTs: parallel
    double summation is order-dependent, and double→DECIMAL casts diverge
    across engines (Spark goes through Java's shortest-string repr,
    DuckDB rounds the exact binary value).  ROUND(double) is
    half-away-from-zero in both engines, so the grid is bit-identical.
    """
    return f"CAST(SUM(CAST(ROUND(({expr}) * 10000) AS BIGINT)) AS DOUBLE) / 10000"


# epoch-micros literals (UTC)
_TS_19980902 = 904_694_400_000_000
_TS_19960101 = 820_454_400_000_000
_TS_19970101 = 852_076_800_000_000
SESSION_GAP_US = 30 * 60 * 1_000_000

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]


# --- Q1-style pricing summary (scan → filter → 8-agg groupBy) --------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        # bare-column comparison against a timestamp literal: pushes to
        # the parquet scan as a min/max-prunable range filter (wrapping
        # the column in unix_micros would disable pushdown entirely)
        li.filter(
            F.col("l_shipdate").cast("timestamp")
            <= F.timestamp_micros(F.lit(_TS_19980902))
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(_dsum("l_quantity")).alias("sum_qty"),
            F.expr(_dsum("l_extendedprice")).alias("sum_base_price"),
            F.expr(_dsum("l_extendedprice * (1 - l_discount)")).alias("sum_disc_price"),
            F.expr(_dsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)")).alias(
                "sum_charge"
            ),
            (F.expr(_dsum("l_quantity")) / F.count(F.lit(1))).alias("avg_qty"),
            (F.expr(_dsum("l_extendedprice")) / F.count(F.lit(1))).alias("avg_price"),
            (F.expr(_dsum("l_discount")) / F.count(F.lit(1))).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


Q1_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {_dsum('l_quantity')} AS sum_qty,
       {_dsum('l_extendedprice')} AS sum_base_price,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
       {_dsum('l_quantity')} / count(*) AS avg_qty,
       {_dsum('l_extendedprice')} / count(*) AS avg_price,
       {_dsum('l_discount')} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE epoch_us(l_shipdate) <= {_TS_19980902}
GROUP BY l_returnflag, l_linestatus
"""


# --- Q3-style shipping priority (3-way join → agg → top-k) -----------------


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer is the small side → broadcast kills the shuffle
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        joined.groupBy(
            "l_orderkey",
            F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .agg(F.expr(_dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


Q3_SQL = f"""
SELECT l_orderkey, epoch_us(o_orderdate) AS o_orderdate_us, o_orderpriority,
       {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey, epoch_us(o_orderdate), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


# --- Q5-style regional revenue (5-way join incl. two broadcast dims) -------


def q5_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        # pushable range filter (see q1 note on bare-column comparisons)
        (F.col("o_orderdate").cast("timestamp") >= F.timestamp_micros(F.lit(_TS_19960101)))
        & (F.col("o_orderdate").cast("timestamp") < F.timestamp_micros(F.lit(_TS_19970101)))
    )
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)),
            cust.c_nationkey == nation.n_nationkey,
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(F.expr(_dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


Q5_SQL = f"""
SELECT n_name, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND epoch_us(o_orderdate) >= {_TS_19960101}
  AND epoch_us(o_orderdate) < {_TS_19970101}
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# --- left / semi / anti joins ----------------------------------------------


def customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join keeping order-less customers (n_orders = 0)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(_dsum("o_totalprice")).alias("total_spend"),
    )
    return cust.join(
        per_cust, cust.c_custkey == per_cust.o_custkey, "left"
    ).select(
        "c_custkey",
        "c_name",
        F.coalesce(F.col("n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("total_spend"), F.lit(0.0)).alias("total_spend"),
    )


CUSTOMER_ORDER_STATS_SQL = f"""
SELECT c_custkey, c_name,
       coalesce(n_orders, 0) AS n_orders,
       coalesce(total_spend, 0.0) AS total_spend
FROM customer
LEFT JOIN (
  SELECT o_custkey, count(*) AS n_orders, {_dsum('o_totalprice')} AS total_spend
  FROM orders GROUP BY o_custkey
) po ON c_custkey = o_custkey
"""


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (reference has no predicates at all; NOT EXISTS is core
    engine vocabulary for pipeline hygiene checks)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


# --- pivot ------------------------------------------------------------------


def orders_priority_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per status × priority (fixed priority list so
    the output schema is static — required at scale; dynamic pivot forces
    an extra distinct pass)."""
    orders = load_table(spark, sf_dir, "orders")
    piv = (
        orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", _PRIORITIES)
        .agg(F.count(F.lit(1)))
    )
    renames = {p: f"n_{p[0]}" for p in _PRIORITIES}  # 1-URGENT -> n_1
    out = piv.select(
        "o_orderstatus",
        *[F.coalesce(F.col(f"`{p}`"), F.lit(0)).alias(renames[p]) for p in _PRIORITIES],
    )
    return out


ORDERS_PRIORITY_PIVOT_SQL = """
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_1,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_2,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_3,
       count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS n_4,
       count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS n_5
FROM orders
GROUP BY o_orderstatus
"""


# --- rollup -----------------------------------------------------------------


def events_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(event_type, day): per-type-per-day, per-type subtotal, and
    grand total in one pass (partial aggregation map-side; one shuffle)."""
    ev = load_table(spark, sf_dir, "events")
    with_day = ev.select(
        F.col("event_type"),
        F.expr("CAST(FLOOR(unix_micros(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT)").alias(
            "day"
        ),
        F.col("value"),
    )
    return with_day.rollup("event_type", "day").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.expr(_dsum("value")).alias("total_value"),
    )


EVENTS_ROLLUP_SQL = f"""
SELECT event_type, day, count(*) AS n_events, {_dsum('value')} AS total_value
FROM (
  SELECT event_type,
         CAST(FLOOR(epoch_us(ts) / 86400000000) AS BIGINT) AS day,
         value
  FROM events
)
GROUP BY ROLLUP (event_type, day)
"""


# --- window functions -------------------------------------------------------


def top_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user — the canonical top-k-per-group
    window (row_number, deterministic event_id tiebreak)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id")
    )
    return (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


TOP_EVENTS_PER_USER_SQL = """
SELECT user_id, event_id, event_type, value, rn
FROM (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
  FROM events
)
WHERE rn <= 3
"""


def user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag(ts) + gap>30min cumsum — the batch analogue
    of streaming session windows (pyspark_guide 'Common OLAP patterns')."""
    ev = load_table(spark, sf_dir, "events")
    with_us = ev.select(
        "user_id",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = with_us.select(
        "user_id",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > SESSION_GAP_US, 1
        )
        .otherwise(0)
        .alias("new_session"),
    )
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum("new_session") + F.lit(1)).cast("long").alias("n_sessions"),
    )


USER_SESSIONS_SQL = f"""
SELECT user_id, count(*) AS n_events, CAST(sum(new_session) + 1 AS BIGINT) AS n_sessions
FROM (
  SELECT user_id,
         CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY epoch_us(ts), event_id
              ) > {SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
GROUP BY user_id
"""


def brand_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate + unpartitioned window: each brand's share of total
    revenue (window-over-aggregate pattern)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.expr(_dsum("l_extendedprice * (1 - l_discount)")).alias("revenue"))
    )
    return rev.select(
        "p_brand",
        "revenue",
        # total summed as decimal: exact and order-independent, so the
        # division is bit-identical across engines
        (F.col("revenue") / F.expr(
            "CAST(SUM(CAST(revenue AS DECIMAL(18,4))) OVER () AS DOUBLE)"
        )).alias("share"),
    )


BRAND_REVENUE_SHARE_SQL = f"""
SELECT p_brand, revenue,
       revenue / CAST(SUM(CAST(revenue AS DECIMAL(18,4))) OVER () AS DOUBLE) AS share
FROM (
  SELECT p_brand, {_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
"""


def q4_orders_with_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS, TPC-H Q4 shape): orders with at least one
    returned line item, counted per priority.  The semi join streams the
    orders side and never materializes the match payload — at scale the
    probe side carries only ``l_orderkey`` through the shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    returned = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    return (
        orders.join(returned, orders.o_orderkey == returned.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def daily_revenue_ma7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-framed sliding window: per-day order revenue with a 7-day
    trailing moving average.

    The window frame is RANGE (value-based, ``[day-6, day]``) — distinct
    from the engine's ROWS-framed windows — so gap days genuinely shrink
    the average.  Scale shape: the window input is the DAILY aggregate
    (bounded at one row per calendar day, ~36k rows per century), so the
    single-partition global sort after the groupBy is deliberate and
    safe; the unbounded-cardinality work all happens in the partial-agg
    groupBy before it.  Revenue stays on the exact 1e-4 BIGINT grid
    through the window sum; one double division at the end.
    """
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000").alias(
            "day_num"
        )
    ).agg(
        F.expr("SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT))").alias("rev_e4")
    )
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day_num",
        (F.col("rev_e4").cast("double") / 10000).alias("day_revenue"),
        (
            F.sum("rev_e4").over(w).cast("double") / 10000
            / F.count(F.lit(1)).over(w)
        ).alias("ma7_revenue"),
    )


DAILY_REVENUE_MA7_SQL = """
WITH daily AS (
  SELECT CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS day_num,
         SUM(CAST(ROUND(o_totalprice * 10000) AS BIGINT)) AS rev_e4
  FROM orders
  GROUP BY 1
)
SELECT day_num,
       CAST(rev_e4 AS DOUBLE) / 10000 AS day_revenue,
       CAST(SUM(rev_e4) OVER w AS DOUBLE) / 10000 / COUNT(*) OVER w AS ma7_revenue
FROM daily
WINDOW w AS (ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


def orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form behind rollup/cube
    (both already covered): (status, priority), (status), and grand
    total in ONE pass with grouping() flags disambiguating the NULLs
    of higher aggregation levels."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderstatus"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(_dsum("o_totalprice")).alias("total_price"),
    )


ORDERS_GROUPING_SETS_SQL = f"""
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
       CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       {_dsum('o_totalprice')} AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) alongside a plain count — Catalyst plans this as
    the two-phase expand aggregation (partial distinct per partition,
    then merge), the scale-correct shape for distinct counts; swap in
    ``approx_count_distinct`` (HLL++) when a ~2% error is acceptable and
    the distinct set per group no longer fits a hash set."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("event_type")
    )


DISTINCT_USERS_SQL = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_events
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def order_value_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) quartile assignment per priority class, summarized to
    per-(priority, quartile) count and exact value bounds.  The ntile
    ORDER BY carries the key as a tiebreaker so the assignment (and the
    oracle comparison) is deterministic under equal prices; min/max are
    order-insensitive so no float-summation hazard."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    q = orders.select(
        "o_orderpriority", "o_totalprice", F.ntile(4).over(w).alias("quartile")
    )
    return (
        q.groupBy("o_orderpriority", "quartile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo_price"),
            F.max("o_totalprice").alias("hi_price"),
        )
        .orderBy("o_orderpriority", "quartile")
    )


ORDER_VALUE_QUARTILES_SQL = """
SELECT o_orderpriority, quartile,
       CAST(count(*) AS BIGINT) AS n_orders,
       min(o_totalprice) AS lo_price,
       max(o_totalprice) AS hi_price
FROM (
  SELECT o_orderpriority, o_totalprice,
         ntile(4) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey) AS quartile
  FROM orders
)
GROUP BY o_orderpriority, quartile
ORDER BY o_orderpriority, quartile
"""


def customer_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer linear trend of order value (OLS slope, cents/day)
    from exact integer moments — the statistical-aggregate family
    (regr_slope/corr) with the float-summation hazard removed: n, Σx,
    Σy, Σxy, Σxx accumulate as BIGINTs (associative, order-insensitive,
    map-side combinable), and the ONLY floating-point step is one IEEE
    division both engines perform identically.

    Scale shape: a single groupBy(custkey) with five integer sums —
    partial aggregation does almost all the work executor-side; no
    window, no second pass.  Slope is NULL for a customer whose orders
    share one day (zero date variance)."""
    orders = load_table(spark, sf_dir, "orders")
    moments = (
        orders.select(
            "o_custkey",
            F.expr(
                "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
            ).alias("x"),
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias("y"),
        )
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        .filter(F.col("n_orders") >= 5)
    )
    den = F.col("n_orders") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n_orders") * F.col("sxy") - F.col("sx") * F.col("sy")
    return moments.select(
        "o_custkey",
        "n_orders",
        F.when(den != 0, num.cast("double") / den.cast("double")).alias(
            "slope_cents_per_day"
        ),
    )


CUSTOMER_VALUE_TREND_SQL = """
WITH moments AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM (
    SELECT o_custkey,
           CAST(epoch_us(o_orderdate) AS BIGINT) // 86400000000 AS x,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) AS y
    FROM orders
  )
  GROUP BY o_custkey
  HAVING count(*) >= 5
)
SELECT o_custkey, n_orders,
       CASE WHEN n_orders * sxx - sx * sx <> 0
            THEN CAST(n_orders * sxy - sx * sy AS DOUBLE)
                 / CAST(n_orders * sxx - sx * sx AS DOUBLE)
       END AS slope_cents_per_day
FROM moments
"""


# --- Q8-style market share (7-way join + share-of-total) --------------------
#
# The widest join in the suite — the shape that exercises Catalyst's
# join reordering and broadcast selection: lineitem at the center, five
# broadcast dimensions (part filtered, supplier, both nation roles,
# customer, region filtered) and a keyed orders join.  The share is the
# only double op: both volumes are exact integer cents, so the single
# division is correctly-rounded IEEE — bit-identical in both engines.

Q8_PART_TYPE = "PROMO"
Q8_SUPP_NATION = "NATION_3"
Q8_CUST_REGION = "ASIA"

_CENTS = "CAST(SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)) AS BIGINT)"


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == Q8_PART_TYPE)
    supp = load_table(spark, sf_dir, "supplier")
    sup_nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = load_table(spark, sf_dir, "customer")
    cust_nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == Q8_CUST_REGION
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sup_nation), supp.s_nationkey == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nation), cust.c_nationkey == F.col("cn_key"))
        .join(F.broadcast(region), F.col("cn_region") == region.r_regionkey)
        .select(
            F.expr("year(CAST(o_orderdate AS TIMESTAMP))").alias("o_year"),
            "l_extendedprice",
            "l_discount",
            "supp_nation",
        )
    )
    return (
        joined.groupBy("o_year")
        .agg(
            F.expr(f"{_CENTS} AS total_cents"),
            F.expr(
                "CAST(SUM(CASE WHEN supp_nation = "
                f"'{Q8_SUPP_NATION}' THEN "
                "CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)"
                " ELSE 0 END) AS BIGINT) AS nation_cents"
            ),
        )
        .selectExpr(
            "o_year",
            "total_cents",
            "nation_cents",
            "CAST(nation_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS mkt_share",
        )
        .orderBy("o_year")
    )


Q8_SQL = f"""
SELECT o_year, total_cents, nation_cents,
       CAST(nation_cents AS DOUBLE) / CAST(total_cents AS DOUBLE) AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         {_CENTS} AS total_cents,
         CAST(SUM(CASE WHEN supp_nation = '{Q8_SUPP_NATION}' THEN
              CAST(ROUND((l_extendedprice * (1 - l_discount)) * 10000) AS BIGINT)
              ELSE 0 END) AS BIGINT) AS nation_cents
  FROM (
    SELECT o_orderdate, l_extendedprice, l_discount, sn.n_name AS supp_nation
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    JOIN region ON cn.n_regionkey = r_regionkey
    WHERE p_type = '{Q8_PART_TYPE}' AND r_name = '{Q8_CUST_REGION}'
  )
  GROUP BY 1
)
ORDER BY o_year
"""


def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: trade volume between DISTINCT supplier/customer nation
    pairs by ship year — the classic two-dimension-table double-join
    (nation joined twice under different roles), revenue in exact
    cents.  Both nation sides broadcast; the fact chain shuffles only
    on its join keys."""
    supp = load_table(spark, sf_dir, "supplier")
    sup_nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cust = load_table(spark, sf_dir, "customer")
    cust_nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sup_nation), supp.s_nationkey == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cust_nation), cust.c_nationkey == F.col("cn_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .select(
            "supp_nation",
            "cust_nation",
            F.expr("year(CAST(l_shipdate AS TIMESTAMP))").alias("l_year"),
            "l_extendedprice",
            "l_discount",
        )
    )
    return (
        joined.groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.expr(f"{_CENTS} AS volume_cents"),
            F.expr("CAST(count(*) AS BIGINT) AS n_lineitems"),
        )
    )


Q7_SQL = f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       {_CENTS} AS volume_cents,
       CAST(count(*) AS BIGINT) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE sn.n_name <> cn.n_name
GROUP BY 1, 2, 3
"""


# --- RFM customer segmentation ----------------------------------------------
#
# The classic CRM cut: quartile-bin every customer on Recency (last
# order epoch), Frequency (order count) and Monetary (lifetime cents),
# label the 4×4×4 segments, and report segment sizes + value.  Bin 4 is
# best on every axis.  Each axis uses the DISTRIBUTED exact NTILE from
# the layout module (value-range bucketing + a bounded offset table —
# bit-identical to the window NTILE without the corpus-sized
# single-reducer window), tie-broken on custkey so the cut is
# deterministic in both engines.  Output is ≤64 rows.


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dbdiff_spark.ops.layout import _exact_ntile

    orders = load_table(spark, sf_dir, "orders")
    cust = orders.groupBy("o_custkey").agg(
        F.expr("max(unix_micros(CAST(o_orderdate AS TIMESTAMP)))").alias("r_us"),
        F.count(F.lit(1)).cast("bigint").alias("f_orders"),
        F.expr("sum(CAST(ROUND(o_totalprice * 100) AS BIGINT))").alias("m_cents"),
    )
    # pin the per-customer aggregate (three bin joins + the final
    # rollup consume it; unpinned, each re-runs the orders groupBy) and
    # fuse the derivation scalars — total plus all three axes' min/max
    # — into ONE agg job instead of four sequential ones (r12)
    cust = cut_lineage(cust, eager=False)
    s = cust.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            f(c).alias(f"{c}_{nm}")
            for c in ("r_us", "f_orders", "m_cents")
            for nm, f in (("lo", F.min), ("hi", F.max))
        ],
    ).first()
    total = int(s["n"])
    binned = cust
    for val, out in (("r_us", "r_bin"), ("f_orders", "f_bin"), ("m_cents", "m_bin")):
        binned = _exact_ntile(
            binned, val, "o_custkey", 4, total, out,
            bounds=(s[f"{val}_lo"], s[f"{val}_hi"]),
        )
    return (
        binned.selectExpr(
            "concat(CAST(r_bin AS STRING), CAST(f_bin AS STRING),"
            " CAST(m_bin AS STRING)) AS segment",
            "m_cents",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("m_cents").cast("bigint").alias("total_cents"),
        )
    )


RFM_SEGMENTS_SQL = """
WITH cust AS (
  SELECT o_custkey,
         max(epoch_us(o_orderdate)) AS r_us,
         CAST(count(*) AS BIGINT) AS f_orders,
         CAST(sum(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS m_cents
  FROM orders GROUP BY o_custkey
),
binned AS (
  SELECT m_cents,
         NTILE(4) OVER (ORDER BY r_us, o_custkey) AS r_bin,
         NTILE(4) OVER (ORDER BY f_orders, o_custkey) AS f_bin,
         NTILE(4) OVER (ORDER BY m_cents, o_custkey) AS m_bin
  FROM cust
)
SELECT concat(CAST(r_bin AS VARCHAR), CAST(f_bin AS VARCHAR),
              CAST(m_bin AS VARCHAR)) AS segment,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(m_cents) AS BIGINT) AS total_cents
FROM binned GROUP BY 1
"""


# --- ranking under uncertainty: Wilson lower bound ---------------------------
#
# "Worst suppliers by return rate" done right: raw rates over-rank
# small-sample suppliers, so rank by the Wilson score interval's LOWER
# bound (z = 2 exactly, so z² = 4 — no irrational constants).  The
# bound is one fixed textual double expression over two integer counts
# (sqrt is a correctly-rounded IEEE op), ppm-quantized; the per-
# supplier counts are one map-side-combined aggregate and the top-k is
# TakeOrdered.

_WILSON_Z2 = 4  # z = 2 (~97.7% one-sided)
WILSON_TOP = 10

_WILSON_LB = (
    "CAST(ROUND((((p_hat + (CAST(2 AS DOUBLE) / nn)) "
    "- (CAST(2 AS DOUBLE) * sqrt(((p_hat * (CAST(1 AS DOUBLE) - p_hat)) / nn) "
    "+ (CAST(1 AS DOUBLE) / (nn * nn))))) "
    f"/ (CAST(1 AS DOUBLE) + (CAST({_WILSON_Z2} AS DOUBLE) / nn))) "
    "* CAST(1000000 AS DOUBLE)) AS BIGINT)"
)


def supplier_return_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``WILSON_TOP`` suppliers by Wilson lower-bound return rate
    (ties → smaller suppkey)."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.expr(
            "CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("n_returns"),
    )
    scored = counts.selectExpr(
        "l_suppkey",
        "n_lines",
        "n_returns",
        "CAST(n_lines AS DOUBLE) AS nn",
        "CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p_hat",
    ).selectExpr("l_suppkey", "n_lines", "n_returns", f"{_WILSON_LB} AS wilson_lb_ppm")
    w = Window.orderBy(F.col("wilson_lb_ppm").desc(), F.col("l_suppkey"))
    return (
        scored.orderBy(F.col("wilson_lb_ppm").desc(), F.col("l_suppkey"))
        .limit(WILSON_TOP)
        .select(
            F.row_number().over(w).alias("rank"),
            "l_suppkey",
            "n_lines",
            "n_returns",
            "wilson_lb_ppm",
        )
    )


SUPPLIER_RETURN_SQL = f"""
WITH counts AS (
  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_returns
  FROM lineitem GROUP BY l_suppkey
),
scored AS (
  SELECT l_suppkey, n_lines, n_returns, {_WILSON_LB} AS wilson_lb_ppm
  FROM (
    SELECT l_suppkey, n_lines, n_returns,
           CAST(n_lines AS DOUBLE) AS nn,
           CAST(n_returns AS DOUBLE) / CAST(n_lines AS DOUBLE) AS p_hat
    FROM counts
  )
)
SELECT CAST(row_number() OVER (ORDER BY wilson_lb_ppm DESC, l_suppkey) AS INT)
         AS rank, l_suppkey, n_lines, n_returns, wilson_lb_ppm
FROM scored ORDER BY wilson_lb_ppm DESC, l_suppkey LIMIT {WILSON_TOP}
"""


QUERIES = {
    "rfm_segments": (rfm_segments, RFM_SEGMENTS_SQL),
    "supplier_return_quality": (supplier_return_quality, SUPPLIER_RETURN_SQL),
    "q1_pricing_summary": (q1_pricing_summary, Q1_SQL),
    "q7_nation_volume": (q7_nation_volume, Q7_SQL),
    "q8_market_share": (q8_market_share, Q8_SQL),
    "order_value_quartiles": (order_value_quartiles, ORDER_VALUE_QUARTILES_SQL),
    "q3_top_revenue_orders": (q3_top_revenue_orders, Q3_SQL),
    "q5_regional_revenue": (q5_regional_revenue, Q5_SQL),
    "customer_order_stats": (customer_order_stats, CUSTOMER_ORDER_STATS_SQL),
    "customers_without_orders": (
        customers_without_orders,
        CUSTOMERS_WITHOUT_ORDERS_SQL,
    ),
    "orders_priority_pivot": (orders_priority_pivot, ORDERS_PRIORITY_PIVOT_SQL),
    "events_rollup": (events_rollup, EVENTS_ROLLUP_SQL),
    "top_events_per_user": (top_events_per_user, TOP_EVENTS_PER_USER_SQL),
    "user_sessions": (user_sessions, USER_SESSIONS_SQL),
    "brand_revenue_share": (brand_revenue_share, BRAND_REVENUE_SHARE_SQL),
    "q4_orders_with_returns": (q4_orders_with_returns, Q4_SQL),
    "daily_revenue_ma7": (daily_revenue_ma7, DAILY_REVENUE_MA7_SQL),
    "orders_grouping_sets": (orders_grouping_sets, ORDERS_GROUPING_SETS_SQL),
    "distinct_users_per_type": (distinct_users_per_type, DISTINCT_USERS_SQL),
    "customer_value_trend": (customer_value_trend, CUSTOMER_VALUE_TREND_SQL),
}
