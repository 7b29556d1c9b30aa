"""Relational query coverage over the star schema.

The reference has NO joins, analytic windows, sorts/limits, or set ops
(SURVEY.md §2.3/2.5/2.6/2.7) — station metadata is denormalized into each
message. The harness's star schema exercises the full relational family;
everything here is built-in DataFrame/SQL, planned by Catalyst.

Cross-engine parity conventions (see masd_spark/queries/__init__.py):
- double SUMs go through DECIMAL(18,6) per-row casts -> exact, associative,
  order-independent -> round(2) -> cast back to double (identical bits in
  both engines; the scale-2 rounding keeps the decimal's unscaled value
  below 2^53 so the final conversion is exact — see _dec_sum);
- AVGs of doubles are rounded to 6 decimals (mean error is ~1e-10, so the
  rounding grid is 4+ orders of magnitude coarser than engine disagreement);
- computed integers are BIGINT on both sides (DuckDB's length/year/
  row_number return BIGINT where Spark returns INT);
- dates/timestamps surface as epoch-ms BIGINT;
- every LIMIT/top-k carries a unique tiebreaker.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from masd_spark.operators.relational import asof_join, sessionize, topk_per_group
from masd_spark.queries import finite_events, finite_values, register
from masd_spark.sources.tables import load_table, with_event_time


def _dec_sum(expr: Column) -> Column:
    """Order-independent, engine-portable double sum: exact DECIMAL(18,6)
    per-row casts -> exact sum -> round to money scale (2) -> double.

    Round-6 SF1 finding on the old form (plain decimal->double cast):
    once a group sum crosses ~9e9, the scale-6 decimal's unscaled value
    exceeds 2^53 and DuckDB's two-step int128->double->/1e6 conversion
    differs from Spark's correctly-rounded BigDecimal.doubleValue by one
    ulp (q1's sum_charge at SF1: ...93967 vs ...939674). Rounding the
    exact sum to scale 2 first keeps the unscaled value < 2^53 up to
    ~9e13 (SF ~2000 for TPC-H money), where int->double is EXACT and the
    single /100 is correctly rounded in both engines — verified
    bit-identical across magnitudes/signs incl. .xx5 ties (round() is
    half-away-from-zero in both; plain decimal CAST is not portable —
    DuckDB truncates). Oracle twin:
    CAST(CAST(round(SUM(CAST(x AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE)."""
    return (
        F.round(F.sum(expr.cast("decimal(18,6)")), 2)
        .cast("decimal(28,2)")
        .cast("double")
    )


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --------------------------------------------------------------------------
# Aggregation over a big fact table (TPC-H Q1 shape)
# --------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS sum_qty,
           CAST(CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS sum_base_price,
           CAST(CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS sum_disc_price,
           CAST(CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS sum_charge,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_extendedprice), 6) AS avg_price,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary (TPC-H Q1 shape): scan-heavy groupBy with 8
    aggregates. Catalyst pushes the shipdate filter and 6-column projection
    into the parquet scan; the aggregation is partial+final hash agg, so the
    shuffle carries ~6 groups per task regardless of fact size.
    """
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
            _dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
            _dec_sum(disc_price).alias("sum_disc_price"),
            _dec_sum(disc_price * (1 + F.col("l_tax"))).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Multi-table joins
# --------------------------------------------------------------------------


@register(
    "q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS revenue,
           epoch_ms(o_orderdate) AS o_orderdate_ms
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority (TPC-H Q3 shape): filtered 3-way join + top-10.

    Scale plan: the customer join strategy is left to Catalyst/AQE — at
    fixture scales the filtered dimension auto-broadcasts (plan-asserted
    in tests/test_plans.py), past the size threshold it degrades to a
    shuffle join instead of an OOM. The SF100 probe measured exactly
    this boundary: a hard F.broadcast(cust) hint OOM'd the 16g JVM at
    15M customers, because customer SCALES with the data — hints are
    reserved for genuinely bounded dims (nation/region, scalar
    aggregates). orders|x|lineitem is the one genuine shuffle (both
    sides partitioned on the order key). The top-10 is a
    TakeOrderedAndProject: per-partition heaps, no global sort.
    """
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01 00:00:00").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .select(
            "l_orderkey",
            "revenue",
            F.unix_millis("o_orderdate").alias("o_orderdate_ms"),
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_nation_revenue",
    oracle="""
    SELECT n_name,
           CAST(CAST(round(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue (TPC-H Q5 shape): 6-way join through the full
    snowflake. nation/region (constant-size) carry explicit broadcast
    hints; customer/supplier SCALE with the data, so their strategy is
    left to Catalyst/AQE — auto-broadcast at fixture scales
    (plan-asserted), shuffle join past the threshold (the SF100 probe
    OOM'd the hinted version at 15M customers / 1M suppliers). The only
    unavoidable shuffle is lineitem|x|orders on the order key.
    """
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == cust.c_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return joined.groupBy("n_name").agg(
        _dec_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_totalprice > 100000)
    """,
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers having a >100k order."""
    cust = _t(spark, sf_dir, "customer")
    big = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return cust.join(
        big, cust.c_custkey == big.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_mktsegment FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_anti_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no orders at all."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_mktsegment")


@register(
    "join_left_order_counts",
    oracle="""
    SELECT c_custkey,
           CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 0) AS DOUBLE) AS total_spend
    FROM customer LEFT JOIN orders ON c_custkey = o_custkey
    GROUP BY c_custkey
    """,
)
def join_left_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving order-less customers (count 0, spend 0)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.coalesce(
                F.sum(F.col("o_totalprice").cast("decimal(18,6)")), F.lit(0)
            )
            .cast("double")
            .alias("total_spend"),
        )
    )


# --------------------------------------------------------------------------
# Sorts / limits / top-k / distinct
# --------------------------------------------------------------------------


@register(
    "orderby_limit_top_orders",
    oracle="""
    SELECT o_orderkey, o_totalprice, o_orderpriority
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def orderby_limit_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 (SURVEY.md §2.6 — the reference delegates this to its
    serving DB). Spark plans order-by+limit as TakeOrderedAndProject:
    per-partition heaps of size 10, no global sort at any scale.
    """
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
    )


@register(
    "topk_orders_per_segment",
    oracle="""
    SELECT * FROM (
        SELECT c_mktsegment, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY c_mktsegment
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rank
        FROM orders JOIN customer ON o_custkey = c_custkey
    ) WHERE rank <= 3
    """,
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per market segment — the engine's topk_per_group
    operator (row_number window, one shuffle on the group key).
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    joined = orders.join(cust, orders.o_custkey == cust.c_custkey)
    top = topk_per_group(
        joined,
        ["c_mktsegment"],
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    )
    return top.select(
        "c_mktsegment", "o_orderkey", "o_totalprice", F.col("rank").cast("bigint").alias("rank")
    )


@register(
    "distinct_segment_nation",
    oracle="SELECT DISTINCT c_mktsegment, c_nationkey FROM customer",
)
def distinct_segment_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-dedup distinct (reference's only dedup is the per-batch station
    list — consumer.py:185); partial+final aggregate, shuffle carries
    distinct pairs only.
    """
    return _t(spark, sf_dir, "customer").select("c_mktsegment", "c_nationkey").distinct()


# --------------------------------------------------------------------------
# Set operations
# --------------------------------------------------------------------------


@register(
    "set_ops_nation_overlap",
    oracle="""
    SELECT 'both' AS tag, n FROM (
        SELECT c_nationkey AS n FROM customer
        INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'customer_only' AS tag, n FROM (
        SELECT c_nationkey AS n FROM customer
        EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def set_ops_nation_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT / UNION ALL in one result, tagged. The reference's
    only set-op analogue is the implicit union of N Kafka topics
    (SURVEY.md §2.7).
    """
    cust_n = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("n"))
    supp_n = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("n"))
    both = cust_n.intersect(supp_n).select(F.lit("both").alias("tag"), "n")
    # subtract == SQL EXCEPT (distinct); exceptAll would keep left surplus
    only = cust_n.subtract(supp_n).select(F.lit("customer_only").alias("tag"), "n")
    return both.unionByName(only)


# --------------------------------------------------------------------------
# Grouping sets / rollup / cube
# --------------------------------------------------------------------------


@register(
    "rollup_lineitem_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           count(*) AS n_rows,
           CAST(CAST(round(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_lineitem_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping id — subtotal + grand-total rows.

    Known cross-engine divergence on EMPTY input only (pinned in
    tests/test_empty_inputs.py): the SQL standard's () grouping set
    yields one grand-total row over zero rows (DuckDB does), Spark's
    rollup yields zero rows. Never bites with >=1 input row."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n_rows"),
            _dec_sum(F.col("l_quantity")).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n_rows", "sum_qty")
    )


@register(
    "cube_order_status_priority",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS n_orders,
           CAST(CAST(round(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_order_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dimensions with grouping id.

    Same empty-input-only grand-total divergence as
    rollup_lineitem_flags (see its docstring; pinned in
    tests/test_empty_inputs.py)."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            F.count("*").alias("n_orders"),
            _dec_sum(F.col("o_totalprice")).alias("sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n_orders", "sum_price")
    )


# --------------------------------------------------------------------------
# Analytic window functions
# --------------------------------------------------------------------------


@register(
    "window_customer_order_stats",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(row_number() OVER w AS BIGINT) AS rn,
           CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS BIGINT) AS gap_days,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                OVER (PARTITION BY o_custkey
                      ORDER BY o_orderdate NULLS LAST, o_orderkey NULLS LAST
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
               AS running_spend
    FROM orders
    WHERE o_orderkey IS NOT NULL
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS LAST,
                 o_orderkey)
    """,
)
def window_customer_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking + lag + running sum per customer (SURVEY.md §2.5 — ABSENT in
    the reference). Decimal running sum -> order-independent exactness.

    Null contract: a null o_orderdate still ranks (at the END of the
    customer's history — Spark defaults to NULLS FIRST ascending, DuckDB
    to NULLS LAST; both sides pin NULLS LAST explicitly) and its gap_days
    is null. A null o_orderkey, though, is excluded: the orderkey is the
    ordering's unique tiebreaker, and two same-date rows that BOTH lack
    it tie nondeterministically (observed in the null-fixture sweep).
    """
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    w = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), F.col("o_orderkey")
    )
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("bigint").alias("rn"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
        .cast("bigint")
        .alias("gap_days"),
        F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
        .over(run)
        .cast("double")
        .alias("running_spend"),
    )


# --------------------------------------------------------------------------
# Scalar function coverage
# --------------------------------------------------------------------------


@register(
    "scalar_string_math",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           lower(p_type) AS type_l,
           substring(p_name, 1, 8) AS name_prefix,
           CAST(length(p_name) AS BIGINT) AS name_len,
           p_brand || '|' || p_type AS brand_type,
           round(p_retailprice * 1.1, 2) AS price_up,
           CAST(abs(p_size - 25) AS BIGINT) AS size_dist,
           CAST(p_size % 7 AS BIGINT) AS size_mod,
           CAST(greatest(p_size, 10) AS BIGINT) AS size_floor10
    FROM part
    """,
)
def scalar_string_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String/math scalar-function sweep (SURVEY.md §2.8 — the reference
    uses only cast/from_json/to_timestamp/when/struct; a general engine
    needs the standard library).
    """
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.lower("p_type").alias("type_l"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.concat(F.col("p_brand"), F.lit("|"), F.col("p_type")).alias("brand_type"),
        F.round(F.col("p_retailprice") * 1.1, 2).alias("price_up"),
        F.abs(F.col("p_size") - 25).cast("bigint").alias("size_dist"),
        (F.col("p_size") % 7).cast("bigint").alias("size_mod"),
        F.greatest(F.col("p_size"), F.lit(10)).cast("bigint").alias("size_floor10"),
    )


@register(
    "scalar_datetime",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(month(o_orderdate) AS BIGINT) AS o_month,
           CAST(day(o_orderdate) AS BIGINT) AS o_day,
           CAST(dayofweek(o_orderdate) AS BIGINT) AS o_dow,
           epoch_ms(date_trunc('month', o_orderdate)) AS month_start_ms,
           strftime(o_orderdate, '%Y-%m-%d') AS o_date_str
    FROM orders
    """,
)
def scalar_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime scalar-function sweep. Note DuckDB dayofweek is 0=Sunday,
    Spark dayofweek is 1=Sunday -> aligned via (dayofweek-1).
    """
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("o_year"),
        F.month("o_orderdate").cast("bigint").alias("o_month"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("o_day"),
        (F.dayofweek("o_orderdate") - 1).cast("bigint").alias("o_dow"),
        F.unix_millis(F.date_trunc("month", F.col("o_orderdate"))).alias(
            "month_start_ms"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date_str"),
    )


@register(
    "json_extract_events",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num
    FROM events
    """,
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (fixture analogue of the
    reference's from_json parse, consumer.py:100-102, for ad-hoc paths).
    """
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k")
    return ev.select(
        "event_id", k.alias("k_str"), k.cast("bigint").alias("k_num")
    )


# --------------------------------------------------------------------------
# Sessionization + as-of join over the event stream table
# --------------------------------------------------------------------------


@register(
    "sessionize_events",
    oracle="""
    WITH marked AS (
        SELECT user_id, epoch_ms(ts) AS ts_ms,
               CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL
                         OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 21600000
                    THEN 1 ELSE 0 END AS is_new
        FROM events
        WHERE ts IS NOT NULL  -- sessionize's invalid-input contract
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts))
    ),
    sess AS (
        SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_ms
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS session_id
        FROM marked
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           count(*) AS n_events,
           min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms
    FROM sess GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (6-hour gap) via the engine's sessionize
    operator, then per-session stats. Batch twin of streaming
    session_window (SURVEY.md §2.9 extension). Gaps are compared in
    epoch-ms space on both sides so µs-level ties can't diverge.
    """
    ev = with_event_time(_t(spark, sf_dir, "events")).withColumn(
        "ts_ms", F.unix_millis("event_time")
    )
    s = sessionize(ev, "user_id", "ts_ms", gap_seconds=21600000)
    return (
        s.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts_ms").alias("session_start_ms"),
            F.max("ts_ms").alias("session_end_ms"),
        )
    )


@register(
    "asof_join_purchases",
    oracle="""
    WITH clicks AS (
        SELECT user_id, event_id, ts, value FROM events
        WHERE event_type = 'click'
          AND user_id IS NOT NULL AND ts IS NOT NULL  -- asof_join contract
    ),
    purchases AS (
        SELECT user_id, ts, value FROM events
        WHERE event_type = 'purchase'
          AND user_id IS NOT NULL AND ts IS NOT NULL
    )
    SELECT c.event_id, c.user_id, epoch_ms(c.ts) AS click_ts_ms,
           p.value AS asof_value
    FROM clicks c ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    """,
)
def asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click is annotated with the user's latest
    purchase value at-or-before the click. Engine operator asof_join —
    union + carry-forward, one shuffle, no pairwise explosion (the custom
    operator Spark lacks; DuckDB checks it with its native ASOF JOIN).
    """
    ev = with_event_time(_t(spark, sf_dir, "events"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "event_time", "value"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_time", "value"
    )
    out = asof_join(
        clicks,
        purchases,
        key_col="user_id",
        left_time="event_time",
        right_time="event_time",
        value_cols=["value"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_millis("event_time").alias("click_ts_ms"),
        F.col("asof_value"),
    )


@register(
    "range_join_clicks_purchases",
    oracle=finite_events("""
    WITH clicks AS (
        SELECT user_id, event_id, epoch_ms(ts) AS c_ms
        FROM events WHERE event_type = 'click'
    ),
    purchases AS (
        SELECT user_id, epoch_ms(ts) AS p_ms, value
        FROM events WHERE event_type = 'purchase'
    )
    SELECT c.event_id, c.user_id,
           count(*) AS n_nearby,
           CAST(CAST(round(SUM(CAST(p.value AS DECIMAL(18,6))), 2) AS DECIMAL(28,2)) AS DOUBLE) AS sum_value
    FROM clicks c JOIN purchases p
      ON c.user_id = p.user_id AND abs(c.c_ms - p.p_ms) <= 1800000
    GROUP BY 1, 2
    """),
)
def range_join_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (operators/relational.py:range_join): purchases within
    +/-30 min of each click by the same user, aggregated per click. The
    interval predicate runs as a bin-and-probe EQUI join (bin = ts div
    radius, 3 probe bins) — never the nested-loop theta-join DuckDB's
    oracle form would naively suggest.
    """
    from masd_spark.operators.relational import range_join

    ev = finite_values(_t(spark, sf_dir, "events"))
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.expr("ts div 1000000").alias("c_ms")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.expr("ts div 1000000").alias("p_ms"), "value"
    )
    j = range_join(clicks, purchases, ["user_id"], "c_ms", "p_ms", 1_800_000)
    return j.groupBy("event_id", "user_id").agg(
        F.count("*").alias("n_nearby"),
        _dec_sum(F.col("value")).alias("sum_value"),
    )


_EXISTS_SQL = """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
      AND NOT EXISTS (SELECT 1 FROM orders o2
                      WHERE o2.o_custkey = c.c_custkey
                        AND o2.o_orderstatus = 'F'
                        AND o2.o_totalprice < 50000)
"""


@register("subquery_exists_filter", oracle=_EXISTS_SQL)
def subquery_exists_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS / NOT EXISTS subqueries — Catalyst decorrelates
    them into left-semi and left-anti hash joins (asserted in
    test_plans.py), so the predicate runs at join speed, never as a
    per-row re-scan. Identical ANSI text runs on both engines.
    """
    from masd_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_SQL)


_SCALAR_SUBQ_SQL = """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
"""


@register("subquery_scalar_above_avg", oracle=_SCALAR_SUBQ_SQL)
def subquery_scalar_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery in a filter — plans as a one-row
    broadcast (subquery result reused across all partitions, the fact
    table scanned once).
    """
    from masd_spark.sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUBQ_SQL)


@register(
    "orderby_nulls_last_limit",
    oracle="""
    SELECT o_orderkey, nullif(o_orderstatus, 'O') AS status_or_null,
           o_totalprice
    FROM orders
    ORDER BY status_or_null NULLS LAST, o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def orderby_nulls_last_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort with explicit null ordering — a real cross-engine trap: Spark
    ASC defaults to NULLS FIRST, DuckDB to NULLS LAST, so portable sorts
    must state it. Unique tiebreaker keeps the LIMIT deterministic;
    TakeOrderedAndProject does the work per-partition.
    """
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
            "o_totalprice",
        )
        .orderBy(
            F.col("status_or_null").asc_nulls_last(),
            F.col("o_totalprice").desc(),
            "o_orderkey",
        )
        .limit(50)
    )


# --------------------------------------------------------------------------
# Ratio-to-parent: contribution analysis across a dimension hierarchy
# --------------------------------------------------------------------------

@register(
    "bi_ratio_to_parent",
    oracle="""
    WITH rev AS (
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    )
    SELECT region, nation,
           ROUND(revenue, 2) AS revenue,
           ROUND(revenue / sum(revenue) OVER (PARTITION BY region), 6)
               AS share_of_region,
           ROUND(revenue / sum(revenue) OVER (), 6) AS share_of_total
    FROM rev
    """,
)
def bi_ratio_to_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contribution analysis (ratio-to-parent/ratio-to-report): each
    nation's revenue as a share of its region and of the world. The base
    aggregate collapses the fact table to |nations| rows FIRST; both
    window ratios then run over that tiny frame (the global-frame window
    moves 25 rows to one partition — fine because the windows run on the
    AGGREGATE, never the fact table; putting the window before the agg is
    the classic mistake that serializes the full fact table). Decimal
    revenue sums; shares are ratios of identical doubles.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    rev = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), F.col("c_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                    "decimal(18,6)"
                )
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w_region = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(w_region), 6).alias(
            "share_of_region"
        ),
        F.round(F.col("revenue") / F.sum("revenue").over(w_all), 6).alias(
            "share_of_total"
        ),
    )


@register(
    "join_full_outer_period_reconcile",
    oracle="""
    WITH a AS (
        SELECT o_custkey, count(*) AS n_1995,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev_1995
        FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1
    ),
    b AS (
        SELECT o_custkey, count(*) AS n_2000,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   AS rev_2000
        FROM orders WHERE year(o_orderdate) = 2000 GROUP BY 1
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
           COALESCE(a.n_1995, 0) AS n_1995,
           ROUND(COALESCE(a.rev_1995, 0), 2) AS rev_1995,
           COALESCE(b.n_2000, 0) AS n_2000,
           ROUND(COALESCE(b.rev_2000, 0), 2) AS rev_2000,
           CASE WHEN a.o_custkey IS NULL THEN 'b_only'
                WHEN b.o_custkey IS NULL THEN 'a_only'
                ELSE 'both' END AS presence
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    """,
)
def join_full_outer_period_reconcile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER reconciliation of per-customer order activity between
    two periods (1995 vs 2000) — the one join type the registry lacked.
    Fixture exercises all three branches (~916 both / ~258 a_only /
    ~249 b_only at sf0.01). Both inputs collapse to |active customers|
    rows BEFORE the join, so the full outer runs on two small aggregates
    (sort-merge on o_custkey; at 100× both sides stay
    customer-cardinality, never fact-cardinality). Decimal sums make the
    revenue columns exact on both engines.
    """
    orders = load_table(spark, sf_dir, "orders")

    def period(year: int, n_name: str, rev_name: str) -> DataFrame:
        return (
            orders.filter(F.year("o_orderdate") == year)
            .groupBy("o_custkey")
            .agg(
                F.count("*").alias(n_name),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias(rev_name),
            )
        )

    a = period(1995, "n_1995", "rev_1995")
    b = period(2000, "n_2000", "rev_2000").withColumnRenamed(
        "o_custkey", "b_custkey"
    )
    joined = a.join(b, a.o_custkey == b.b_custkey, "full_outer")
    return joined.select(
        F.coalesce(a.o_custkey, b.b_custkey).alias("o_custkey"),
        F.coalesce("n_1995", F.lit(0)).alias("n_1995"),
        F.round(F.coalesce("rev_1995", F.lit(0.0)), 2).alias("rev_1995"),
        F.coalesce("n_2000", F.lit(0)).alias("n_2000"),
        F.round(F.coalesce("rev_2000", F.lit(0.0)), 2).alias("rev_2000"),
        F.when(a.o_custkey.isNull(), F.lit("b_only"))
        .when(b.b_custkey.isNull(), F.lit("a_only"))
        .otherwise(F.lit("both"))
        .alias("presence"),
    )


# --------------------------------------------------------------------------
# Modern Spark surface: VARIANT semi-structured data + SQL pipe syntax
# --------------------------------------------------------------------------


@register(
    "variant_extract_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           json_extract(props, '$.k') IS NOT NULL AS has_k,
           json_extract(props, '$.missing') IS NOT NULL AS has_missing
    FROM events
    """,
)
def variant_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access via Spark 4's VARIANT type: parse_json once
    into a variant value, then typed path extraction with variant_get /
    try_variant_get — the open-schema path for payload columns whose
    structure drifts (vs from_json's fixed schema, masd_parse_sensor_json,
    or per-path get_json_object re-parses, json_extract_events). VARIANT
    parses the JSON ONCE into a binary encoding; each extraction is a
    cheap path walk, which is the at-scale argument when many paths are
    pulled from one payload. try_variant_get on an absent path yields
    NULL (probed as has_missing).
    """
    ev = _t(spark, sf_dir, "events")
    v = F.parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "bigint").alias("k_num"),
        F.try_variant_get(v, "$.k", "bigint").isNotNull().alias("has_k"),
        F.try_variant_get(v, "$.missing", "string").isNotNull().alias("has_missing"),
    )


@register(
    "sql_pipe_order_counts",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_price
    FROM orders
    WHERE o_orderstatus = 'O'
    GROUP BY o_orderpriority
    """,
)
def sql_pipe_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front door, in Spark 4 pipe syntax (`|>`): the engine's
    tables are ordinary temp views, so users can run chained-operator
    SQL directly — each |> stage maps 1:1 onto the same logical plan the
    DataFrame API builds (one scan, pushed filter, partial+final agg).
    Money sums quantize to DECIMAL(18,2) before aggregating (exact,
    order-independent).
    """
    _t(spark, sf_dir, "orders").createOrReplaceTempView("pipe_orders")
    return spark.sql(
        """
        FROM pipe_orders
        |> WHERE o_orderstatus = 'O'
        |> AGGREGATE COUNT(*) AS n_orders,
                     ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                AS DOUBLE), 2) AS total_price
           GROUP BY o_orderpriority
        |> SELECT o_orderpriority, n_orders, total_price
        """
    )
