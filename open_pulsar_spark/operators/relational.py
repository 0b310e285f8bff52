"""L1 relational core — declared queries over the TPC-H-ish tables.

Everything here is Catalyst-native — DataFrame code, or one SQL text
(`query_sql`) that is also the DuckDB oracle: filters and column
pruning push down to the parquet scan, joins pick broadcast vs
sort-merge via AQE, aggregations do map-side partial aggregation. No
Python UDFs in this module.

Scale notes (100 TB posture) per query are in each docstring, or in
the comment above a SQL text. The general rules:
  - dimension joins avoid shuffling the fact table: region/nation
    (schema-bounded) carry explicit broadcast hints; customer /
    supplier / part are SF-LINEAR, so their joins are unhinted — AQE
    broadcasts them while they fit and degrades to sort-merge beyond
    the 8 GB limit (the plan_hints rule, pinned in test_plans);
  - fact-fact joins (orders ⋈ lineitem) shuffle on the join key, which
    is also the natural bucketing key for a production layout;
  - all money aggregates are rounded in BOTH the Spark and oracle
    text so double summation-order noise can't flip the value hash.

Reference parity: the reference has no relational joins (SURVEY.md
§2.3) — these queries fill the declared gap for the driver's
correctness oracle, exercising the J/A/W/O-family Spark primitives
inventoried in SURVEY.md §2.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.registry import query, query_sql
from open_pulsar_spark.tables import load_table


def _money(col):  # stable 2-dp money sum
    return F.round(F.sum(col), 2)


def _revenue_e4():
    """Σ l_extendedprice·(1 − l_discount), exactly, in ten-thousandths of
    a dollar: price and discount are both 2-dp money, so
    price_cents × (100−d₁₀₀) is an integer, and a sum of integers is
    order-independent in both engines. Round it with `_e4_to_cents`.

    A double sum rounded to cents, round(sum(double), 2), lands on a
    half-cent boundary often enough over many output groups that Spark
    and DuckDB round it apart on some inputs. `_DUCK_REVENUE_CENTS` is
    the oracle twin of `_e4_to_cents(_revenue_e4())`.
    """
    return F.sum(
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
    )


def _e4_to_cents(col: str):
    """Ten-thousandths of a dollar rounded half-up to cents (integer div)."""
    return F.expr(f"(2 * {col} + 100) div 200") / 100.0


# DuckDB twin of `_e4_to_cents(_revenue_e4())`: Spark's `div` truncates
# toward zero while DuckDB's // floors, hence the sign split.
_DUCK_E4 = (
    "(2 * sum(round(l_extendedprice * 100)::BIGINT"
    " * (100 - round(l_discount * 100)::BIGINT))::BIGINT + 100)"
)
_DUCK_REVENUE_CENTS = (
    f"((CASE WHEN {_DUCK_E4} >= 0 THEN {_DUCK_E4} // 200"
    f" ELSE -((-{_DUCK_E4}) // 200) END)) / 100.0"
)


# --------------------------------------------------------------------------
# q1_pricing_summary — TPC-H Q1 shape: scan → filter → hash agg → sort.
# --------------------------------------------------------------------------
# Scale: single scan + partial agg; the groupBy key has ~6 distinct
# values so the shuffle is a few rows per partition. Filter and the
# 9-column projection push to parquet.
q1_pricing_summary = query_sql(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 6)                                        AS avg_qty,
           round(avg(l_extendedprice), 6)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM {lineitem}
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)


# --------------------------------------------------------------------------
# q3_top_revenue_orders — TPC-H Q3 shape: dim-filter → 3-way join → topk.
# --------------------------------------------------------------------------
@query(
    "q3_top_revenue_orders",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 unshipped-revenue orders for one market segment.

    Scale: customer is SF-linear, so the segment-filtered dim carries
    no forced hint — AQE broadcasts it while it fits and degrades to a
    shuffled join beyond the 8 GB limit; orders⋈lineitem shuffles on
    orderkey (the natural bucket key).  Top-k is a
    TakeOrderedAndProject — no global sort materialization.
    """
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(
            orders.join(
                cust.select("c_custkey"),
                orders.o_custkey == F.col("c_custkey"),
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_money(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


# --------------------------------------------------------------------------
# q5_region_revenue — TPC-H Q5 shape: snowflake join through region.
# --------------------------------------------------------------------------
@query(
    "q5_region_revenue",
    oracle=f"""
    SELECT n_name, {_DUCK_REVENUE_CENTS} AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue by nation within one region.

    Scale: region and nation (schema-bounded) carry forced broadcast
    hints; supplier and customer are SF-linear so their joins are left
    to AQE (broadcast while they fit, shuffle beyond 8 GB); the big
    shuffles are orders⋈customer (on custkey) and lineitem⋈orders
    (on orderkey). Revenue is the exact integer sum of `_revenue_e4`.
    """
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    supplier = load_table(spark, sf_dir, "supplier")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")

    nat_in_region = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select("n_nationkey", "n_name")
    supp = supplier.join(
        F.broadcast(nat_in_region), supplier.s_nationkey == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    cust = customer.select("c_custkey", "c_nationkey")

    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(supp, li.l_suppkey == F.col("s_suppkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(_revenue_e4().alias("s"))
        .select("n_name", _e4_to_cents("s").alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


# --------------------------------------------------------------------------
# mktsegment_order_stats — join + multi-agg with distinct count.
# --------------------------------------------------------------------------
# Scale: the customer join is unhinted (AQE broadcasts it while customer
# fits); the distinct count aggregates map-side.
mktsegment_order_stats = query_sql(
    "mktsegment_order_stats",
    """
    SELECT c_mktsegment,
           count(*)                         AS n_orders,
           count(DISTINCT o_custkey)        AS n_customers,
           round(sum(o_totalprice), 2)      AS total_revenue,
           round(avg(o_totalprice), 6)      AS avg_order_value,
           round(max(o_totalprice), 2)      AS max_order_value
    FROM {orders} JOIN {customer} ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)


# --------------------------------------------------------------------------
# customers_without_orders — anti join (SURVEY §2.3 gap: semi/anti).
# --------------------------------------------------------------------------
@query(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal
    FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_custkey IS NOT NULL)
    ORDER BY c_custkey
    """,
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers that never ordered — left_anti join.

    Scale: anti join shuffles both sides on custkey; at 100 TB the
    orders side would first be reduced to distinct o_custkey (Catalyst
    does this via the aggregate below the join).
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey").distinct()
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name", F.round("c_acctbal", 2).alias("acctbal"))
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# big_spender_nations — semi join + dim chain (SURVEY §2.3 F2/J3 shape).
# --------------------------------------------------------------------------
@query(
    "big_spender_nations",
    oracle="""
    SELECT n_name, count(*) AS n_big_spenders
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey IN (
        SELECT o_custkey FROM orders GROUP BY o_custkey
        HAVING round(sum(o_totalprice), 2) > 400000
    )
    GROUP BY n_name
    ORDER BY n_big_spenders DESC, n_name
    """,
)
def big_spender_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count per nation of customers whose lifetime spend > 400k.

    The reference's authorization semi-filter (telegram-agent.py:552-555)
    generalized: membership-set semi join, here derived from an
    aggregate instead of a config set.
    """
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    big = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("spend"))
        .where(F.col("spend") > 400000)
        .select("o_custkey")
    )
    return (
        cust.join(big, cust.c_custkey == big.o_custkey, "left_semi")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_big_spenders"))
        .orderBy(F.desc("n_big_spenders"), "n_name")
    )


# --------------------------------------------------------------------------
# top3_orders_per_customer — window ranking top-k per group (SURVEY §2.5 gap).
# --------------------------------------------------------------------------
@query(
    "top3_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rk
    FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_totalprice DESC, o_orderkey) AS rk
        FROM orders
    )
    WHERE rk <= 3 AND o_custkey < 100
    ORDER BY o_custkey, rk
    """,
)
def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price per customer (deterministic tiebreak on key).

    Scale: one shuffle on o_custkey, per-partition sort; no global sort.
    """
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where((F.col("rk") <= 3) & (F.col("o_custkey") < 100))
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            "rk",
        )
        .orderBy("o_custkey", "rk")
    )


# --------------------------------------------------------------------------
# order_priority_rollup — ROLLUP grouping sets (SURVEY §2.4 gap).
# --------------------------------------------------------------------------
order_priority_rollup = query_sql(
    "order_priority_rollup",
    """
    SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           count(*)                         AS n,
           round(sum(o_totalprice), 2)      AS total
    FROM {orders}
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    ORDER BY orderstatus, orderpriority
    """,
)


# --------------------------------------------------------------------------
# brand_size_pivot — conditional aggregation / pivot shape.
# --------------------------------------------------------------------------
brand_size_pivot = query_sql(
    "brand_size_pivot",
    """
    SELECT p_type,
           count(*) FILTER (WHERE p_size < 10)                  AS small_n,
           count(*) FILTER (WHERE p_size >= 10 AND p_size < 30) AS medium_n,
           count(*) FILTER (WHERE p_size >= 30)                 AS large_n,
           round(avg(p_retailprice), 6)                         AS avg_price
    FROM {part}
    GROUP BY p_type
    ORDER BY p_type
    """,
)


# --------------------------------------------------------------------------
# purchase_error_users — set ops (SURVEY §2.7 gap: intersect/except).
# --------------------------------------------------------------------------
@query(
    "purchase_error_users",
    oracle="""
    WITH p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
         e AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
         s AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'signup')
    SELECT user_id, 'purchase_and_error' AS cohort FROM (SELECT * FROM p INTERSECT SELECT * FROM e)
    UNION ALL
    SELECT user_id, 'purchase_not_signup' AS cohort FROM (SELECT * FROM p EXCEPT SELECT * FROM s)
    ORDER BY cohort, user_id
    """,
)
def purchase_error_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohorts built with INTERSECT / EXCEPT / UNION ALL."""
    ev = load_table(spark, sf_dir, "events")
    by_type = lambda t: ev.where(F.col("event_type") == t).select("user_id").distinct()
    p, e, s = by_type("purchase"), by_type("error"), by_type("signup")
    return (
        p.intersect(e)
        .withColumn("cohort", F.lit("purchase_and_error"))
        .unionAll(p.exceptAll(s).withColumn("cohort", F.lit("purchase_not_signup")))
        .orderBy("cohort", "user_id")
    )


# --------------------------------------------------------------------------
# user_running_revenue — running-sum analytic window (SURVEY §2.4 A4).
# --------------------------------------------------------------------------
# Per-user running purchase total — the reference's running session
# token accumulator (agent-loop.sh:706, SURVEY §2.4 A4) as a window agg.
user_running_revenue = query_sql(
    "user_running_revenue",
    """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM {events}
    WHERE user_id < 5 AND event_type = 'purchase'
    ORDER BY user_id, seq
    """,
)


# --------------------------------------------------------------------------
# events_daily_summary — date ops + JSON extraction (SURVEY §2.8 X4/X5).
# --------------------------------------------------------------------------
@query(
    "events_daily_summary",
    oracle="""
    SELECT strftime(date_trunc('day', ts::TIMESTAMP), '%Y-%m-%d') AS day,
           event_type,
           count(*)                                        AS n,
           round(sum(value), 2)                            AS total_value,
           sum(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT))::BIGINT AS sum_k -- TRY_CAST: Spark's lenient cast yields NULL on a malformed payload; a strict ::BIGINT would abort the oracle instead of degrading identically
    FROM events
    GROUP BY 1, 2
    ORDER BY day, event_type
    """,
)
def events_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily per-type rollup with a semi-structured JSON payload column —
    the reference's date-partitioned audit log + defensive JSON reads
    (agent-loop.sh:527-546, :418-422) as declarative expressions."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
            F.sum(F.get_json_object("props", "$.k").cast("bigint")).alias("sum_k"),
        )
        .orderBy("day", "event_type")
    )


# --------------------------------------------------------------------------
# orders_above_customer_avg — correlated scalar subquery, decorrelated.
# --------------------------------------------------------------------------
@query(
    "orders_above_customer_avg",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_custkey, o_totalprice,
                      round(o_totalprice * 100)::BIGINT AS cents
               FROM orders)
    , per AS (SELECT o_custkey,
                     2 * sum(cents)::BIGINT + count(*) AS num,
                     2 * count(*)                      AS den
              FROM o GROUP BY o_custkey)
    SELECT o.o_orderkey, o.o_custkey, round(o.o_totalprice, 2) AS totalprice,
           -- trunc division to mirror Spark's `div` (DuckDB // floors;
           -- they differ on negative sums, e.g. refunds in drifted data)
           ((CASE WHEN p.num >= 0 THEN p.num // p.den
                  ELSE -((-p.num) // p.den) END)) / 100.0 AS cust_avg
    FROM o JOIN per p ON p.o_custkey = o.o_custkey
    WHERE 2 * o.cents * (SELECT count(*) FROM o o2
                         WHERE o2.o_custkey = o.o_custkey)
          > 3 * (SELECT sum(o2.cents)::BIGINT FROM o o2
                 WHERE o2.o_custkey = o.o_custkey)
    ORDER BY o.o_orderkey
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery ("orders 1.5× above this customer's
    own average"), decorrelated into a window aggregate: the textbook
    rewrite Catalyst itself applies to correlated subqueries.

    The oracle states the correlated form; the Spark plan computes the
    per-customer aggregate OVER (PARTITION BY o_custkey) — ONE shuffle
    on the correlation key instead of a per-row subquery, and strictly
    better than the self-join rewrite (no second scan of orders).

    Money is summed in integer CENTS, the 1.5× threshold compared as
    2·cents·n > 3·Σcents, and the average rounded half-up to whole
    cents as (2·Σcents + n) div (2n) — integer arithmetic end to end,
    so the survivor set and the reported average are bit-identical
    across engines. (A double avg() differs in the last ulp between
    summation orders, and even on an identical double input Spark's
    BigDecimal HALF_UP round(x, 2) and DuckDB's C-library round can
    disagree at a half-cent — both observed on this dataset.)
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    w = Window.partitionBy("o_custkey")
    return (
        orders.select("o_orderkey", "o_custkey", "o_totalprice", cents.alias("cents"))
        .withColumn("sum_cents", F.sum("cents").over(w))
        .withColumn("n", F.count("*").over(w))
        .where(2 * F.col("cents") * F.col("n") > 3 * F.col("sum_cents"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            (
                F.expr("(2 * sum_cents + n) div (2 * n)") / 100.0
            ).alias("cust_avg"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# q7_nation_volume — TPC-H Q7 shape: fact⋈fact⋈fact with two dim lineages.
# --------------------------------------------------------------------------
@query(
    "q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l.l_shipdate)::BIGINT AS l_year,
           {_DUCK_REVENUE_CENTS} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1  ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2  ON n2.n_nationkey = c.c_nationkey
    WHERE n1.n_name < n2.n_name
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-nation shipping volume (TPC-H Q7 shape): the deepest join
    tree in the surface — lineitem⋈supplier⋈orders⋈customer with TWO
    independent nation lineages (supplier's and customer's).

    Plan posture: nation is broadcast twice (25 rows, bounded by
    schema); supplier and customer broadcast at test scale and
    sort-merge on their keys at 100 TB (AQE decides); the one
    unavoidable big shuffle is lineitem⋈orders on orderkey — the join
    bucketing co-locates (tables.write_bucketed, test_bucketing). The
    n1 < n2 predicate halves the output and is applied after the
    broadcast joins, JVM-side.

    Revenue is the exact integer sum of `_revenue_e4` (with 2k output
    groups, round(sum(double), 2) hash-mismatched in practice).
    """
    li = load_table(spark, sf_dir, "lineitem")
    su = load_table(spark, sf_dir, "supplier")
    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    na = load_table(spark, sf_dir, "nation")
    n1 = F.broadcast(na.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(na.select(F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(su, li.l_suppkey == su.s_suppkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(n1, su.s_nationkey == F.col("s_nk"))
        .join(n2, cu.c_nationkey == F.col("c_nk"))
        .where(F.col("supp_nation") < F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(_revenue_e4().alias("s"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            _e4_to_cents("s").alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


# --------------------------------------------------------------------------
# q10_returned_customers — TPC-H Q10 shape: returns-driven top customers.
# --------------------------------------------------------------------------
@query(
    "q10_returned_customers",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           {_DUCK_REVENUE_CENTS} AS revenue,
           round(c.c_acctbal, 2) AS acctbal
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by returned-merchandise revenue (TPC-H Q10
    shape): returnflag filter pushes to the lineitem scan, nation
    broadcasts, the orderkey join dominates and co-locates under the
    bucketed layout, and the top-k is TakeOrderedAndProject (no global
    sort materialized). revenue DESC ties broken by c_custkey so the
    LIMIT is deterministic cross-engine. Revenue is the exact integer
    sum of `_revenue_e4`.
    """
    cu = load_table(spark, sf_dir, "customer")
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    na = load_table(spark, sf_dir, "nation")
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(na), cu.c_nationkey == na.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(_revenue_e4().alias("s"))
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            _e4_to_cents("s").alias("revenue"),
            F.round("c_acctbal", 2).alias("acctbal"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# q9_brand_profit — TPC-H Q9 shape: part-driven profit rollup by year.
# --------------------------------------------------------------------------
@query(
    "q9_brand_profit",
    oracle=f"""
    SELECT p.p_brand, year(o.o_orderdate)::BIGINT AS o_year,
           {_DUCK_REVENUE_CENTS} AS profit
    FROM lineitem l
    JOIN part p   ON p.p_partkey = l.l_partkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE p.p_type = 'ECONOMY'
    GROUP BY p.p_brand, o_year
    ORDER BY p_brand, o_year
    """,
)
def q9_brand_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Profit by brand and order year for one product type (TPC-H Q9
    shape, minus the partsupp cost leg the test schema doesn't carry).

    Plan posture: the p_type filter pushes to the part scan; part is
    SF-linear so the filtered dim carries no forced hint (AQE
    broadcasts it while it fits, shuffles beyond 8 GB);
    lineitem⋈orders on orderkey is the single big shuffle, co-located
    under the bucketed layout. Profit is the exact integer sum of
    `_revenue_e4`, as in q7.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pa = load_table(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    od = load_table(spark, sf_dir, "orders")
    return (
        li.join(pa.select("p_partkey", "p_brand"), li.l_partkey == F.col("p_partkey"))
        .join(od, li.l_orderkey == od.o_orderkey)
        .groupBy("p_brand", F.year("o_orderdate").cast("bigint").alias("o_year"))
        .agg(_revenue_e4().alias("s"))
        .select("p_brand", "o_year", _e4_to_cents("s").alias("profit"))
        .orderBy("p_brand", "o_year")
    )


# --------------------------------------------------------------------------
# orders_cdc_merge — MERGE INTO semantics (insert/update/delete/carry)
# over a deterministic synthetic change batch.
# --------------------------------------------------------------------------
# A deterministic synthetic CDC batch (keys ≡0 mod 4 are inserts —
# excluded from the base snapshot; ≡0 mod 17 deletes; ≡0 mod 10 updates
# at +1 cent) applied with the full WHEN MATCHED / NOT MATCHED decision
# table, summarized per action with row counts, a cents total and an
# order-independent modular key checksum — the reconciliation artifact
# a lakehouse MERGE job emits. The decision table is the batch twin of
# streaming/lww_stream.py.
# Scale: ONE full-outer equi-join on the key (both sides shuffle once —
# the plan a Delta/Iceberg MERGE compiles to before file pruning) and a
# 5-group rollup. At 100 TB the base side prunes to files touched by the
# change-key ranges first (bloom_join_pruning measures that step).
orders_cdc_merge = query_sql(
    "orders_cdc_merge",
    """
    WITH base AS (
        SELECT o_orderkey AS k,
               round(o_totalprice * 100)::BIGINT AS cents
        FROM {orders} WHERE o_orderkey % 4 <> 0),
    cdc AS (
        SELECT o_orderkey AS k,
               CASE WHEN o_orderkey % 17 = 0 THEN 'D'
                    WHEN o_orderkey % 4 = 0 THEN 'I' ELSE 'U' END AS op,
               round(o_totalprice * 100)::BIGINT + 1 AS cents
        FROM {orders}
        WHERE o_orderkey % 4 = 0 OR o_orderkey % 17 = 0
              OR o_orderkey % 10 = 0),
    merged AS (
        SELECT coalesce(b.k, c.k) AS k,
               CASE WHEN c.k IS NULL THEN 'carry'
                    WHEN c.op = 'D' AND b.k IS NOT NULL THEN 'delete'
                    WHEN b.k IS NULL AND c.op <> 'D' THEN 'insert'
                    WHEN c.op = 'D' THEN 'noop_delete'
                    ELSE 'update' END AS action,
               CASE WHEN c.k IS NULL THEN b.cents
                    WHEN c.op = 'D' THEN NULL
                    ELSE c.cents END AS cents
        FROM base b FULL JOIN cdc c ON b.k = c.k)
    SELECT action,
           count(*)::BIGINT AS n_rows,
           coalesce(sum(cents), 0)::BIGINT AS sum_cents,
           (sum(((k % 1000003) * (k % 1000003)) % 999983))::BIGINT
               AS key_checksum
    FROM merged
    GROUP BY action
    ORDER BY action
    """,
)
