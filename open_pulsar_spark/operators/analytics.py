"""L1 analytic extensions: CUBE grouping sets, ranking-function family,
exact quantiles, and unpivot — the remaining Catalyst-built-in surface
flagged as gaps in SURVEY.md §2.4/§2.5.

All JVM-side; ranking orders always carry a unique tiebreaker wherever
the function's output depends on intra-tie row order (ntile, lag,
lead), and deliberately rank over a coarsened key where tie behavior
itself is under test (rank vs dense_rank).
"""

from __future__ import annotations

import threading
from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import pin
from open_pulsar_spark.operators.prefix import exclusive_prefix_max, global_prefix
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table


# --------------------------------------------------------------------------
# order_cube — CUBE with grouping_id.
# --------------------------------------------------------------------------
@query(
    "order_cube",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           grouping(o_orderstatus, o_orderpriority) AS gid,
           count(*)                         AS n,
           round(sum(o_totalprice), 2)      AS total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, orderstatus, orderpriority
    """,
)
def order_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over status × priority with the grouping-id bitmask
    (same bitmask semantics in Spark's grouping_id and DuckDB's
    GROUPING — verified)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("orderpriority"),
            "gid",
            "n",
            "total",
        )
        .orderBy("gid", "orderstatus", "orderpriority")
    )


# --------------------------------------------------------------------------
# customer_balance_ranks — rank / dense_rank / ntile / lag / lead.
# --------------------------------------------------------------------------
@query(
    "customer_balance_ranks",
    oracle="""
    SELECT c_custkey, c_nationkey,
           round(c_acctbal, 2) AS acctbal,
           rank()       OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, -2) DESC) AS rnk,
           dense_rank() OVER (PARTITION BY c_nationkey ORDER BY round(c_acctbal, -2) DESC) AS drnk,
           ntile(4)     OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS quartile,
           lag(c_custkey)  OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS prev_custkey,
           lead(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS next_custkey
    FROM customer
    WHERE c_custkey < 200
    ORDER BY c_nationkey, quartile, c_custkey
    """,
)
def customer_balance_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ranking-function family per nation: rank/dense_rank over a
    coarsened balance (so ties exist and the two differ), ntile +
    lag/lead over a unique ordering (tie order must be deterministic
    for those). One shuffle on c_nationkey serves all five windows."""
    cust = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") < 200)
    by_bucket = Window.partitionBy("c_nationkey").orderBy(
        F.desc(F.round("c_acctbal", -2))
    )
    by_exact = Window.partitionBy("c_nationkey").orderBy(
        F.desc("c_acctbal"), F.col("c_custkey")
    )
    return (
        cust.select(
            "c_custkey",
            "c_nationkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.rank().over(by_bucket).alias("rnk"),
            F.dense_rank().over(by_bucket).alias("drnk"),
            F.ntile(4).over(by_exact).alias("quartile"),
            F.lag("c_custkey").over(by_exact).alias("prev_custkey"),
            F.lead("c_custkey").over(by_exact).alias("next_custkey"),
        )
        .orderBy("c_nationkey", "quartile", "c_custkey")
    )


# --------------------------------------------------------------------------
# quantity_quantiles — exact median / percentiles.
# --------------------------------------------------------------------------
@query(
    "quantity_quantiles",
    oracle="""
    SELECT l_returnflag,
           median(l_quantity)                   AS med_qty,
           quantile_cont(l_quantity, 0.25)      AS p25_qty,
           quantile_cont(l_quantity, 0.75)      AS p75_qty,
           round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def quantity_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per return flag (Spark `percentile`
    ≙ DuckDB `quantile_cont` — verified equal). At 100 TB you'd reach
    for percentile_approx and accept the sketch error; the exact form
    is the oracle-checkable one."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.expr("median(l_quantity)").alias("med_qty"),
            F.expr("percentile(l_quantity, 0.25)").alias("p25_qty"),
            F.expr("percentile(l_quantity, 0.75)").alias("p75_qty"),
            F.round(F.expr("percentile(l_extendedprice, 0.9)"), 6).alias("p90_price"),
        )
        .orderBy("l_returnflag")
    )


# --------------------------------------------------------------------------
# order_history_scd2 — SCD2-style validity ranges via lead().
# --------------------------------------------------------------------------
@query(
    "order_history_scd2",
    oracle="""
    SELECT o_custkey, o_orderkey,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
           CASE WHEN lead(o_orderdate) OVER (PARTITION BY o_custkey
                                             ORDER BY o_orderdate, o_orderkey) IS NULL
                THEN 1 ELSE 0 END AS is_current
    FROM orders
    WHERE o_custkey < 50
    ORDER BY o_custkey, valid_from, o_orderkey
    """,
)
def order_history_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension (type 2) construction: each record's
    validity window closes when the next version opens (`lead()`), the
    open-ended row flagged current. The standard pattern for building
    point-in-time joinable history without Delta MERGE — one shuffle
    on the business key."""
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < 50)
    return scd2_intervals(orders)


def scd2_intervals(orders: DataFrame) -> DataFrame:
    """(o_custkey, o_orderkey, o_orderdate) change rows → SCD2 validity
    intervals — THE one interval-assembly the batch query and the
    streaming CDC twin (streaming/scd2_stream.py) share, so a folded
    change log and a batch scan cannot assemble different histories.
    An interval is a function of the WHOLE per-key change set (a late
    change re-opens and re-closes neighbors), which is exactly why the
    streaming store keeps change rows and derives intervals at read."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    nxt = F.lead("o_orderdate").over(w)
    return (
        orders.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").alias("valid_from"),
            nxt.alias("valid_to"),
            F.when(nxt.isNull(), 1).otherwise(0).alias("is_current"),
        )
        .orderBy("o_custkey", "valid_from", "o_orderkey")
    )


# --------------------------------------------------------------------------
# part_size_unpivot — wide → long (stack).
# --------------------------------------------------------------------------
@query(
    "part_size_unpivot",
    oracle="""
    WITH wide AS (
        SELECT p_type,
               count(*) FILTER (WHERE p_size < 10)                  AS small_n,
               count(*) FILTER (WHERE p_size >= 10 AND p_size < 30) AS medium_n,
               count(*) FILTER (WHERE p_size >= 30)                 AS large_n
        FROM part GROUP BY p_type)
    SELECT p_type, 'small' AS size_class, small_n AS n FROM wide
    UNION ALL SELECT p_type, 'medium', medium_n FROM wide
    UNION ALL SELECT p_type, 'large', large_n FROM wide
    ORDER BY p_type, size_class
    """,
)
def part_size_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot the size-bucket pivot back to long form via stack()."""
    part = load_table(spark, sf_dir, "part")
    wide = part.groupBy("p_type").agg(
        F.sum(F.when(F.col("p_size") < 10, 1).otherwise(0)).alias("small_n"),
        F.sum(
            F.when((F.col("p_size") >= 10) & (F.col("p_size") < 30), 1).otherwise(0)
        ).alias("medium_n"),
        F.sum(F.when(F.col("p_size") >= 30, 1).otherwise(0)).alias("large_n"),
    )
    return (
        wide.selectExpr(
            "p_type",
            "stack(3, 'small', small_n, 'medium', medium_n, 'large', large_n)"
            " AS (size_class, n)",
        )
        .orderBy("p_type", "size_class")
    )


# --------------------------------------------------------------------------
# events_anomaly_mad — robust outlier detection (median / MAD).
# --------------------------------------------------------------------------
@query(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m USING (event_type) GROUP BY e.event_type
    )
    SELECT e.event_type,
           count(*)                AS n_events,
           round(min(m.med), 6)    AS med,
           round(min(d.mad), 6)    AS mad,
           count(*) FILTER (WHERE abs(e.value - m.med) > 3 * 1.4826 * d.mad)
                                   AS n_anomalies
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY e.event_type
    ORDER BY e.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust anomaly counts: |value − median| >
    3·1.4826·MAD (the consistent-σ MAD rule, immune to the outliers it
    hunts — the standard metric-quality screen over telemetry).

    Three aggregations over the same grouping key; the two median
    frames are O(#event_types) → broadcast back onto the fact scan, so
    the fact table shuffles only for its own groupBy. Spark median ==
    DuckDB median (quantile_cont interpolation, parity-verified).
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"))
    )
    flagged = F.abs(F.col("value") - F.col("med")) > 3 * 1.4826 * F.col("mad")
    return (
        ev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.min("med"), 6).alias("med"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.count(F.when(flagged, 1)).alias("n_anomalies"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# events_zorder_layout — Z-order clustering key for data layout.
# --------------------------------------------------------------------------
def _zspread_sql(v: str) -> str:
    """Interleave-spread a 16-bit value's bits to even positions (the
    classic mask chain) — plain & | << arithmetic, valid in BOTH Spark
    SQL (shiftleft) and DuckDB (<<); this builds the DuckDB form."""
    s = f"({v})"
    for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        s = f"(({s} | ({s} << {sh})) & {mask})"
    return s


_Z_X_SQL = _zspread_sql("user_id & 1023")
_Z_Y_SQL = _zspread_sql("hour(ts) * 60 + minute(ts)")
_Z_SQL = f"({_Z_X_SQL} | ({_Z_Y_SQL} << 1))"


def _zspread_col(col):
    """Spark twin of _zspread_sql — bit-interleave spread of a 16-bit
    value (shared by the z-order profile and the skipping harness)."""
    s = col
    for sh, mask in ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555)):
        s = s.bitwiseOR(F.shiftleft(s, sh)).bitwiseAND(F.lit(mask))
    return s


def _z_col():
    """The Morton key over (user_id & 1023, minute-of-day) — ONE Spark
    copy next to the SQL template _Z_SQL."""
    zx = _zspread_col(F.col("user_id").bitwiseAND(F.lit(1023)))
    zy = _zspread_col(F.hour("ts") * 60 + F.minute("ts"))
    return zx.bitwiseOR(F.shiftleft(zy, 1))


@query(
    "events_zorder_layout",
    oracle=f"""
    SELECT {_Z_SQL} >> 16              AS zbucket,
           count(*)                    AS n_events,
           count(DISTINCT user_id)     AS n_users,
           min({_Z_SQL})               AS z_min,
           max({_Z_SQL})               AS z_max
    FROM events
    GROUP BY zbucket
    ORDER BY zbucket
    """,
)
def events_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, minute-of-day),
    bucketed to the file-sized prefix z >> 16.

    This is the layout-optimization operator: writing the fact table
    sorted by z gives every parquet file a tight min/max envelope in
    BOTH dimensions, so scans filtered on either user OR time prune
    files (multi-dimensional data skipping à la Delta/Iceberg OPTIMIZE
    ZORDER). The key itself is pure bit arithmetic — map-only,
    codegen-able; the profile here exposes bucket occupancy and z
    ranges, which is exactly what a table optimizer inspects to pick
    file splits.
    """

    ev = load_table(spark, sf_dir, "events")
    z = _z_col()
    return (
        ev.select(z.alias("z"), "user_id")
        .groupBy(F.shiftright("z", 16).alias("zbucket"))
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min("z").alias("z_min"),
            F.max("z").alias("z_max"),
        )
        .orderBy("zbucket")
    )


# --------------------------------------------------------------------------
# events_top_paths — user-journey prefix mining (ordered sequence agg).
# --------------------------------------------------------------------------
@query(
    "events_top_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, list(event_type ORDER BY ts, event_id) AS arr
        FROM events GROUP BY user_id
    )
    SELECT arr[1] || '>' || arr[2] || '>' || arr[3] AS path3,
           count(*) AS n_users
    FROM seq
    WHERE len(arr) >= 3
    GROUP BY path3
    ORDER BY n_users DESC, path3
    LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common 3-step user journeys: per-user event sequence in
    (ts, event_id) order, first three steps joined into a path label,
    counted across users.

    The ordered sequence is a single groupBy on user_id with an
    order-embedded aggregate (sort_array over (ts, event_id, type)
    structs — deterministic because event_id is unique), so journeys
    never leave the natural user partitioning; the path rollup
    aggregates O(#distinct paths) rows. This is the funnel-mining /
    next-event-prediction feature shape over clickstreams.
    """
    ev = load_table(spark, sf_dir, "events")
    arr = F.transform(
        F.sort_array(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ),
        lambda s: s["event_type"],
    )
    seq = ev.groupBy("user_id").agg(arr.alias("arr"))
    path3 = F.concat_ws(
        ">",
        F.element_at("arr", 1),
        F.element_at("arr", 2),
        F.element_at("arr", 3),
    )
    return (
        seq.where(F.size("arr") >= 3)
        .select(path3.alias("path3"))
        .groupBy("path3")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), "path3")
        .limit(20)
    )


# --------------------------------------------------------------------------
# orders_monthly_trend — calendar rollup with MoM/YoY window arithmetic.
# --------------------------------------------------------------------------
@query(
    "orders_monthly_trend",
    oracle="""
    WITH monthly AS (
        SELECT date_trunc('month', o_orderdate)::TIMESTAMP AS month,
               count(*)                         AS n_orders,
               round(sum(o_totalprice), 2)      AS revenue
        FROM orders GROUP BY 1
    )
    SELECT month, n_orders, revenue,
           round(revenue - lag(revenue) OVER (ORDER BY month), 2)   AS mom_delta,
           round(revenue / lag(revenue, 12) OVER (ORDER BY month), 6) AS yoy_ratio
    FROM monthly
    ORDER BY month
    """,
)
def orders_monthly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue with month-over-month delta and year-over-year
    ratio (lag 12 on the calendar spine) — the reporting-rollup shape.
    One shuffle to O(#months) rows; the window then runs on a frame
    small enough for a single partition at ANY raw data scale, which
    is why a global ORDER BY window here is safe despite being the
    usual red flag."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )
    w = Window.orderBy("month")
    return monthly.select(
        "month",
        "n_orders",
        "revenue",
        F.round(F.col("revenue") - F.lag("revenue").over(w), 2).alias("mom_delta"),
        F.round(F.col("revenue") / F.lag("revenue", 12).over(w), 6).alias("yoy_ratio"),
    ).orderBy("month")


# --------------------------------------------------------------------------
# events_value_band_join — range join via interval bucketing.
# --------------------------------------------------------------------------
# Overlapping value bands (lo inclusive, hi exclusive): containment, not
# equality, so a naive plan is a theta join (BroadcastNestedLoop — at
# scale, O(rows × bands) with no pruning). Bucketing quantizes each
# interval to fixed-width buckets so the join becomes an EQUI join on
# the bucket id plus a cheap residual filter.
VALUE_BANDS = [
    ("B0", 0.0, 60.0),
    ("B1", 40.0, 120.0),
    ("B2", 100.0, 200.0),
    ("B3", 180.0, 320.0),
    ("B4", 300.0, 500.0),
]
BAND_BUCKET_W = 20.0

_BANDS_SQL = "VALUES " + ", ".join(
    f"('{b}', {lo}, {hi})" for b, lo, hi in VALUE_BANDS
)


@query(
    "events_value_band_join",
    oracle=f"""
    WITH bands_raw(band_id, lo_d, hi_d) AS ({_BANDS_SQL}),
    bands AS (SELECT band_id, lo_d::DOUBLE AS lo, hi_d::DOUBLE AS hi FROM bands_raw)
    SELECT band_id, lo, hi,
           count(*)::BIGINT        AS n_events,
           round(avg(value), 4)    AS avg_value
    FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
    GROUP BY band_id, lo, hi
    ORDER BY band_id
    """,
)
def events_value_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join (interval containment, overlapping bands) done the
    scalable way: explode each band into its covering fixed-width
    buckets, equi-join events on floor(value / W), re-check the exact
    predicate, then aggregate per band.

    Spark has no native range-join optimization; expressed naively the
    ON >= / < condition compiles to BroadcastNestedLoopJoin — fine for
    5 bands, quadratic the day the band table is "every auction's
    active interval". Bucketing makes the fan-out explicit and bounded
    (⌈span/W⌉ buckets per band), keeps the join an equi-join Catalyst
    can hash, shuffle, or broadcast, and the residual filter runs
    JVM-side post-join. The oracle states the same join declaratively.
    """
    ev = load_table(spark, sf_dir, "events")
    bands = spark.createDataFrame(VALUE_BANDS, "band_id STRING, lo DOUBLE, hi DOUBLE")
    # hi is exclusive: the last covering bucket is floor((hi - ulp)/W);
    # sequence over ints then cast keeps it exact for band edges on
    # bucket boundaries.
    band_buckets = bands.select(
        "band_id",
        "lo",
        "hi",
        F.explode(
            F.sequence(
                F.floor(F.col("lo") / BAND_BUCKET_W).cast("int"),
                F.ceil(F.col("hi") / BAND_BUCKET_W).cast("int") - 1,
            )
        ).alias("bucket"),
    )
    tagged = ev.select(
        "value", F.floor(F.col("value") / BAND_BUCKET_W).cast("int").alias("bucket")
    )
    return (
        tagged.join(F.broadcast(band_buckets), "bucket")
        .where((F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")))
        .groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
        .orderBy("band_id")
    )


# --------------------------------------------------------------------------
# events_rollup_cascade — hypertable-style multi-grain continuous rollup.
# --------------------------------------------------------------------------
@query(
    "events_rollup_cascade",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS b, count(*) AS n, sum(value) AS sv
        FROM events GROUP BY 1
    ),
    daily AS (
        SELECT date_trunc('day', b) AS b, sum(n)::BIGINT AS n, sum(sv) AS sv
        FROM hourly GROUP BY 1
    ),
    monthly AS (
        SELECT date_trunc('month', b) AS b, sum(n)::BIGINT AS n, sum(sv) AS sv
        FROM daily GROUP BY 1
    )
    SELECT grain, bucket_start, n_events, round(sv, 2) AS sum_value
    FROM (
        SELECT 'hour'  AS grain, b AS bucket_start, n AS n_events, sv FROM hourly
        UNION ALL
        SELECT 'day', b, n, sv FROM daily
        UNION ALL
        SELECT 'month', b, n, sv FROM monthly
    )
    ORDER BY grain, bucket_start
    """,
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: hourly partials
    roll up to daily, daily to monthly — each level aggregates the
    PREVIOUS level's output, never the raw events.

    The raw table is scanned exactly once (the hourly partials are
    cached; ~hours-many rows, trivially bounded); the day and month
    shuffles move O(#hours) and O(#days) rows instead of O(#events).
    This is the batch shape of a streaming continuous aggregate: at
    100 TB the hourly layer is an incrementally-maintained table and
    the coarser grains refresh from it, which is why sums (not avgs)
    are the stored partial — they re-aggregate losslessly. Rounding
    happens only at the edge, so cascading does not compound float
    error differently from the oracle's identical cascade.
    """
    ev = load_table(spark, sf_dir, "events")
    # The pin keeps the raw scan single (static exchange reuse does
    # NOT fire across the three union branches — verified by the plan
    # test when the cache is removed). The pinned partials are bounded
    # at O(#hours) rows (~9k/year), one generation per session.
    hourly = pin(
        "rollup_hourly",
        ev.groupBy(F.date_trunc("hour", "ts").alias("b")).agg(
            F.count("*").alias("n"), F.sum("value").alias("sv")
        ),
        fill=False,
    )
    daily = (
        hourly.groupBy(F.date_trunc("day", "b").alias("b"))
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )
    monthly = (
        daily.groupBy(F.date_trunc("month", "b").alias("b"))
        .agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    )

    def level(grain: str, df: DataFrame) -> DataFrame:
        return df.select(
            F.lit(grain).alias("grain"),
            F.col("b").alias("bucket_start"),
            F.col("n").alias("n_events"),
            "sv",
        )

    return (
        level("hour", hourly)
        .unionAll(level("day", daily))
        .unionAll(level("month", monthly))
        .select(
            "grain",
            "bucket_start",
            "n_events",
            F.round("sv", 2).alias("sum_value"),
        )
        .orderBy("grain", "bucket_start")
    )


# --------------------------------------------------------------------------
# events_funnel_24h — ordered multi-step conversion funnel.
# --------------------------------------------------------------------------
@query(
    "events_funnel_24h",
    oracle="""
    WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
                WHERE event_type = 'view' GROUP BY 1),
    s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN s1 USING (user_id)
           WHERE e.event_type = 'click'
             AND e.ts >= s1.t1 AND e.ts <= s1.t1 + INTERVAL '24 hours'
           GROUP BY 1),
    s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN s2 USING (user_id)
           WHERE e.event_type = 'purchase'
             AND e.ts >= s2.t2 AND e.ts <= s2.t2 + INTERVAL '24 hours'
           GROUP BY 1)
    SELECT 1 AS step, 'view' AS step_name, count(*)::BIGINT AS n_users FROM s1
    UNION ALL SELECT 2, 'click', count(*)::BIGINT FROM s2
    UNION ALL SELECT 3, 'purchase', count(*)::BIGINT FROM s3
    ORDER BY step
    """,
)
def events_funnel_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase, each step
    within 24 h of the previous step's FIRST qualifying event — the
    standard product-analytics funnel semantics (ordered, windowed,
    first-touch).

    Scale: each step is one groupBy(user_id) over a type-filtered scan
    joined to the (strictly shrinking) previous step's per-user
    timestamps — every shuffle is keyed by user_id, no sequence
    explosion, no window over the whole event stream. At 100 TB the
    event_type filter prunes at the scan and the step frames are
    user-cardinality rows.
    """
    ev = load_table(spark, sf_dir, "events")
    h24 = F.expr("INTERVAL 24 HOURS")
    s1 = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where((F.col("ts") >= F.col("t1")) & (F.col("ts") <= F.col("t1") + h24))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.where(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .where((F.col("ts") >= F.col("t2")) & (F.col("ts") <= F.col("t2") + h24))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def level(step: int, name: str, df: DataFrame) -> DataFrame:
        return df.agg(F.count("*").alias("n_users")).select(
            F.lit(step).alias("step"),
            F.lit(name).alias("step_name"),
            "n_users",
        )

    return (
        level(1, "view", s1)
        .unionAll(level(2, "click", s2))
        .unionAll(level(3, "purchase", s3))
        .orderBy("step")
    )


# --------------------------------------------------------------------------
# events_transition_matrix — per-user event-type bigrams (Markov counts).
# --------------------------------------------------------------------------
@query(
    "events_transition_matrix",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events
    )
    SELECT event_type, next_type, count(*) AS transitions
    FROM seq WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY event_type, next_type
    """,
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition counts (the Markov chain a session
    simulator or anomaly detector is fit on): for each user's
    time-ordered stream, count consecutive (event_type → next) pairs.

    Scale: one shuffle on user_id for the lead() window (event_id
    breaks timestamp ties deterministically in both engines), then a
    tiny (types × types) aggregate. At 100 TB the window is the classic
    sessionization shuffle — bucketing events by user_id makes it
    exchange-free.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    return (
        seq.groupBy("event_type", "next_type")
        .agg(F.count("*").alias("transitions"))
        .orderBy("event_type", "next_type")
    )


# --------------------------------------------------------------------------
# events_cumulative_users — running distinct-user count via first-seen.
# --------------------------------------------------------------------------
@query(
    "events_cumulative_users",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('hour', ts))::TIMESTAMP AS first_hour
        FROM events GROUP BY user_id
    ),
    hourly AS (SELECT first_hour AS hour, count(*) AS new_users
               FROM firsts GROUP BY first_hour)
    SELECT hour, new_users,
           sum(new_users) OVER (ORDER BY hour)::BIGINT AS cumulative_users
    FROM hourly ORDER BY hour
    """,
)
def events_cumulative_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly new-user and cumulative distinct-user counts.

    The naive formulation — count(DISTINCT user_id) over an expanding
    time window — rescans the whole history per bucket and shuffles
    the full user set into every frame. The first-seen rewrite is the
    scale form: one user_id aggregate (each user contributes exactly
    one first_hour row), a tiny per-hour count, and a running sum over
    an hours-cardinality frame. Distinct-over-expanding-window becomes
    sum-over-buckets — O(users) shuffle total, not O(users × buckets).
    """
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("hour", F.col("ts"))).alias("first_hour")
    )
    hourly = firsts.groupBy(F.col("first_hour").alias("hour")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return hourly.select(
        "hour",
        "new_users",
        F.sum("new_users").over(w).cast("bigint").alias("cumulative_users"),
    ).orderBy("hour")


# --------------------------------------------------------------------------
# segment_diff_in_diff — the observational causal readout: treated vs
# control order revenue across a fixed policy cutover.
# --------------------------------------------------------------------------
DID_TREATED_SEGMENT = "BUILDING"   # the segment the hypothetical policy hit
DID_CUTOVER = "1998-07-01"         # fixed cutover date (series midpoint-ish)


@query(
    "segment_diff_in_diff",
    oracle=f"""
    WITH cells AS (
        SELECT CASE WHEN c.c_mktsegment = '{DID_TREATED_SEGMENT}'
                    THEN 'treated' ELSE 'control' END AS grp,
               CASE WHEN o.o_orderdate >= TIMESTAMP '{DID_CUTOVER} 00:00:00'
                    THEN 'post' ELSE 'pre' END AS period,
               count(*)::BIGINT AS n_orders,
               sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT
                   AS revenue_cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    w AS (
        SELECT
            max(CASE WHEN grp='treated' AND period='post'
                     THEN revenue_cents END)::HUGEINT AS stp,
            max(CASE WHEN grp='treated' AND period='post'
                     THEN n_orders END)::HUGEINT AS ntp,
            max(CASE WHEN grp='treated' AND period='pre'
                     THEN revenue_cents END)::HUGEINT AS str,
            max(CASE WHEN grp='treated' AND period='pre'
                     THEN n_orders END)::HUGEINT AS ntr,
            max(CASE WHEN grp='control' AND period='post'
                     THEN revenue_cents END)::HUGEINT AS scp,
            max(CASE WHEN grp='control' AND period='post'
                     THEN n_orders END)::HUGEINT AS ncp,
            max(CASE WHEN grp='control' AND period='pre'
                     THEN revenue_cents END)::HUGEINT AS scr,
            max(CASE WHEN grp='control' AND period='pre'
                     THEN n_orders END)::HUGEINT AS ncr
        FROM cells),
    nums AS (
        SELECT
            ((stp * ntr - str * ntp) * ncp * ncr
             - (scp * ncr - scr * ncp) * ntp * ntr) AS num1,
            (ntp * ntr * ncp * ncr) AS den1,
            (str * ncr - scr * ntr) AS num2,
            (ntr * ncr) AS den2
        FROM w),
    est AS (
        -- sign-split TRUNCATING division: positive operands only, so
        -- DuckDB // and Python // cannot disagree (an additive offset
        -- cannot be sized safely here — the estimate's own magnitude
        -- is unbounded in the data)
        SELECT
            CASE WHEN num1 >= 0 THEN (num1 * 1000000) // den1
                 ELSE -(((-num1) * 1000000) // den1) END AS did_microcents,
            CASE WHEN num2 >= 0 THEN (num2 * 1000000) // den2
                 ELSE -(((-num2) * 1000000) // den2) END AS pregap_microcents
        FROM nums)
    SELECT grp, period, n_orders, revenue_cents,
           (revenue_cents // n_orders)::BIGINT AS mean_cents,
           (SELECT did_microcents FROM est)::BIGINT AS did_microcents,
           (SELECT pregap_microcents FROM est)::BIGINT AS pregap_microcents
    FROM cells
    ORDER BY grp, period
    """,
)
def segment_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENCE-IN-DIFFERENCES of per-order revenue across the fixed
    {DID_CUTOVER} cutover, treated = {DID_TREATED_SEGMENT} customers,
    control = everyone else: the observational fallback when no
    randomized assignment exists (the ab_test family covers the
    randomized case). Output is the four (group × period) cells with
    exact counts/sums/floored means, the DiD estimate
    (Δtreated − Δcontrol) in micro-cents, and the PRE-period gap — the
    number a reviewer reads to judge the parallel-trends assumption
    before believing the estimate.

    Determinism: the four cell moments are exact integers; both
    closing rationals divide SIGN-SPLIT on explicit magnitudes
    (truncate toward zero with positive operands on both engines — an
    additive offset cannot be sized safely here because the estimate's
    own magnitude is unbounded in the data, the bug the first cut of
    this query shipped). The Spark close runs in unbounded Python ints
    over the collected 4-row cell frame (the dow_anova shape); the
    oracle carries it in HUGEINT — n³·s·10⁶ ≈ 10³¹ at sf0.1, inside
    HUGEINT's 1.7e38.

    Scale: ONE join labels orders with their customer's segment —
    customer is SF-linear, so no forced hint (AQE broadcasts the
    2-column projection while it fits, shuffles on custkey beyond
    8 GB); one map-combinable 4-group aggregate; nothing after touches
    the fact table."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.when(
            F.col("c_mktsegment") == DID_TREATED_SEGMENT, "treated"
        )
        .otherwise("control")
        .alias("grp"),
    )
    cells = (
        orders.join(
            cust, orders.o_custkey == cust.c_custkey
        )
        .select(
            "grp",
            F.when(
                F.col("o_orderdate")
                >= F.lit(f"{DID_CUTOVER} 00:00:00").cast("timestamp"),
                "post",
            )
            .otherwise("pre")
            .alias("period"),
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("grp", "period")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )
    schema = (
        "grp STRING, period STRING, n_orders BIGINT, revenue_cents BIGINT,"
        " mean_cents BIGINT, did_microcents BIGINT, pregap_microcents BIGINT"
    )
    got = {
        (r.grp, r.period): (int(r.n_orders), int(r.revenue_cents))
        for r in cells.collect()
    }
    need = [(g, p) for g in ("treated", "control") for p in ("post", "pre")]
    if any(k not in got for k in need):
        # a missing cell means DiD is undefined — empty on both engines
        # is NOT mirrorable in SQL cheaply, so require all four (holds
        # at every gate sf; the oracle would emit NULL-poisoned rows)
        return spark.createDataFrame([], schema)
    (ntp, stp), (ntr, st_r) = got[("treated", "post")], got[("treated", "pre")]
    (ncp, scp), (ncr, scr) = got[("control", "post")], got[("control", "pre")]

    def _tdiv(num: int, den: int) -> int:
        # truncate toward zero on explicit magnitudes — mirrors the
        # oracle's sign-split CASE exactly (Python // floors)
        q = (abs(num) * 1000000) // den
        return q if num >= 0 else -q

    num1 = ((stp * ntr - st_r * ntp) * ncp * ncr
            - (scp * ncr - scr * ncp) * ntp * ntr)
    did = _tdiv(num1, ntp * ntr * ncp * ncr)
    pregap = _tdiv(st_r * ncr - scr * ntr, ntr * ncr)
    out = [
        (g, p, got[(g, p)][0], got[(g, p)][1],
         got[(g, p)][1] // got[(g, p)][0], did, pregap)
        for g, p in sorted(need)
    ]
    return spark.createDataFrame(out, schema).orderBy("grp", "period")


# --------------------------------------------------------------------------
# segment_revenue_trend — closed-form distributed OLS slope per segment.
# --------------------------------------------------------------------------
def _segment_monthly_xy(spark: SparkSession, sf_dir: str, pin_name: str) -> DataFrame:
    """(segment, x, y): monthly revenue in exact integer cents, indexed
    by integer month offset from each segment's first month — the
    shared input of the OLS (segment_revenue_trend) and Theil–Sen
    (segment_revenue_theilsen) twins, factored so the oracle-parity-
    critical cents expression cannot diverge between them.

    The monthly rollup is PINNED: it feeds both its own min-month
    aggregate and the join back, and exchange reuse does not fire
    across two consumers of one lineage (materialize.pin's contract) — the
    orders↔customer join + rollup, the only fact-table pass, must
    execute once. Callers pass a query-unique pin name (the cache
    registry is app-scoped)."""
    monthly = (
        attributed_order_month_cents(spark, sf_dir)
        .groupBy("segment", "month")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    return xy_from_monthly(spark, monthly, pin_name)


def attributed_order_month_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-grain (segment, month, cents) order lines — the monthly
    sibling of attributed_order_cents, shared by the OLS/Theil-Sen
    batch twins and the streaming monthly ledger's partials."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.date_trunc("month", "o_orderdate").alias("month"),
            F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        )
    )


def xy_from_monthly(
    spark: SparkSession, monthly: DataFrame, pin_name: str
) -> DataFrame:
    """(segment, month, cents) → (segment, x, y) month-indexed series —
    the shared reindexing step below both trend closes, whoever feeds
    the monthly frame (the batch fact pass or the streaming ledger).
    The monthly frame is PINNED (it feeds its own min-month aggregate
    AND the join back; exchange reuse does not fire across two
    consumers of one lineage)."""

    monthly = pin(pin_name, monthly, fill=False)
    m0 = monthly.groupBy("segment").agg(F.min("month").alias("m0"))
    return monthly.join(F.broadcast(m0), "segment").select(
        "segment",
        F.months_between("month", "m0").cast("bigint").alias("x"),
        F.col("cents").alias("y"),
    )



@query(
    "segment_revenue_trend",
    oracle="""
    WITH m AS (
        SELECT c.c_mktsegment AS segment,
               date_trunc('month', o.o_orderdate) AS month,
               sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    mm AS (SELECT segment, min(month) AS m0 FROM m GROUP BY segment),
    x AS (SELECT m.segment,
                 date_diff('month', mm.m0, m.month)::BIGINT AS x,
                 m.cents AS y
          FROM m JOIN mm USING (segment)),
    s AS (SELECT segment, count(*)::BIGINT AS n,
                 sum(x)::BIGINT AS sx, sum(y)::BIGINT AS sy,
                 sum(x * y)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx
          FROM x GROUP BY segment)
    SELECT segment, n AS n_months,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE round((n * sxy - sx * sy) * 1.0
                           / (n * sxx - sx * sx), 6) END
               AS slope_cents_per_month,
           (sy // n)::BIGINT AS avg_month_cents
    FROM s ORDER BY segment
    """,
)
def segment_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue TREND per market segment: the least-squares slope of
    monthly revenue over a month index, computed in CLOSED FORM from
    five distributive sums (n, Σx, Σy, Σxy, Σx²) — the textbook way
    to regress at scale: no iteration, no driver-side fitting, just
    one aggregate whose partials merge (every term is an algebraic
    sum), then O(#segments) arithmetic. Revenue is integer cents and
    the month index is an exact integer, so all five sums are exact
    BIGINTs and the single closing division is the only float — both
    engines compute the identical number.

    Scale: the orders↔customer join shuffles on the natural custkey
    (AQE may broadcast customer at small SF), the monthly rollup is
    (segment × months)-sized, and everything after fits in a
    config-sized frame. Degenerate series (a single month) yield NULL
    slope rather than a division error.
    """
    return ols_trend_from_xy(_segment_monthly_xy(spark, sf_dir, "trend_monthly"))


def ols_trend_from_xy(xy: DataFrame) -> DataFrame:
    """The closed-form OLS close over a (segment, x, y) series — the
    ONE close shared by the batch segment_revenue_trend and
    streaming/trend_stream's OLS readout off its monthly ledger."""
    s = xy.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return s.select(
        "segment",
        F.col("n").alias("n_months"),
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(F.round(num * 1.0 / den, 6))
        .alias("slope_cents_per_month"),
        F.expr("sy div n").cast("bigint").alias("avg_month_cents"),
    ).orderBy("segment")


# --------------------------------------------------------------------------
# segment_revenue_theilsen — robust (median-of-pairwise-slopes) trend,
# the Theil–Sen twin of segment_revenue_trend's OLS.
# --------------------------------------------------------------------------
@query(
    "segment_revenue_theilsen",
    oracle="""
    WITH m AS (
        SELECT c.c_mktsegment AS segment,
               date_trunc('month', o.o_orderdate) AS month,
               sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    mm AS (SELECT segment, min(month) AS m0 FROM m GROUP BY segment),
    x AS (SELECT m.segment,
                 date_diff('month', mm.m0, m.month)::BIGINT AS x,
                 m.cents AS y
          FROM m JOIN mm USING (segment)),
    slopes AS (
        SELECT a.segment,
               (b.y - a.y)::DOUBLE / (b.x - a.x)::DOUBLE AS s
        FROM x a JOIN x b ON a.segment = b.segment AND a.x < b.x
    ),
    ranked AS (
        SELECT segment, s,
               row_number() OVER (PARTITION BY segment ORDER BY s) AS rk,
               count(*) OVER (PARTITION BY segment) AS np
        FROM slopes
    )
    SELECT segment,
           max(np)::BIGINT AS n_pairs,
           round(avg(s), 6) AS theilsen_slope_cents_per_month
    FROM ranked
    WHERE rk IN ((np + 1) // 2, (np + 2) // 2)
    GROUP BY segment
    ORDER BY segment
    """,
)
def segment_revenue_theilsen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per market segment: the MEDIAN of all
    pairwise slopes of monthly revenue — the estimator that shrugs off
    the outlier months that drag segment_revenue_trend's OLS around
    (up to ~29% contamination). The robust/classical pair is the
    standard monitoring setup: OLS for efficiency, Theil–Sen to tell
    you when OLS is lying.

    Scale: the expensive part never touches the fact table — the
    orders↔customer join and monthly rollup reduce the corpus to a
    (segment × months) frame first, and the O(months²) pairwise
    self-join runs on THAT config-sized frame (the revenue_pareto
    philosophy: do the quadratic thing only after the distributive
    reduction). Slope numerators/denominators are exact integers
    (cents, month index), so each pairwise slope is one IEEE division
    both engines compute identically; the median is the explicit
    two-middle-ranks average (row_number, not percentile
    interpolation) so even-count medians are the same arithmetic in
    both engines.
    """
    return theilsen_from_xy(
        _segment_monthly_xy(spark, sf_dir, "theilsen_monthly"), "theilsen_xy"
    )


def theilsen_from_xy(xy: DataFrame, pin_name: str) -> DataFrame:
    """The Theil-Sen close over a (segment, x, y) series — the ONE
    close shared by the batch segment_revenue_theilsen and
    streaming/trend_stream's robust readout off its monthly ledger.
    The O(months²) pair join runs on the config-sized series whoever
    feeds it."""

    # pin xy too: the pairwise self-join consumes it twice
    xy = pin(pin_name, xy, fill=False)
    a = xy.select("segment", F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = xy.select("segment", F.col("x").alias("xb"), F.col("y").alias("yb"))
    slopes = (
        a.join(b, "segment")
        .where(F.col("xa") < F.col("xb"))
        .select(
            "segment",
            (
                (F.col("yb") - F.col("ya")).cast("double")
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("s"),
        )
    )
    w = Window.partitionBy("segment").orderBy("s")
    ranked = slopes.select(
        "segment",
        "s",
        F.row_number().over(w).alias("rk"),
        F.count("*").over(Window.partitionBy("segment")).alias("np"),
    )
    return (
        ranked.where(
            (F.col("rk") == F.expr("(np + 1) div 2"))
            | (F.col("rk") == F.expr("(np + 2) div 2"))
        )
        .groupBy("segment")
        .agg(
            F.max("np").cast("bigint").alias("n_pairs"),
            F.round(F.avg("s"), 6).alias("theilsen_slope_cents_per_month"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# ab_test_report — deterministic-hash experiment assignment + outcome
# report (the experimentation-analytics class).
# --------------------------------------------------------------------------
@query(
    "ab_test_report",
    oracle="""
    WITH tagged AS (
        SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                         % 2 = 0
                    THEN 'A' ELSE 'B' END AS variant,
               user_id, event_type, value
        FROM events
    )
    SELECT variant,
           count(DISTINCT user_id)::BIGINT AS n_users,
           count(*)::BIGINT AS n_events,
           count(DISTINCT CASE WHEN event_type = 'purchase'
                               THEN user_id END)::BIGINT AS n_purchasers,
           round(count(DISTINCT CASE WHEN event_type = 'purchase'
                                     THEN user_id END) * 1.0
                 / count(DISTINCT user_id), 6) AS conversion,
           sum(CASE WHEN event_type = 'purchase'
                    THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT
               AS purchase_cents,
           (sum(CASE WHEN event_type = 'purchase'
                     THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT
            // count(DISTINCT user_id))::BIGINT AS arpu_cents
    FROM tagged
    GROUP BY variant
    ORDER BY variant
    """,
)
def ab_test_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment analysis over the event log: users are assigned to
    variants by a DETERMINISTIC hash of user_id (the same md5-bucket
    coin as corpus sampling — no RNG state, so assignment is
    reproducible, join-free, and stable when the log is re-read or
    extended), and each variant reports exposure, conversion (distinct
    purchasing users over distinct users), revenue in integer cents,
    and ARPU — the standard A/B readout computed in one pass.

    Scale: a single user-keyed-free aggregate: the variant tag is
    map-only arithmetic, the distinct counts shuffle on (variant,
    user_id) via partial aggregation, revenue follows the
    per-row-integer-cents rule (revenue_pareto's determinism
    contract), and ARPU is integral division. Two output rows.
    """
    from open_pulsar_spark.operators.curation import _hash_raw_spark

    ev = load_table(spark, sf_dir, "events")
    # parity of the RAW 32-bit hash, mirroring the oracle exactly (not
    # the mod-100 sampling bucket reduced again — that coincides only
    # while the bucket modulus stays even)
    variant = F.when(_hash_raw_spark(F.col("user_id")) % 2 == 0, "A").otherwise(
        "B"
    )
    is_purchase = F.col("event_type") == "purchase"
    cents = F.sum(
        F.when(is_purchase, F.round(F.col("value") * 100).cast("bigint")).otherwise(0)
    ).cast("bigint")
    n_users = F.count_distinct("user_id")
    n_purchasers = F.count_distinct(F.when(is_purchase, F.col("user_id")))
    return (
        ev.select(variant.alias("variant"), "user_id", "event_type", "value")
        .groupBy("variant")
        .agg(
            n_users.alias("n_users"),
            F.count("*").alias("n_events"),
            n_purchasers.alias("n_purchasers"),
            F.round(n_purchasers * 1.0 / n_users, 6).alias("conversion"),
            cents.alias("purchase_cents"),
        )
        # ARPU derives from the already-aggregated columns — one copy
        # of the cents rule, not a second expression to drift
        .select(
            "*",
            F.expr("purchase_cents div n_users").cast("bigint").alias(
                "arpu_cents"
            ),
        )
        .orderBy("variant")
    )


# --------------------------------------------------------------------------
# user_feature_assembly — per-user engineered-feature table (the ML
# feature-store materialization over the event log).
# --------------------------------------------------------------------------
@query(
    "user_feature_assembly",
    oracle="""
    SELECT user_id,
           count(*)::BIGINT AS n_events,
           sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT
               AS n_purchases,
           sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
               AS n_errors,
           count(DISTINCT event_type)::BIGINT AS n_types,
           count(DISTINCT ts::DATE)::BIGINT AS active_days,
           (floor(epoch(max(ts))) - floor(epoch(min(ts))))::BIGINT AS span_s,
           CASE WHEN count(*) > 1
                THEN (floor(epoch(max(ts))) - floor(epoch(min(ts))))::BIGINT
                     // (count(*) - 1)
                ELSE 0 END AS avg_gap_s,
           sum(CASE WHEN event_type = 'purchase'
                    THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT
               AS purchase_cents,
           round(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS purchase_ratio
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-user FEATURE TABLE an ML pipeline materializes from the
    raw event log — activity volume, type mix, temporal spread
    (active days, span, mean inter-event gap), and monetary total —
    the assembly step upstream of every churn/LTV model, expressed as
    ONE hash aggregate.

    Determinism: the monetary feature is summed as per-row integer
    cents (the revenue_pareto rule — a float sum's value depends on
    partition merge order once groups get large); the gap feature is
    span div (n-1), integer arithmetic from epoch seconds rather than
    a float mean of per-pair diffs.

    Scale: one shuffle on user_id; every feature is an algebraic or
    sketchable aggregate (the two count-distincts are bounded by
    |event types| and |days| per user), so map-side partials do the
    heavy reduction. Wide-feature growth = more agg columns on the
    SAME exchange, which is exactly why feature stores batch their
    assembly like this.
    """
    ev = load_table(spark, sf_dir, "events")
    is_purchase = F.col("event_type") == "purchase"
    n_events = F.count("*")
    n_purch = F.sum(F.when(is_purchase, 1).otherwise(0))
    span_s = (
        F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts"))
    ).cast("bigint")
    return (
        ev.groupBy("user_id")
        .agg(
            n_events.cast("bigint").alias("n_events"),
            n_purch.cast("bigint").alias("n_purchases"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("bigint")
            .alias("n_errors"),
            F.count_distinct("event_type").alias("n_types"),
            F.count_distinct(F.to_date("ts")).alias("active_days"),
            span_s.alias("span_s"),
            F.when(n_events > 1, F.floor(span_s / (n_events - 1)))
            .otherwise(0)
            .cast("bigint")
            .alias("avg_gap_s"),
            F.sum(
                F.when(
                    is_purchase, F.round(F.col("value") * 100).cast("bigint")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("purchase_cents"),
            F.round(n_purch * 1.0 / n_events, 6).alias("purchase_ratio"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# customer_rfm_segments — recency/frequency/monetary quintile scoring.
# --------------------------------------------------------------------------
@query(
    "customer_rfm_segments",
    oracle="""
    WITH per AS (
        SELECT o_custkey,
               max(o_orderdate)            AS last_order,
               count(*)                    AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order, frequency, monetary,
           ntile(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_score,
           ntile(5) OVER (ORDER BY frequency  DESC, o_custkey) AS f_score,
           ntile(5) OVER (ORDER BY monetary   DESC, o_custkey) AS m_score
    FROM per
    ORDER BY o_custkey
    """,
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency / frequency / monetary
    quintiles — the classic lifecycle-marketing scoring, and a second
    consumer of the ntile family over real aggregates.

    ntile semantics are reproduced EXACTLY (larger buckets first:
    n mod 5 leading tiles get one extra row) but WITHOUT a global
    window: each dimension's four tile-boundary rows are located at
    their exact global ranks via the range-partitioned prefix scaffold
    (prefix.global_prefix), collected (≤ 4 rows per dimension), and
    broadcast back as literal comparisons — a row's tile is
    1 + #{boundaries strictly before it in the total order}. The tile
    orderings carry the o_custkey tiebreaker, so quintile membership
    at a tie boundary is deterministic in both engines.

    All three ranking keys are EXACT types (date / bigint count /
    bigint cents — cents, not the rounded double, rank monetary: cent
    totals are exact so the cents order equals the oracle's order on
    round(sum,2), whose 0.01 spacing is ~10⁸ ulp wide), so a cache
    eviction that recomputes the pinned customer frame cannot move a
    boundary comparison.

    Scale: one shuffle aggregates orders down to customer cardinality;
    boundary location is three prefix-scaffold passes over that frame
    (no single-partition Window anywhere); the scored output is a pure
    map over the customer frame against 12 broadcast literals.
    """

    per = pin(
        "rfm_per",
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count("*").alias("frequency"),
            F.round(F.sum("o_totalprice"), 2).alias("monetary"),
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("bigint")
            .alias("cents"),
        ),
        fill=False,
    )

    specs = [  # (score name, exact ranking metric: DESC, custkey ASC)
        ("r_score", "last_order"),
        ("f_score", "frequency"),
        ("m_score", "cents"),
    ]
    # Cut ranks depend only on n = |customers| — one cheap count on the
    # pinned frame (which also materializes its cache for the three
    # dimension passes below).
    n = per.count()
    cuts: list[int] = []
    q, r = divmod(n, 5)
    sizes = [q + 1] * r + [q] * (5 - r)
    acc = 0
    for s in sizes[:4]:
        acc += s
        cuts.append(acc)

    def boundaries(metric: str) -> dict:
        with global_prefix(
            spark,
            per.select("o_custkey", metric),
            [F.desc(metric), F.col("o_custkey")],
        ) as (aug, _totals):
            return {
                row["rk"]: (row[metric], row["o_custkey"])
                for row in aug.where(F.col("rk").isin(sorted(set(cuts))))
                .select("rk", metric, "o_custkey")
                .collect()
            }

    # The three dimensions are independent prefix-scaffold passes over
    # the same pinned frame: submit them concurrently so one pass's
    # range-sampling/collect latency back-fills another's stragglers
    # (guide §2.6) — boundary ranks are partition-invariant, so the
    # collected cut rows are identical to the sequential run's.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(specs)) as pool:
        bmaps = list(pool.map(boundaries, [m for _, m in specs]))

    score_cols = []
    for (name, metric), bmap in zip(specs, bmaps):
        # tile = 1 + #{cut boundaries strictly BEFORE this row in the
        # (metric DESC, custkey ASC) total order}; a zero-size tile
        # (n < 5) repeats a cut rank and counts twice, exactly as
        # ntile skips the empty bucket
        score = F.lit(1)
        for c in cuts:
            if c not in bmap:  # only when n == 0 (empty input)
                continue
            bm, bk = bmap[c]
            after = (F.col(metric) < F.lit(bm)) | (
                (F.col(metric) == F.lit(bm)) & (F.col("o_custkey") > F.lit(bk))
            )
            score = score + F.when(after, 1).otherwise(0)
        score_cols.append(score.cast("int").alias(name))

    return per.select(
        "o_custkey", "last_order", "frequency", "monetary", *score_cols
    ).orderBy("o_custkey")


# --------------------------------------------------------------------------
# events_type_pivot — PIVOT (rows → typed columns), the inverse of
# part_size_unpivot.
# --------------------------------------------------------------------------
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    "events_type_pivot",
    oracle=f"""
    SELECT date_trunc('day', ts)::TIMESTAMP AS day,
           {", ".join(
               f"sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)::BIGINT"
               f" AS n_{t}" for t in _EVENT_TYPES)},
           count(*) AS n_total
    FROM events
    GROUP BY 1
    ORDER BY day
    """,
)
def events_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily event counts PIVOTED into one column per event type — the
    wide activity table BI layers read (and the inverse shape of
    part_size_unpivot). The pivot values are DECLARED (a fixed column
    list), never discovered from data: value discovery runs an extra
    distinct scan AND makes the output schema data-dependent — at
    100 TB both are bugs, not conveniences (new garbage event type in
    the stream → silently different schema downstream).

    Scale: ONE scan, one shuffle on day — the pivot is written directly
    as its desugared form (per-type conditional sums alongside the
    total in a single groupBy), because ``.pivot().agg(count)`` cannot
    also carry an unconditional ``count(*)``: expressing n_total as a
    second aggregate + join would scan events twice and add a second
    shuffle for the same result the oracle computes in one.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .agg(
            *[
                F.sum(
                    F.when(F.col("event_type") == t, 1).otherwise(0)
                ).alias(f"n_{t}")
                for t in _EVENT_TYPES
            ],
            F.count("*").alias("n_total"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# user_retention_cohorts — weekly cohort retention matrix.
# --------------------------------------------------------------------------
@query(
    "user_retention_cohorts",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               date_diff('week', f.cohort_week, date_trunc('week', e.ts))
                   AS week_offset
        FROM events e JOIN first_seen f USING (user_id)
    ),
    cohort_size AS (
        SELECT cohort_week, count(*) AS n_cohort
        FROM first_seen GROUP BY cohort_week
    )
    SELECT a.cohort_week::TIMESTAMP AS cohort_week,
           a.week_offset::BIGINT AS week_offset,
           count(*) AS n_active,
           round(count(*) * 1.0 / max(c.n_cohort), 6) AS retention
    FROM activity a JOIN cohort_size c USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset
    ORDER BY cohort_week, week_offset
    """,
)
def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by the week they
    first appeared; each cell is how many (and what share) of that
    cohort was active N weeks later — THE product-analytics retention
    shape, and the cohort twin of events_cumulative_users' first-seen
    rewrite.

    Scale: first-seen is one user_id aggregate; attaching the cohort
    to activity reuses the same user_id shuffle key; the distinct +
    cell aggregate collapse to (cohorts × offsets) rows. No window
    over raw events, no per-week re-scan — the matrix costs two
    shuffles total at any scale.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    )
    first_seen = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.datediff(F.col("week"), F.col("cohort_week")) / 7
            ).cast("bigint").alias("week_offset"),
        )
        .distinct()
    )
    cohort_size = first_seen.groupBy("cohort_week").agg(
        F.count("*").alias("n_cohort")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
        .join(cohort_size, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            F.round(F.col("n_active") * 1.0 / F.col("n_cohort"), 6).alias(
                "retention"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# revenue_pareto — customer revenue concentration (Lorenz/Pareto deciles)
# via a DISTRIBUTED prefix sum.
# --------------------------------------------------------------------------
@query(
    "revenue_pareto",
    oracle="""
    WITH pc AS (
        SELECT o_custkey,
               sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT
                   AS cents
        FROM orders GROUP BY o_custkey
    ),
    t AS (SELECT count(*) AS n, sum(cents)::BIGINT AS tot FROM pc),
    r AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents DESC, o_custkey) AS rk,
               sum(cents) OVER (ORDER BY cents DESC, o_custkey
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        FROM pc
    )
    SELECT ((rk - 1) * 10) // t.n + 1 AS decile,
           count(*) AS n_customers,
           (sum(cents)::BIGINT) / 100.0 AS revenue,
           round(max(cum) * 1.0 / max(t.tot), 6) AS cum_revenue_share
    FROM r CROSS JOIN t
    GROUP BY 1
    ORDER BY decile
    """,
)
def revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration by customer decile (Pareto/Lorenz: "the
    top 10% of customers hold X% of revenue"), computed with a
    DISTRIBUTED PREFIX SUM — the pattern Spark lacks natively: a
    global `sum().over(orderBy(...))` window has no partitionBy, so
    Spark executes it in ONE partition (the classic silent scale
    killer). Instead:

      1. range-partition the per-customer aggregate on the sort key
         (descending revenue) — each partition holds a contiguous rank
         range;
      2. per-partition counts/sums → driver (≤ #partitions rows) →
         exclusive offsets per partition;
      3. row_number/cumsum WITHIN each partition (parallel windows,
         partitioned by partition id) + the broadcast offsets = exact
         global rank and running total.

    Partition boundaries come from sampling and vary run to run, but
    rank and prefix sum over a TOTAL order (cents desc, custkey) are
    partition-invariant, and all arithmetic is integer cents — so the
    output is bit-identical to the oracle's single-window statement.
    (The pattern lives in operators/prefix.py::global_prefix, shared
    with events_peak_concurrency and quality_llm_calibration.)
    """

    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("cast(floor(o_totalprice * 100 + 0.5d) as bigint)")
    pc = orders.groupBy("o_custkey").agg(F.sum(cents).alias("cents"))

    with global_prefix(
        spark, pc, [F.desc("cents"), F.col("o_custkey")], cum_cols=("cents",)
    ) as (aug, totals):
        out = (
            aug.withColumn("decile", F.expr(f"((rk - 1) * 10) div {totals['n']} + 1"))
            .groupBy("decile")
            .agg(
                F.count("*").alias("n_customers"),
                (F.sum("cents") / 100.0).alias("revenue"),
                F.round(F.max("cum_cents") * 1.0 / F.lit(totals["cents"]), 6).alias(
                    "cum_revenue_share"
                ),
            )
            .orderBy("decile")
        )
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# part_affinity_lift — association-rule mining (support/confidence/lift)
# over the co-purchase baskets, the market-basket readout the pagerank
# graph is built from.
# --------------------------------------------------------------------------
AFFINITY_MIN_PAIRS = 2   # support floor: a pair seen once is noise
AFFINITY_TOP = 20


@query(
    "part_affinity_lift",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT count(DISTINCT ok)::BIGINT AS n_baskets FROM op),
    items AS (SELECT pk, count(*)::BIGINT AS c FROM op GROUP BY pk),
    pairs AS (
        SELECT a.pk AS pk_a, b.pk AS pk_b, count(*)::BIGINT AS c_ab
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING count(*) >= {AFFINITY_MIN_PAIRS}
    )
    SELECT p.pk_a, p.pk_b, p.c_ab, ia.c AS c_a, ib.c AS c_b,
           round(p.c_ab::DOUBLE / n.n_baskets::DOUBLE, 6) AS support,
           round(p.c_ab::DOUBLE / ia.c::DOUBLE, 6) AS conf_a_to_b,
           round(n.n_baskets::DOUBLE * p.c_ab::DOUBLE
                 / (ia.c::DOUBLE * ib.c::DOUBLE), 6) AS lift
    FROM pairs p
    JOIN items ia ON ia.pk = p.pk_a
    JOIN items ib ON ib.pk = p.pk_b
    CROSS JOIN n
    ORDER BY p.c_ab DESC, p.pk_a, p.pk_b
    LIMIT {AFFINITY_TOP}
    """,
)
def part_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over part co-purchases: for the
    top pairs by co-occurrence, support, confidence and lift — the
    classic recommendation readout ('customers who bought A also
    bought B, {{lift}}× more often than chance').

    Scale: the pair build is the shared basket-array producer
    (graph._copurchase_baskets + _undirected_pairs: ONE orderkey
    shuffle, C(k,2) pairs exploded map-side from the sorted basket
    array — no self-join, so the pair list is O(|lineitem|) with no
    second exchange), immediately aggregated with a support floor so
    the singleton-pair tail (97% of pairs here) never reaches the item
    joins. Item counts explode map-side from the SAME pinned basket
    frame (one aggregate); the basket total is `count()` of the pinned
    frame. The two item joins are keyed equi-joins on the floored pair
    frame. Ordering and the top-k cut are INTEGER (c_ab desc, then
    keys) — TakeOrdered, no global sort, and no float in the ordering
    so ties cannot hinge on libm. All counts are exact BIGINTs; the
    three ratios are the only floats, computed with the oracle's
    expression shape (round 6). The basket total attaches as a
    LITERAL (one bounded scalar collect, similarity.py's broadcast
    contract) rather than a 1-row cross join, keeping the plan guard's
    no-nested-loop invariant.
    """
    from open_pulsar_spark.operators.graph import (
        _copurchase_baskets,
        _undirected_pairs,
    )

    baskets = pin("affinity_baskets", _copurchase_baskets(spark, sf_dir), fill=False)
    n_baskets = baskets.count()
    items = (
        baskets.select(F.explode("ps").alias("pk"))
        .groupBy("pk")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    pairs = (
        _undirected_pairs(baskets)
        .select(F.col("u").alias("pk_a"), F.col("v").alias("pk_b"))
        .groupBy("pk_a", "pk_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .where(F.col("c_ab") >= AFFINITY_MIN_PAIRS)
    )
    ia = items.select(F.col("pk").alias("pk_a"), F.col("c").alias("c_a"))
    ib = items.select(F.col("pk").alias("pk_b"), F.col("c").alias("c_b"))
    nb = F.lit(float(n_baskets))
    return (
        pairs.join(ia, "pk_a")
        .join(ib, "pk_b")
        .select(
            "pk_a",
            "pk_b",
            "c_ab",
            "c_a",
            "c_b",
            F.round(F.col("c_ab").cast("double") / nb, 6).alias("support"),
            F.round(
                F.col("c_ab").cast("double") / F.col("c_a").cast("double"), 6
            ).alias("conf_a_to_b"),
            F.round(
                nb
                * F.col("c_ab").cast("double")
                / (F.col("c_a").cast("double") * F.col("c_b").cast("double")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("c_ab"), "pk_a", "pk_b")
        .limit(AFFINITY_TOP)
    )


# --------------------------------------------------------------------------
# events_dow_forecast_backtest — seasonal-naive forecast + holdout
# backtest (the forecast-evaluation analytics class).
# --------------------------------------------------------------------------
BACKTEST_DAYS = 7


@query(
    "events_dow_forecast_backtest",
    oracle=f"""
    WITH daily AS (
        SELECT date_trunc('day', ts) AS day,
               sum(round(value * 100)::BIGINT)::BIGINT AS cents
        FROM events GROUP BY 1
    ),
    m AS (SELECT max(day) AS md FROM daily),
    lab AS (
        SELECT d.day,
               date_diff('day', DATE '1970-01-01', d.day::DATE)::BIGINT % 7
                   AS dowi,
               d.cents,
               date_diff('day', d.day::DATE, m.md::DATE) < {BACKTEST_DAYS}
                   AS is_test
        FROM daily d CROSS JOIN m
    ),
    tr AS (
        SELECT dowi, sum(cents)::BIGINT AS s, count(*)::BIGINT AS c
        FROM lab WHERE NOT is_test GROUP BY 1
    )
    SELECT strftime(l.day, '%Y-%m-%d') AS day, l.dowi,
           l.cents AS actual_cents,
           (tr.s // tr.c)::BIGINT AS forecast_cents,
           abs(l.cents - tr.s // tr.c)::BIGINT AS abs_err_cents
    FROM lab l JOIN tr USING (dowi)
    WHERE l.is_test
    ORDER BY day
    """,
)
def events_dow_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast BACKTEST: hold out the last
    {BACKTEST_DAYS} observed days, forecast each day's total value as
    the mean of same-weekday daily totals from the training window,
    and report per-day actual/forecast/absolute error — the
    evaluation loop every production forecaster runs before anyone
    trusts a model, here with the simplest seasonal baseline (which
    is also the yardstick fancier models must beat).

    Scale: ONE scan reduces the fact table to daily integer-cent
    totals; everything after — the unpartitioned max-day window, the
    weekday labeling, the train aggregate, the test join — runs on
    the config-sized daily frame (the corpus_source_drift margin
    pattern), which is pinned because the train and test branches are
    two consumers of one lineage. Determinism is integer end-to-end:
    cents sums are exact BIGINTs, the weekday index is epoch-day mod
    7 (identical arithmetic in both engines — never the engines'
    1-vs-0-based dayofweek()), and the forecast is the floored mean
    (s div c, positive operands) — no float appears anywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )

    lab = pin(
        "dow_backtest_lab",
        daily.withColumn(
            "md", F.max("day").over(Window.partitionBy())
        )
        .withColumn(
            "dowi",
            (
                F.datediff(
                    F.col("day").cast("date"),
                    F.lit("1970-01-01").cast("date"),
                )
                % 7
            ).cast("bigint"),
        )
        .withColumn(
            "is_test",
            F.datediff(F.col("md").cast("date"), F.col("day").cast("date"))
            < BACKTEST_DAYS,
        ),
        fill=False,
    )
    tr = (
        lab.where(~F.col("is_test"))
        .groupBy("dowi")
        .agg(
            F.sum("cents").cast("bigint").alias("s"),
            F.count("*").cast("bigint").alias("c"),
        )
    )
    forecast = F.expr("s div c").cast("bigint")
    return (
        lab.where(F.col("is_test"))
        .join(tr, "dowi")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dowi",
            F.col("cents").alias("actual_cents"),
            forecast.alias("forecast_cents"),
            F.abs(F.col("cents") - forecast).cast("bigint").alias(
                "abs_err_cents"
            ),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# forecast_conformal_interval — split-conformal prediction intervals for
# the seasonal-naive forecast (finite-sample-valid uncertainty, the
# missing half of a point forecast).
# --------------------------------------------------------------------------
CONF_TEST_DAYS = 7    # holdout the interval is graded on
CONF_CAL_DAYS = 28    # calibration window for the nonconformity quantile
CONF_ALPHAS_PPM = (100000, 200000)  # miscoverage targets 10% / 20%


@query(
    "forecast_conformal_interval",
    oracle=f"""
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         date_trunc('day', ts)::DATE)::BIGINT AS ed,
               sum(round(value * 100)::BIGINT)::BIGINT AS cents
        FROM events GROUP BY 1
    ),
    scores AS (
        SELECT a.ed, abs(a.cents - b.cents)::BIGINT AS err
        FROM daily a JOIN daily b ON b.ed = a.ed - 7
    ),
    ranked AS (
        SELECT ed, err, row_number() OVER (ORDER BY ed DESC) AS rn
        FROM scores
    ),
    test AS (SELECT err FROM ranked WHERE rn <= {CONF_TEST_DAYS}),
    cal AS (
        SELECT err, row_number() OVER (ORDER BY err, ed) AS r
        FROM ranked
        WHERE rn > {CONF_TEST_DAYS}
          AND rn <= {CONF_TEST_DAYS} + {CONF_CAL_DAYS}
    ),
    nc AS (SELECT count(*)::BIGINT AS n FROM cal),
    nt AS (SELECT count(*)::BIGINT AS n FROM test),
    ks AS (
        SELECT alpha_ppm,
               least((SELECT n FROM nc),
                     ((1000000 - alpha_ppm) * ((SELECT n FROM nc) + 1)
                      + 999999) // 1000000)::BIGINT AS q_rank
        FROM (SELECT unnest([{", ".join(str(a) for a in CONF_ALPHAS_PPM)}
                            ])::BIGINT AS alpha_ppm)
    ),
    qs AS (
        SELECT ks.alpha_ppm, ks.q_rank, cal.err AS q_cents
        FROM ks JOIN cal ON cal.r = ks.q_rank
    )
    SELECT q.alpha_ppm,
           (1000000 - q.alpha_ppm)::BIGINT AS target_ppm,
           (SELECT n FROM nc) AS n_cal,
           q.q_rank, q.q_cents,
           (SELECT n FROM nt) AS n_test,
           sum(CASE WHEN t.err <= q.q_cents THEN 1 ELSE 0 END)::BIGINT
               AS n_covered,
           (sum(CASE WHEN t.err <= q.q_cents THEN 1 ELSE 0 END) * 1000000
               // (SELECT n FROM nt))::BIGINT AS coverage_ppm
    FROM qs q CROSS JOIN test t
    GROUP BY 1, 2, 3, 4, 5, 6
    ORDER BY alpha_ppm
    """,
)
def forecast_conformal_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SPLIT-CONFORMAL prediction intervals (Vovk; Lei et al.) for the
    seasonal-naive daily-value forecast ŷ(t) = y(t−7): the
    nonconformity score is |y(t) − y(t−7)| in integer cents, the
    interval half-width q̂ is the ⌈(n_cal+1)(1−α)⌉-th smallest
    calibration score — finite-sample valid with NO distributional
    assumption — and the last {CONF_TEST_DAYS} scored days grade the
    realized coverage against the (1−α) target for α ∈ 10%/20%. The
    uncertainty leg of the forecast family: the backtest says how
    wrong the point forecast is on average, this query says what
    band you may promise and then MEASURES that the band holds.

    Determinism: scores are exact integer cents; day pairing is by
    CALENDAR day (epoch-day equi-join, gap days score nothing) like
    revenue_acf; the quantile is nearest-rank with an (err, day)
    tie-break — no float anywhere until nothing is left to round.

    Scale: ONE scan reduces the fact table to the daily frame; the
    t−7 self-join, ranking windows and the α-grid explode all run on
    the BOUNDED day series (the revenue_acf posture). The two q̂
    scalars collect from a ≤{CONF_CAL_DAYS}-row frame — config-sized
    by construction."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.date_trunc("day", "ts").cast("date"),
            F.lit("1970-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("ed")
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    return conformal_from_daily(spark, daily)


def conformal_from_daily(
    spark: SparkSession, daily: DataFrame, pin_ns: str = "conformal"
) -> DataFrame:
    """(ed, cents) day series → the split-conformal coverage table —
    THE one conformal computation, shared by the batch query (events
    daily values) and the streaming revenue day ledger's readout
    (cusum_stream.conformal_readout serves it from the same folded
    store as CUSUM/ACF/EWMA/bootstrap), so the live interval and a
    batch recompute cannot rank or cover differently."""

    a, b = daily.alias("a"), daily.alias("b")
    scores = pin(
        f"{pin_ns}_scores",
        a.join(b, F.col("b.ed") == F.col("a.ed") - 7)
        .select(
            F.col("a.ed").alias("ed"),
            F.abs(F.col("a.cents") - F.col("b.cents"))
            .cast("bigint")
            .alias("err"),
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy().orderBy(F.desc("ed"))),
        ),
        fill=False,
    )
    test = scores.where(F.col("rn") <= CONF_TEST_DAYS).select("err")
    cal = (
        scores.where(
            (F.col("rn") > CONF_TEST_DAYS)
            & (F.col("rn") <= CONF_TEST_DAYS + CONF_CAL_DAYS)
        )
        .select(
            "err",
            F.row_number()
            .over(Window.partitionBy().orderBy("err", "ed"))
            .alias("r"),
        )
    )
    n_cal = cal.count()
    n_test = test.count()
    if n_cal == 0 or n_test == 0:
        return spark.createDataFrame(
            [],
            "alpha_ppm BIGINT, target_ppm BIGINT, n_cal BIGINT,"
            " q_rank BIGINT, q_cents BIGINT, n_test BIGINT,"
            " n_covered BIGINT, coverage_ppm BIGINT",
        )
    ks = {
        alpha: min(
            n_cal, ((1000000 - alpha) * (n_cal + 1) + 999999) // 1000000
        )
        for alpha in CONF_ALPHAS_PPM
    }
    q_by_rank = {
        int(row.r): int(row.err)
        for row in cal.where(
            F.col("r").isin(sorted(set(ks.values())))
        ).collect()
    }
    grid = ", ".join(
        f"named_struct('alpha_ppm', cast({alpha} as bigint),"
        f" 'q_rank', cast({ks[alpha]} as bigint),"
        f" 'q_cents', cast({q_by_rank[ks[alpha]]} as bigint))"
        for alpha in CONF_ALPHAS_PPM
    )
    return (
        test.select(
            "err", F.explode(F.expr(f"array({grid})")).alias("g")
        )
        .groupBy("g.alpha_ppm", "g.q_rank", "g.q_cents")
        .agg(
            F.sum(
                F.when(F.col("err") <= F.col("g.q_cents"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_covered")
        )
        .select(
            F.col("alpha_ppm").cast("bigint").alias("alpha_ppm"),
            (F.lit(1000000) - F.col("alpha_ppm"))
            .cast("bigint")
            .alias("target_ppm"),
            F.lit(n_cal).cast("bigint").alias("n_cal"),
            F.col("q_rank").cast("bigint").alias("q_rank"),
            F.col("q_cents").cast("bigint").alias("q_cents"),
            F.lit(n_test).cast("bigint").alias("n_test"),
            "n_covered",
            F.expr(f"cast(n_covered * 1000000 div {n_test} as bigint)")
            .alias("coverage_ppm"),
        )
        .orderBy("alpha_ppm")
    )


# --------------------------------------------------------------------------
# events_key_skew_profile — shuffle-key skew diagnosis (the profile a
# perf engineer reads before choosing salting / AQE skew-join).
# --------------------------------------------------------------------------
@query(
    "events_key_skew_profile",
    oracle="""
    WITH c AS (
        SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1
    ),
    top10 AS (
        SELECT sum(cnt)::BIGINT AS s
        FROM (SELECT cnt FROM c ORDER BY cnt DESC LIMIT 10)
    )
    SELECT count(*)::BIGINT                    AS n_keys,
           sum(c.cnt)::BIGINT                  AS n_rows,
           quantile_cont(c.cnt, 0.5)           AS p50_sz,
           quantile_cont(c.cnt, 0.9)           AS p90_sz,
           quantile_cont(c.cnt, 0.99)          AS p99_sz,
           max(c.cnt)::BIGINT                  AS max_sz,
           round(max(top10.s) * 1.0 / sum(c.cnt), 6) AS top10_share
    FROM c CROSS JOIN top10
    """,
)
def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key SKEW diagnosis for the events fact's natural key
    (user_id): group-size percentiles, the largest group, and the
    share of rows held by the ten heaviest keys — the numbers that
    decide whether a join/agg on this key needs salting
    (skew_salted_user_totals is the treatment; this is the
    diagnosis), and the profile AQE's skew-join thresholds are tuned
    against.

    Scale: one groupBy(user_id) shuffle reduces the fact table to the
    keys frame; the percentile aggregate holds the per-group sorted
    count buffer (exact — at 100 TB switch to percentile_approx, the
    quantity_quantiles precedent), the top-10 mass is TakeOrdered (a
    bounded scalar, never an unpartitioned rank window over the keys
    frame — the straggler this module's own memory warns about), and
    the keys frame is pinned because the summary aggregate and the
    top-10 cut are two consumers of one lineage. Tie-safety: the
    top-10 SUM is invariant to which tied boundary keys are chosen,
    so no tiebreaker is needed. Spark `percentile` ≙ DuckDB
    `quantile_cont` (verified equal, quantity_quantiles)."""
    ev = load_table(spark, sf_dir, "events")

    counts = pin(
        "skew_counts",
        ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("cnt")),
        fill=False,
    )
    top10 = (
        counts.orderBy(F.desc("cnt"))
        .limit(10)
        .agg(F.sum("cnt").cast("bigint").alias("s"))
        .first()
        .s
    )
    # SUM over an empty keys frame is NULL; keep the oracle's NULL
    # top10_share instead of crashing on int(None).
    top10_lit = (
        F.lit(int(top10)).cast("bigint")
        if top10 is not None
        else F.lit(None).cast("bigint")
    )
    return counts.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.expr("percentile(cnt, 0.5)").alias("p50_sz"),
        F.expr("percentile(cnt, 0.9)").alias("p90_sz"),
        F.expr("percentile(cnt, 0.99)").alias("p99_sz"),
        F.max("cnt").cast("bigint").alias("max_sz"),
        F.round(top10_lit * 1.0 / F.sum("cnt"), 6).alias(
            "top10_share"
        ),
    )


# --------------------------------------------------------------------------
# part_price_size_skyline — Pareto-dominance (skyline) filter.
# --------------------------------------------------------------------------
@query(
    "part_price_size_skyline",
    oracle="""
    WITH p AS (SELECT p_partkey, p_retailprice AS price, p_size AS size
               FROM part),
    lvl AS (SELECT price, max(size) AS peer_max FROM p GROUP BY price),
    fr AS (SELECT price, peer_max,
                  max(peer_max) OVER (ORDER BY price
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND 1 PRECEDING) AS cheaper_max
           FROM lvl)
    SELECT p.p_partkey, p.price, p.size
    FROM p JOIN fr USING (price)
    WHERE (fr.cheaper_max IS NULL OR fr.cheaper_max < p.size)
      AND fr.peer_max <= p.size
    ORDER BY price, p_partkey
    """,
)
def part_price_size_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-dominance) filter over parts: keep every part
    no other part strictly dominates on (cheaper-or-equal price,
    larger-or-equal size, at least one strict) — the Börzsönyi et al.
    SKYLINE OF operator, the multi-criteria shortlist a single ORDER
    BY cannot express. Identical-(price, size) points do not dominate
    each other and all survive.

    Scale: the sort-based skyline needs the max size over all
    strictly-cheaper rows — a global range-frame window that Spark
    would funnel through one partition. Instead: one hash shuffle
    collapses parts to per-price group maxima, and the dominance
    frontier over that rollup runs as prefix.exclusive_prefix_max
    (range partition → ≤32 per-partition maxima to the driver →
    parallel within-partition windows + broadcast offsets) — the
    revenue_pareto pattern with max as the associative op. One join
    back on price tags every part with its frontier; the skyline
    (typically O(log n) of the input under independent dims) is
    materialized before the partitioning cache releases.
    """

    parts_t = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        F.col("p_retailprice").alias("price"),
        F.col("p_size").alias("size"),
    )
    rollup = parts_t.groupBy("price").agg(F.max("size").alias("peer_max"))
    with exclusive_prefix_max(spark, rollup, ["price"], "peer_max") as aug:
        lvl = aug.select(
            "price", "peer_max", F.col("prev_max").alias("cheaper_max")
        )
        sky = (
            parts_t.join(lvl, "price")
            .where(
                (F.col("cheaper_max").isNull() | (F.col("cheaper_max") < F.col("size")))
                & (F.col("peer_max") <= F.col("size"))
            )
            .select("p_partkey", "price", "size")
            .orderBy("price", "p_partkey")
        )
        return spark.createDataFrame(sky.collect(), sky.schema)


# --------------------------------------------------------------------------
# events_type_hour_chisq — χ² independence test on a contingency table.
# --------------------------------------------------------------------------
@query(
    "events_type_hour_chisq",
    oracle="""
    WITH e AS (
        SELECT event_type, extract(hour FROM ts)::BIGINT // 6 AS band
        FROM events
    ),
    cells AS (SELECT event_type, band, count(*) AS o FROM e GROUP BY 1, 2),
    rt AS (SELECT event_type, sum(o) AS r FROM cells GROUP BY 1),
    ct AS (SELECT band, sum(o) AS c FROM cells GROUP BY 1),
    n AS (SELECT sum(o) AS n FROM cells),
    chi AS (
        SELECT sum((o * 1.0 * o) * n.n / (rt.r * 1.0 * ct.c)) AS s
        FROM cells JOIN rt USING (event_type) JOIN ct USING (band)
        CROSS JOIN n
    ),
    dims AS (SELECT (SELECT count(*) FROM rt) AS r,
                    (SELECT count(*) FROM ct) AS c)
    SELECT n.n::BIGINT AS n_events,
           ((dims.r - 1) * (dims.c - 1))::BIGINT AS df,
           round(greatest(chi.s - n.n, 0.0), 6) AS chi2,
           CASE WHEN least(dims.r - 1, dims.c - 1) = 0 THEN NULL
                ELSE round(sqrt(greatest(chi.s - n.n, 0.0)
                           / (n.n * least(dims.r - 1, dims.c - 1))), 6)
           END AS cramers_v
    FROM chi CROSS JOIN n CROSS JOIN dims
    """,
)
def events_type_hour_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson χ² independence test between event type and 6-hour
    time-of-day band, with Cramér's V effect size — the contingency
    companion to ab_test_report's two-proportion z-test: does behavior
    mix shift across the day, and by how much (V), not just "is the
    biggest cell big". Uses the zero-cell-free identity
    χ² = Σ_observed o²/E − n (absent cells contribute exactly their
    E, which telescopes into the −n), so no dense grid is ever built.

    Scale: ONE shuffle — the (type, band) cell rollup, pinned because
    row totals, column totals and the grand total all re-derive from
    it (never from the fact table); everything after is ≤ |types|×4
    rows. The χ² float sum spans those few cells only; all counts are
    exact integers.
    """

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.expr("hour(ts) div 6").alias("band")
    )
    cells = pin(
        "chisq_cells",
        ev.groupBy("event_type", "band").agg(F.count("*").alias("o")),
        fill=False,
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("band").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    dims = rt.agg(F.count("*").alias("nr")).crossJoin(
        ct.agg(F.count("*").alias("nc"))
    )
    s = (
        cells.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "band")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                (F.col("o") * 1.0 * F.col("o"))
                * F.col("n")
                / (F.col("r") * 1.0 * F.col("c"))
            ).alias("s"),
            F.first("n").alias("n"),
        )
    )
    chi2 = F.greatest(F.col("s") - F.col("n"), F.lit(0.0))
    return s.crossJoin(F.broadcast(dims)).select(
        F.col("n").cast("bigint").alias("n_events"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("df"),
        F.round(chi2, 6).alias("chi2"),
        F.when(
            F.least(F.col("nr") - 1, F.col("nc") - 1) == 0,
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.sqrt(
                    chi2
                    / (F.col("n") * F.least(F.col("nr") - 1, F.col("nc") - 1))
                ),
                6,
            )
        )
        .alias("cramers_v"),
    )


# --------------------------------------------------------------------------
# user_engagement_purchase_corr — cross-fact correlation.
# --------------------------------------------------------------------------
@query(
    "user_engagement_purchase_corr",
    oracle="""
    WITH e AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1),
    o AS (SELECT o_custkey AS user_id,
                 sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
          FROM orders GROUP BY 1),
    u AS (
        SELECT coalesce(e.n_events, 0)::BIGINT AS x,
               coalesce(o.cents, 0)::BIGINT AS y
        FROM e FULL JOIN o USING (user_id)
    ),
    m AS (
        SELECT count(*)::BIGINT AS n,
               sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
               sum(x::HUGEINT * x)::HUGEINT AS sxx,
               sum(y::HUGEINT * y)::HUGEINT AS syy,
               sum(x::HUGEINT * y)::HUGEINT AS sxy
        FROM u
    )
    SELECT n AS n_users,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                ELSE round((n * sxy - sx * sy) * 1.0
                           / (sqrt((n * sxx - sx * sx) * 1.0)
                              * sqrt((n * syy - sy * sy) * 1.0)), 6)
           END AS corr,
           CASE WHEN n * sxx - sx * sx = 0 THEN NULL
                ELSE round((n * sxy - sx * sy) * 1.0
                           / ((n * sxx - sx * sx) * 1.0) / 100.0, 6)
           END AS slope_per_event
    FROM m
    """,
)
def user_engagement_purchase_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does engagement predict spend? Pearson correlation (and the OLS
    slope, in currency units per event) between per-user EVENT count
    and per-user ORDER revenue — the cross-fact statistic a growth
    team reads before treating engagement as a revenue proxy. Users
    present in only one fact participate with 0 on the other side
    (full-outer + coalesce): silent-but-buying and browsing-but-never-
    buying users are exactly the point. Revenue is exact integer
    cents; all five moments are integer sums, so both engines agree to
    the bit and the only float ops are the closing divisions
    (segment_revenue_trend's distributed-OLS contract, applied across
    two fact tables). Degenerate variance yields NULL, not 0/0.

    Scale: one groupBy per fact (each reduced to |users| rows before
    anything joins — the fact tables never meet directly), one
    full-outer join on the user key, a 6-counter aggregate.
    """
    ev = load_table(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("n_events")
    )
    od = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("user_id"))
        .agg(
            F.sum(
                F.expr(
                    "cast(floor(o_totalprice * 100 + 0.5) as bigint)"
                )
            ).alias("cents")
        )
    )
    u = ev.join(od, "user_id", "full").select(
        F.coalesce("n_events", F.lit(0)).cast("bigint").alias("x"),
        F.coalesce("cents", F.lit(0)).cast("bigint").alias("y"),
    )
    # every moment pre-casts its OPERAND to decimal — summing in LONG
    # and casting the result would overflow (ANSI throw / silent wrap)
    # long before the oracle's HUGEINT does
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    m = u.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
        F.sum(xd * F.col("y")).alias("sxy"),
    )
    # moments combine in EXACT decimal (the oracle's HUGEINT) and only
    # the finished vx/vy/cov cast to double: sx² exceeds 2^53 well
    # before 100 TB, so double-first arithmetic would diverge from the
    # oracle's exact-then-cast values
    nd = F.col("n").cast("decimal(38,0)")
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    return m.select(
        F.col("n").alias("n_users"),
        F.when((vx == 0) | (vy == 0), F.lit(None).cast("double"))
        .otherwise(F.round(cov * 1.0 / (F.sqrt(vx * 1.0) * F.sqrt(vy * 1.0)), 6))
        .alias("corr"),
        F.when(vx == 0, F.lit(None).cast("double"))
        .otherwise(F.round(cov * 1.0 / (vx * 1.0) / 100.0, 6))
        .alias("slope_per_event"),
    )


# --------------------------------------------------------------------------
# ab_test_cuped — variance-reduced experiment readout (CUPED).
# --------------------------------------------------------------------------
CUPED_SPLIT_DAY = 15  # pre-period = days 1..15, experiment = the rest


@query(
    "ab_test_cuped",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                         % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
               sum(CASE WHEN event_type = 'purchase'
                         AND extract(day FROM ts) <= {CUPED_SPLIT_DAY}
                        THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS x,
               sum(CASE WHEN event_type = 'purchase'
                         AND extract(day FROM ts) > {CUPED_SPLIT_DAY}
                        THEN round(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
        FROM events GROUP BY user_id
    ),
    m AS (
        SELECT count(*)::HUGEINT AS n,
               sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
               sum(x::HUGEINT * x)::HUGEINT AS sxx,
               sum(y::HUGEINT * y)::HUGEINT AS syy,
               sum(x::HUGEINT * y)::HUGEINT AS sxy
        FROM u
    ),
    v AS (
        SELECT variant, count(*)::BIGINT AS n_users,
               sum(x)::HUGEINT AS sxv, sum(y)::HUGEINT AS syv
        FROM u GROUP BY variant
    )
    SELECT v.variant, v.n_users,
           round(v.syv * 1.0 / v.n_users / 100.0, 6) AS mean_post,
           CASE WHEN m.n * m.sxx - m.sx * m.sx = 0 THEN NULL
                ELSE round((v.syv * 1.0
                  - ((m.n * m.sxy - m.sx * m.sy) * 1.0
                     / (m.n * m.sxx - m.sx * m.sx))
                    * (v.sxv * 1.0 - v.n_users * (m.sx * 1.0 / m.n)))
                 / v.n_users / 100.0, 6) END AS mean_post_cuped,
           CASE WHEN m.n * m.sxx - m.sx * m.sx = 0 THEN NULL
                ELSE round((m.n * m.sxy - m.sx * m.sy) * 1.0
                 / (m.n * m.sxx - m.sx * m.sx), 6) END AS theta,
           CASE WHEN m.n * m.sxx - m.sx * m.sx = 0
                  OR m.n * m.syy - m.sy * m.sy = 0 THEN NULL
                ELSE round(((m.n * m.sxy - m.sx * m.sy) * 1.0
                  * (m.n * m.sxy - m.sx * m.sy))
                 / ((m.n * m.sxx - m.sx * m.sx) * 1.0
                    * (m.n * m.syy - m.sy * m.sy)), 6) END AS var_reduction
    FROM v CROSS JOIN m
    ORDER BY variant
    """,
)
def ab_test_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED-adjusted experiment readout (Deng et al. 2013): per-user
    purchase revenue from the PRE-period (days 1..{CUPED_SPLIT_DAY})
    serves as the control covariate for the experiment-period metric —
    mean_post_cuped = mean(y − θ(x − x̄)) removes the variance the
    pre-period already explains, and var_reduction = ρ² is exactly the
    fraction of metric variance CUPED deletes (the shrinkage an
    experimentation platform's sensitivity math runs on). Assignment
    is ab_test_report's deterministic md5 coin; θ and ρ² are pooled
    (assignment-independent by construction, the standard CUPED
    estimator). Zero pre-period variance yields NULL adjusted columns
    rather than an ANSI divide error (the corr-family guard).

    Scale: ONE scan reduces events to a per-user (x, y) frame — pinned
    because the pooled moments and the per-variant sums are two
    consumers — then a 6-counter global aggregate (exact HUGEINT /
    decimal moments; doubles appear only in the closing expressions,
    identical shape in both engines) broadcast onto the 2-variant
    rows.
    """
    from open_pulsar_spark.operators.curation import _hash_raw_spark

    ev = load_table(spark, sf_dir, "events")
    is_purch = F.col("event_type") == "purchase"
    cents = F.round(F.col("value") * 100).cast("bigint")
    pre = F.when(
        is_purch & (F.dayofmonth("ts") <= CUPED_SPLIT_DAY), cents
    ).otherwise(0)
    post = F.when(
        is_purch & (F.dayofmonth("ts") > CUPED_SPLIT_DAY), cents
    ).otherwise(0)
    u = pin(
        "cuped_users",
        ev.groupBy("user_id").agg(
            F.sum(pre).cast("bigint").alias("x"),
            F.sum(post).cast("bigint").alias("y"),
        ),
        fill=False,
    )
    xd = F.col("x").cast("decimal(38,0)")
    yd = F.col("y").cast("decimal(38,0)")
    # operand pre-cast throughout (see user_engagement_purchase_corr):
    # LONG sums overflow long before the oracle's HUGEINT
    m = u.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * F.col("x")).alias("sxx"),
        F.sum(yd * F.col("y")).alias("syy"),
        F.sum(xd * F.col("y")).alias("sxy"),
    )
    variant = F.when(
        _hash_raw_spark(F.col("user_id")) % 2 == 0, "A"
    ).otherwise("B")
    v = u.groupBy(variant.alias("variant")).agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum(xd).alias("sxv"),
        F.sum(yd).alias("syv"),
    )
    cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    theta = cov * 1.0 / vx
    mean_x = F.col("sx").cast("double") * 1.0 / F.col("n").cast("double")
    return (
        v.crossJoin(F.broadcast(m))
        .select(
            "variant",
            "n_users",
            F.round(
                F.col("syv").cast("double") * 1.0 / F.col("n_users") / 100.0, 6
            ).alias("mean_post"),
            F.when(vx == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    (
                        F.col("syv").cast("double") * 1.0
                        - theta
                        * (
                            F.col("sxv").cast("double") * 1.0
                            - F.col("n_users") * mean_x
                        )
                    )
                    / F.col("n_users")
                    / 100.0,
                    6,
                )
            )
            .alias("mean_post_cuped"),
            F.when(vx == 0, F.lit(None).cast("double"))
            .otherwise(F.round(theta, 6))
            .alias("theta"),
            F.when((vx == 0) | (vy == 0), F.lit(None).cast("double"))
            .otherwise(F.round(cov * 1.0 * cov / (vx * 1.0 * vy), 6))
            .alias("var_reduction"),
        )
        .orderBy("variant")
    )


# --------------------------------------------------------------------------
# revenue_cusum_changepoint — integer CUSUM level-shift detection.
# --------------------------------------------------------------------------
def daily_revenue_cents(orders: DataFrame) -> DataFrame:
    """(day, cents): the day-level integer-cents revenue series — the
    ONE reduction feeding the batch CUSUM query and the streaming
    twin's per-epoch partials, so the two cannot round differently."""
    return orders.groupBy(F.to_date("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )


def cusum_series(daily: DataFrame) -> DataFrame:
    """(day, revenue_cents, cusum_scaled, is_changepoint) from a
    (day, cents) series: the scaled integer CUSUM statistic
    C_t = N·prefix_t − t·total and its argmax flag. Shared by the
    batch query and the streaming store's read path — windows run on
    the bounded day series only."""
    w_ord = Window.orderBy("day")
    w_all = Window.partitionBy()
    cus = daily.select(
        "day",
        "cents",
        (
            F.count("*").over(w_all)
            * F.sum("cents").over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
            - F.row_number().over(w_ord) * F.sum("cents").over(w_all)
        )
        .cast("bigint")
        .alias("cusum_scaled"),
    )
    mx = cus.agg(F.max(F.abs("cusum_scaled")).alias("m"))
    return (
        cus.join(F.broadcast(mx))
        .select(
            "day",
            F.col("cents").alias("revenue_cents"),
            "cusum_scaled",
            F.when(F.abs("cusum_scaled") == F.col("m"), 1)
            .otherwise(0)
            .alias("is_changepoint"),
        )
        .orderBy("day")
    )


@query(
    "revenue_cusum_changepoint",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    seq AS (
        SELECT day, cents,
               row_number() OVER (ORDER BY day) AS t,
               sum(cents) OVER (ORDER BY day
                                ROWS UNBOUNDED PRECEDING)::BIGINT AS prefix,
               count(*) OVER ()::BIGINT AS n,
               sum(cents) OVER ()::BIGINT AS total
        FROM daily),
    cus AS (
        SELECT day, cents, (n * prefix - t * total)::BIGINT AS cusum_scaled
        FROM seq),
    mx AS (SELECT max(abs(cusum_scaled)) AS m FROM cus)
    SELECT day, cents AS revenue_cents, cusum_scaled,
           CASE WHEN abs(cusum_scaled) = (SELECT m FROM mx)
                THEN 1 ELSE 0 END AS is_changepoint
    FROM cus
    ORDER BY day
    """,
)
def revenue_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM level-shift detection over the daily revenue series: the
    day where the cumulative deviation from the global mean peaks is
    the single most likely changepoint (the classic offline CUSUM
    argmax). Emits the full day series with the scaled statistic so a
    monitoring layer can threshold it, and flags the argmax row(s).

    Determinism: the textbook statistic prefix_t − t·mean involves a
    float mean; multiplying through by N keeps it integer —
    C_t = N·prefix_t − t·total — which preserves the argmax exactly
    and is bit-identical across engines. Envelope: the largest term is
    N·total, so the BIGINT form holds while days × total-cents < 2^63
    (≈9·10^14 cents across 10^4 days — far past any TPC-H-class
    revenue density); past that, move the two products to
    decimal(38,0)/HUGEINT, the corr-moments class.

    Scale: the raw scan reduces to ONE day-keyed aggregate first
    (map-side partial sums); every window after that runs on the
    day-level series — bounded by calendar days (thousands of rows at
    any corpus size), the same bounded-series contract as
    events_dow_forecast_backtest. The single-partition window is over
    THAT series, never the raw fact table.
    """
    orders = load_table(spark, sf_dir, "orders")
    return cusum_series(daily_revenue_cents(orders))


# --------------------------------------------------------------------------
# event_type_itemsets — apriori-pruned frequent itemsets (k ≤ 3).
# --------------------------------------------------------------------------
ITEMSET_MINSUP_PCT = 2  # support threshold as a percent of basket count


@query(
    "event_type_itemsets",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT user_id, ts::DATE AS d, event_type AS t FROM events),
    nb AS (SELECT count(*)::BIGINT AS n
           FROM (SELECT DISTINCT user_id, d FROM b)),
    ms AS (SELECT ({ITEMSET_MINSUP_PCT} * n) // 100 AS m FROM nb),
    i1 AS (
        SELECT t, count(*)::BIGINT AS sup FROM b GROUP BY t
        HAVING count(*) >= (SELECT m FROM ms)),
    b1 AS (SELECT b.* FROM b JOIN i1 USING (t)),
    i2 AS (
        SELECT a.t AS t1, c.t AS t2, count(*)::BIGINT AS sup
        FROM b1 a JOIN b1 c
          ON a.user_id = c.user_id AND a.d = c.d AND a.t < c.t
        GROUP BY 1, 2 HAVING count(*) >= (SELECT m FROM ms)),
    cand3 AS (
        SELECT p.t1, p.t2, q.t2 AS t3
        FROM i2 p JOIN i2 q ON p.t1 = q.t1 AND p.t2 < q.t2
        JOIN i2 r ON r.t1 = p.t2 AND r.t2 = q.t2),
    i3 AS (
        SELECT c.t1, c.t2, c.t3, count(*)::BIGINT AS sup
        FROM cand3 c
        JOIN b1 x ON x.t = c.t1
        JOIN b1 y ON y.user_id = x.user_id AND y.d = x.d AND y.t = c.t2
        JOIN b1 z ON z.user_id = x.user_id AND z.d = x.d AND z.t = c.t3
        GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT m FROM ms))
    SELECT itemset, k, sup AS support,
           sup * 1000000 // (SELECT n FROM nb) AS support_ppm
    FROM (
        SELECT t AS itemset, 1 AS k, sup FROM i1
        UNION ALL
        SELECT t1 || '+' || t2, 2, sup FROM i2
        UNION ALL
        SELECT t1 || '+' || t2 || '+' || t3, 3, sup FROM i3)
    ORDER BY k, support DESC, itemset
    """,
)
def event_type_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent event-type itemsets (k ≤ 3) over (user, day) baskets
    with APRIORI candidate pruning — the market-basket generalization
    of part_affinity_lift's pairs-only analysis. Support threshold is
    {ITEMSET_MINSUP_PCT}% of the basket count.

    Scale — the distributed apriori contract:
      - baskets are the deduped (user, day, type) projection; every
        level-k count is keyed by the BASKET key (user, day), so
        per-basket fan-out is C(|basket|, k) with the basket size
        bounded by the item domain, never a cross-basket blow-up;
      - level k+1 candidates come only from FREQUENT level-k sets
        (i2 ⋈ i2 share-first-item, closed by the third subset check —
        the full apriori prune, not just prefix extension), and the
        level-3 count scans baskets PRE-FILTERED to frequent items
        (b1), so infrequent items never reach the wide join;
      - the frequent-set frames are aggregate outputs (tiny — item
        domain sized); at 100 TB they broadcast, and the only big
        shuffles are the per-level basket-keyed counts.
    Counts and ppm supports are integers — bit-identical everywhere.
    """
    ev = load_table(spark, sf_dir, "events")
    return itemset_supports_from(
        ev.select(
            "user_id", F.to_date("ts").alias("d"), F.col("event_type").alias("t")
        ),
        pin_ns="itemsets",
    )


def itemset_supports_from(items: DataFrame, pin_ns: str) -> DataFrame:
    """(user_id, d, t) basket-item frame → frequent-itemset supports
    (itemset, k, support, support_ppm), k ≤ 3, apriori-pruned — THE
    one itemset computation, shared by the batch query (events scan)
    and the streaming twin (itemsets_stream's folded store), so the
    stream readout bit-matches the batch query over the union of all
    delivered rows by construction. `pin_ns` namespaces the generation
    caches so batch and stream invocations don't evict each other."""

    # b feeds three consumers (basket count, item supports, the
    # filtered basket frame), b1 five (both pair sides + the three
    # triple sides), i2 five (candidate generation x3 + prune + the
    # output union) — pin the multiply-consumed lineages or the
    # distinct projection and the pair shuffle re-execute per consumer
    b = pin(f"{pin_ns}_b", items.select("user_id", "d", "t").distinct(), fill=False)
    nb = b.select("user_id", "d").distinct().count()
    ms = (ITEMSET_MINSUP_PCT * nb) // 100
    i1 = b.groupBy("t").agg(F.count("*").alias("sup")).where(F.col("sup") >= ms)
    b1 = pin(
        f"{pin_ns}_b1",
        b.join(F.broadcast(i1.select("t")), "t").select("user_id", "d", "t"),
        fill=False,
    )
    a, c = b1.alias("a"), b1.alias("c")
    i2 = (
        a.join(
            c,
            (F.col("a.user_id") == F.col("c.user_id"))
            & (F.col("a.d") == F.col("c.d"))
            & (F.col("a.t") < F.col("c.t")),
        )
        .groupBy(F.col("a.t").alias("t1"), F.col("c.t").alias("t2"))
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= ms)
    )
    i2 = pin(f"{pin_ns}_i2", i2, fill=False)
    p = i2.select(F.col("t1"), F.col("t2"))
    q = i2.select(F.col("t1"), F.col("t2").alias("t3"))
    r = i2.select(F.col("t1").alias("t2"), F.col("t2").alias("t3"))
    cand3 = (
        p.join(q, "t1")
        .where(F.col("t2") < F.col("t3"))
        .join(r, ["t2", "t3"], "left_semi")
    )
    x, y, z = b1.alias("x"), b1.alias("y"), b1.alias("z")
    triples = (
        x.join(
            y,
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.d") == F.col("y.d"))
            & (F.col("x.t") < F.col("y.t")),
        )
        .join(
            z,
            (F.col("x.user_id") == F.col("z.user_id"))
            & (F.col("x.d") == F.col("z.d"))
            & (F.col("y.t") < F.col("z.t")),
        )
        .select(
            F.col("x.t").alias("t1"),
            F.col("y.t").alias("t2"),
            F.col("z.t").alias("t3"),
        )
    )
    i3 = (
        triples.join(F.broadcast(cand3), ["t1", "t2", "t3"], "left_semi")
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("sup"))
        .where(F.col("sup") >= ms)
    )
    out = (
        i1.select(F.col("t").alias("itemset"), F.lit(1).alias("k"), "sup")
        .unionAll(
            i2.select(
                F.concat_ws("+", "t1", "t2").alias("itemset"),
                F.lit(2).alias("k"),
                "sup",
            )
        )
        .unionAll(
            i3.select(
                F.concat_ws("+", "t1", "t2", "t3").alias("itemset"),
                F.lit(3).alias("k"),
                "sup",
            )
        )
    )
    return out.select(
        "itemset",
        "k",
        F.col("sup").cast("bigint").alias("support"),
        F.expr(f"(sup * 1000000) div {nb}").alias("support_ppm"),
    ).orderBy("k", F.desc("support"), "itemset")


# --------------------------------------------------------------------------
# next_event_prediction_hitrate — Markov next-event model, held-out eval.
# --------------------------------------------------------------------------
NEP_TRAIN_BUCKETS = 8  # md5(user_id) % 10 < 8 -> train, else test


@query(
    "next_event_prediction_hitrate",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev,
               ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 10
                   < {NEP_TRAIN_BUCKETS} AS is_train
        FROM events),
    tr AS (SELECT prev, event_type AS nxt FROM seq
           WHERE prev IS NOT NULL AND is_train),
    model AS (
        SELECT prev, nxt AS predicted_next FROM (
            SELECT prev, nxt, row_number() OVER (
                       PARTITION BY prev
                       ORDER BY count(*) DESC, nxt) AS rn
            FROM tr GROUP BY prev, nxt) WHERE rn = 1),
    te AS (SELECT prev, event_type AS nxt FROM seq
           WHERE prev IS NOT NULL AND NOT is_train)
    SELECT te.prev AS prev_type,
           coalesce(m.predicted_next, '(cold)') AS predicted_next,
           count(*)::BIGINT AS n_test,
           sum(CASE WHEN te.nxt = m.predicted_next THEN 1 ELSE 0 END)::BIGINT
               AS n_hits,
           round(sum(CASE WHEN te.nxt = m.predicted_next THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS hitrate
    FROM te LEFT JOIN model m ON m.prev = te.prev
    GROUP BY 1, 2
    ORDER BY prev_type
    """,
)
def next_event_prediction_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE EVALUATION of the first-order Markov next-event model:
    users split train/test by the deterministic md5 coin
    ({NEP_TRAIN_BUCKETS}/10 train), the argmax transition per previous
    type is fit on TRAIN users' consecutive event pairs only, and
    hit-rate asks how often it predicts TEST users' actual next event
    — the measured-accuracy contract (copurchase_rec_hitrate,
    langid_confusion) applied to events_transition_matrix's model
    class, with the same leakage hygiene (test transitions never touch
    the fit).

    Scale: transitions are ONE lag window keyed by user_id (the
    natural partition key — no global ordering anywhere); the fitted
    model is an aggregate output bounded by |types|² and broadcasts to
    the test side; evaluation is one more user-keyed-then-type-keyed
    aggregate. The split coin is hash arithmetic, map-side.
    """
    from open_pulsar_spark.operators.curation import _hash_raw_spark

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
        (_hash_raw_spark(F.col("user_id")) % 10 < NEP_TRAIN_BUCKETS).alias(
            "is_train"
        ),
    ).where(F.col("prev").isNotNull())
    tr = seq.where("is_train")
    rn = Window.partitionBy("prev").orderBy(F.desc("c"), "nxt")
    model = (
        tr.groupBy(F.col("prev"), F.col("event_type").alias("nxt"))
        .agg(F.count("*").alias("c"))
        .withColumn("rn", F.row_number().over(rn))
        .where(F.col("rn") == 1)
        .select("prev", F.col("nxt").alias("predicted_next"))
    )
    te = seq.where(~F.col("is_train")).select(
        "prev", F.col("event_type").alias("nxt")
    )
    hit = F.when(F.col("nxt") == F.col("predicted_next"), 1).otherwise(0)
    return (
        te.join(F.broadcast(model), "prev", "left")
        .groupBy(
            F.col("prev").alias("prev_type"),
            F.coalesce("predicted_next", F.lit("(cold)")).alias(
                "predicted_next"
            ),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_test"),
            F.sum(hit).cast("bigint").alias("n_hits"),
            F.round(F.sum(hit) * 1.0 / F.count("*"), 6).alias("hitrate"),
        )
        .orderBy("prev_type")
    )


# --------------------------------------------------------------------------
# next_event_calibration — reliability diagram + ECE of the Markov
# next-event model (hitrate grades the argmax; this grades the PROBABILITIES).
# --------------------------------------------------------------------------
@query(
    "next_event_calibration",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev,
               ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT % 10
                   < {NEP_TRAIN_BUCKETS} AS is_train
        FROM events),
    tr AS (SELECT prev, event_type AS nxt FROM seq
           WHERE prev IS NOT NULL AND is_train),
    model AS (
        SELECT prev, nxt,
               (count(*) * 1000000 //
                sum(count(*)) OVER (PARTITION BY prev))::BIGINT AS p_ppm
        FROM tr GROUP BY prev, nxt),
    te AS (SELECT prev, event_type AS nxt FROM seq
           WHERE prev IS NOT NULL AND NOT is_train),
    cand AS (
        SELECT m.p_ppm,
               CASE WHEN te.nxt = m.nxt THEN 1 ELSE 0 END AS outcome
        FROM te JOIN model m ON m.prev = te.prev),
    binned AS (
        SELECT least(p_ppm // 100000, 9)::INT AS bin,
               count(*)::BIGINT AS n,
               (sum(p_ppm) // count(*))::BIGINT AS mean_pred_ppm,
               (sum(outcome) * 1000000 // count(*))::BIGINT AS realized_ppm
        FROM cand GROUP BY 1),
    tot AS (
        SELECT (sum(n * abs(mean_pred_ppm - realized_ppm)) // sum(n))::BIGINT
                   AS ece_ppm
        FROM binned)
    SELECT bin, n, mean_pred_ppm, realized_ppm,
           (mean_pred_ppm - realized_ppm)::BIGINT AS gap_ppm,
           (SELECT ece_ppm FROM tot) AS ece_ppm
    FROM binned
    ORDER BY bin
    """,
)
def next_event_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION of the first-order Markov next-event model:
    next_event_prediction_hitrate grades the argmax; this grades the
    full predicted DISTRIBUTION. Every (test transition × trained
    candidate next-type) pair contributes its predicted probability
    (ppm, fit on TRAIN users only — same md5 coin, same leakage
    hygiene) and a binary outcome; pairs bucket into probability
    deciles, and each bucket compares mean predicted vs realized
    frequency — the reliability diagram — with the n-weighted |gap|
    rolled into one Expected Calibration Error. A model can have a
    fine hit-rate and terrible probabilities (overconfident argmax);
    anything consuming the probabilities — sampling, abstention,
    ranking — needs THIS readout, not hitrate.

    Determinism: probabilities, bucket means and realized rates are
    all trunc-div ppm integers on positive operands; the ECE closes
    over the ≤10-row bucket frame in exact Python ints.

    Scale: transitions are the hitrate's one user-keyed lag window;
    the model is bounded |types|² and BROADCASTS to the test side; the
    candidate fan-out is ≤|types| per test row, map-side after the
    broadcast join; one bucket aggregate ends it."""
    from open_pulsar_spark.operators.curation import _hash_raw_spark

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev"),
        (_hash_raw_spark(F.col("user_id")) % 10 < NEP_TRAIN_BUCKETS).alias(
            "is_train"
        ),
    ).where(F.col("prev").isNotNull())
    wp = Window.partitionBy("prev")
    model = (
        seq.where("is_train")
        .groupBy("prev", F.col("event_type").alias("nxt"))
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(
            "prev",
            "nxt",
            F.expr(
                "cast(c * 1000000 div sum(c) over"
                " (partition by prev) as bigint)"
            ).alias("p_ppm"),
        )
    )
    te = seq.where(~F.col("is_train")).select(
        "prev", F.col("event_type").alias("nxt_actual")
    )
    cand = te.join(F.broadcast(model), "prev").select(
        "p_ppm",
        F.when(F.col("nxt_actual") == F.col("nxt"), 1)
        .otherwise(0)
        .alias("outcome"),
    )
    binned = cand.groupBy(
        F.least(F.expr("p_ppm div 100000"), F.lit(9))
        .cast("int")
        .alias("bin")
    ).agg(
        F.count("*").cast("bigint").alias("n"),
        F.expr("cast(sum(p_ppm) div count(*) as bigint)").alias(
            "mean_pred_ppm"
        ),
        F.expr(
            "cast(sum(outcome) * 1000000 div count(*) as bigint)"
        ).alias("realized_ppm"),
    )
    schema = (
        "bin INT, n BIGINT, mean_pred_ppm BIGINT, realized_ppm BIGINT,"
        " gap_ppm BIGINT, ece_ppm BIGINT"
    )
    rows = sorted(
        (int(r.bin), int(r.n), int(r.mean_pred_ppm), int(r.realized_ppm))
        for r in binned.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    n_tot = sum(r[1] for r in rows)
    ece = sum(r[1] * abs(r[2] - r[3]) for r in rows) // n_tot
    out = [(b, n, mp, rp, mp - rp, ece) for b, n, mp, rp in rows]
    return spark.createDataFrame(out, schema).orderBy("bin")


# --------------------------------------------------------------------------
# purchase_touch_attribution — multi-touch revenue attribution (24 h).
# --------------------------------------------------------------------------
ATTR_WINDOW_S = 86400  # look-back window: 24 h of epoch seconds


@query(
    "purchase_touch_attribution",
    oracle=f"""
    WITH p AS (
        SELECT event_id AS pid, user_id, floor(epoch(ts))::BIGINT AS es,
               round(value * 100)::BIGINT AS cents
        FROM events WHERE event_type = 'purchase'),
    t AS (
        SELECT user_id, floor(epoch(ts))::BIGINT AS es, event_type
        FROM events WHERE event_type <> 'purchase'),
    cand AS (
        SELECT p.pid, p.cents, t.event_type
        FROM p JOIN t ON t.user_id = p.user_id
         AND t.es >= p.es - {ATTR_WINDOW_S} AND t.es < p.es),
    per_type AS (
        SELECT pid, cents, event_type, count(*)::BIGINT AS cnt,
               sum(count(*)) OVER (PARTITION BY pid)::BIGINT AS n
        FROM cand GROUP BY pid, cents, event_type),
    touched AS (
        SELECT event_type AS channel,
               sum(cnt)::BIGINT AS n_touches,
               count(DISTINCT pid)::BIGINT AS n_purchases,
               sum((cents // n) * cnt)::BIGINT AS attributed_cents
        FROM per_type GROUP BY event_type),
    untouched AS (
        SELECT '(none)' AS channel, 0::BIGINT AS n_touches,
               count(*)::BIGINT AS n_purchases,
               coalesce(sum(cents), 0)::BIGINT AS attributed_cents
        FROM p WHERE pid NOT IN (SELECT pid FROM cand))
    SELECT * FROM touched
    UNION ALL
    SELECT * FROM untouched WHERE n_purchases > 0
    ORDER BY channel
    """,
)
def purchase_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LINEAR multi-touch revenue attribution: every purchase's cents
    split equally across the user's non-purchase events in the
    preceding 24 h, rolled up per channel (event type); purchases with
    no prior touch land in '(none)'. The multi-touch complement of
    click_asof_purchase's last-touch join.

    Scale — the time-range join done the band-join way
    (events_value_band_join's contract applied to TIME): purchases
    explode into their 2 covering day buckets, the join is an EQUI
    join on (user_id, day_bucket) plus the exact residual window
    filter — never a theta join that compiles to a nested loop. The
    per-purchase touch count is a window over the already-aggregated
    (purchase, type) frame (≤ |types| rows per purchase), not over raw
    touches. Splitting is integer division (cents div n, truncation
    documented — the remainder stays unattributed), so every engine
    and partitioning reports identical cents.
    """

    ev = load_table(spark, sf_dir, "events")
    # p feeds the bucket explode AND the untouched anti-join; cand
    # feeds the per-type rollup AND that anti-join's probe side — pin
    # both, or the events scan and the exploded band join execute
    # twice (the itemsets rule, applied here)
    p = pin(
        "attr_p",
        ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("pid"),
            "user_id",
            F.unix_timestamp("ts").alias("es"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        ),
        fill=False,
    )
    t = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.unix_timestamp("ts").alias("tes"),
        "event_type",
        F.expr(f"unix_timestamp(ts) div {ATTR_WINDOW_S}").alias("tb"),
    )
    # purchase buckets: the 24 h look-back spans at most 2 day buckets
    pb = F.expr(f"es div {ATTR_WINDOW_S}")
    p_ex = p.select(
        "pid", "user_id", "es", "cents",
        F.explode(F.array(pb - 1, pb)).alias("tb"),
    )
    cand = (
        p_ex.join(t, ["user_id", "tb"])
        .where(
            (F.col("tes") >= F.col("es") - ATTR_WINDOW_S)
            & (F.col("tes") < F.col("es"))
        )
        .select("pid", "cents", "event_type")
    )
    cand = pin("attr_cand", cand, fill=False)
    n_w = Window.partitionBy("pid")
    per_type = (
        cand.groupBy("pid", "cents", "event_type")
        .agg(F.count("*").alias("cnt"))
        .withColumn("n", F.sum("cnt").over(n_w))
    )
    touched = per_type.groupBy(F.col("event_type").alias("channel")).agg(
        F.sum("cnt").cast("bigint").alias("n_touches"),
        F.count_distinct("pid").cast("bigint").alias("n_purchases"),
        F.sum(F.expr("(cents div n) * cnt")).cast("bigint").alias(
            "attributed_cents"
        ),
    )
    untouched = (
        p.join(cand.select("pid").distinct(), "pid", "left_anti")
        .agg(
            F.lit("(none)").alias("channel"),
            F.lit(0).cast("bigint").alias("n_touches"),
            F.count("*").cast("bigint").alias("n_purchases"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias(
                "attributed_cents"
            ),
        )
        .where(F.col("n_purchases") > 0)
    )
    return touched.unionAll(untouched).orderBy("channel")


# --------------------------------------------------------------------------
# part_supplier_hhi — supply-concentration index per part.
# --------------------------------------------------------------------------
HHI_TOP = 50


@query(
    "part_supplier_hhi",
    oracle=f"""
    WITH ps AS (
        SELECT l_partkey AS pk, l_suppkey AS sk,
               sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS c
        FROM lineitem GROUP BY 1, 2),
    agg AS (
        SELECT pk, count(*)::BIGINT AS n_suppliers,
               sum(c)::BIGINT AS total_cents,
               (sum(c::HUGEINT * c::HUGEINT) * 1000000
                // (sum(c)::HUGEINT * sum(c)::HUGEINT))::BIGINT AS hhi_ppm
        FROM ps GROUP BY pk)
    SELECT pk AS p_partkey, n_suppliers, total_cents, hhi_ppm
    FROM agg WHERE n_suppliers >= 2
    ORDER BY hhi_ppm DESC, p_partkey
    LIMIT {HHI_TOP}
    """,
)
def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{HHI_TOP} most supply-concentrated multi-supplier parts by
    Herfindahl–Hirschman index over supplier revenue shares —
    HHI = Σ share_i² on a ppm grid (1e6 = single-supplier monopoly).
    The sourcing-risk readout a procurement pipeline runs at scale.

    Scale: two map-side-combinable aggregates keyed by natural keys
    ((part, supplier) then part) — no join, no window. The share
    squares are computed as Σc_i² · 10⁶ / (Σc_i)² so the division
    happens ONCE per part on exact integer moments (decimal(38,0) in
    Spark, HUGEINT in DuckDB — same class as the corr moments), and
    the ppm result is BIGINT. Top-k via TakeOrdered.
    """
    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk")
    ).agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("c")
    )
    cd = F.col("c").cast("decimal(38,0)")
    agg = (
        ps.groupBy("pk")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum("c").cast("bigint").alias("total_cents"),
            F.sum(cd * cd).alias("ss"),
        )
        .where(F.col("n_suppliers") >= 2)
        .select(
            F.col("pk").alias("p_partkey"),
            "n_suppliers",
            "total_cents",
            # integer div on exact decimals == the oracle's HUGEINT //
            # (decimal `/` would round HALF_UP at scale 6 before the cast)
            F.expr(
                "(ss * 1000000) div"
                " (cast(total_cents as decimal(38,0))"
                "  * cast(total_cents as decimal(38,0)))"
            ).cast("bigint").alias("hhi_ppm"),
        )
    )
    return agg.orderBy(F.desc("hhi_ppm"), "p_partkey").limit(HHI_TOP)


# --------------------------------------------------------------------------
# revenue_gini — exact integer Gini coefficient over customer revenue.
# --------------------------------------------------------------------------
@query(
    "revenue_gini",
    oracle="""
    WITH pc AS (
        SELECT o_custkey,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    ranked AS (
        SELECT cents,
               row_number() OVER (ORDER BY cents, o_custkey) AS rk
        FROM pc),
    moments AS (
        SELECT count(*)::HUGEINT AS n,
               sum(cents)::HUGEINT AS t,
               sum(rk::HUGEINT * cents::HUGEINT) AS s1
        FROM ranked)
    SELECT n::BIGINT AS n_customers,
           t::BIGINT AS total_cents,
           ((2 * s1 - (n + 1) * t) * 1000000 // (n * t))::BIGINT AS gini_ppm
    FROM moments
    """,
)
def revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue on a ppm grid — the
    single-number inequality statistic next to revenue_pareto's decile
    curve, from the closed form over ascending ranks:
    G = (2·Σ i·x_i − (n+1)·Σx_i) / (n·Σx_i).

    Scale: the rank is prefix.global_prefix's distributed row_number
    (range partition + per-partition offsets — never a single-
    partition global window), and the three moments reduce in ONE
    map-side-combinable aggregate. Σ i·x_i runs in decimal(38,0)
    (HUGEINT in the oracle) — at 10⁹ customers × 10¹² cents the
    product leaves int64, the same moment class the corr queries
    already handle; the final ppm is BIGINT. Rank ties (equal cents)
    are broken by custkey, which cannot move the statistic — equal
    values contribute the same Σ i·x_i under any permutation of their
    ranks.
    """

    orders = load_table(spark, sf_dir, "orders")
    pc = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint"))
        .cast("bigint")
        .alias("cents")
    )
    with global_prefix(
        spark, pc, [F.col("cents"), F.col("o_custkey")]
    ) as (aug, totals):
        dec = "decimal(38,0)"
        moments = aug.agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.sum(F.col("rk").cast(dec) * F.col("cents").cast(dec)).alias("s1"),
        )
        # integer div on exact decimals == the oracle's HUGEINT //
        out = moments.select(
            "n_customers",
            "total_cents",
            F.expr(
                "((2 * s1 - (cast(n_customers as decimal(38,0)) + 1)"
                "       * cast(total_cents as decimal(38,0))) * 1000000)"
                " div (cast(n_customers as decimal(38,0))"
                "      * cast(total_cents as decimal(38,0)))"
            ).cast("bigint").alias("gini_ppm"),
        )
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# conversion_lag_quantiles — time-to-convert distribution (exact ranks).
# --------------------------------------------------------------------------
@query(
    "conversion_lag_quantiles",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN floor(epoch(ts))::BIGINT END)
                   AS first_view,
               min(CASE WHEN event_type = 'purchase' THEN floor(epoch(ts))::BIGINT END)
                   AS first_purchase
        FROM events GROUP BY 1),
    lags AS (
        SELECT first_purchase - first_view AS lag_s
        FROM firsts
        WHERE first_view IS NOT NULL AND first_purchase IS NOT NULL
          AND first_purchase >= first_view),
    ranked AS (
        SELECT lag_s, row_number() OVER (ORDER BY lag_s) AS rk,
               count(*) OVER () AS n
        FROM lags)
    SELECT 'p50' AS quantile,
           (sum(lag_s) // count(*))::BIGINT AS lag_seconds,
           max(n)::BIGINT AS n_converters
    FROM ranked WHERE rk IN ((n + 1) // 2, (n + 2) // 2)
    UNION ALL
    SELECT 'p90', (sum(lag_s) // count(*))::BIGINT, max(n)::BIGINT
    FROM ranked WHERE rk = (9 * n + 9) // 10
    UNION ALL
    SELECT 'max', max(lag_s)::BIGINT, max(n)::BIGINT FROM ranked
    ORDER BY quantile
    """,
)
def conversion_lag_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: seconds between each user's FIRST
    view and FIRST purchase, reported as exact p50 / p90 / max over
    converting users (first purchase at or after first view). Medians
    are the explicit two-middle-ranks average — row_number, never
    percentile interpolation — so both engines compute the identical
    integer (the theilsen median contract).

    Scale: the raw scan reduces to per-user firsts in ONE conditional-
    min aggregate (map-side combinable, user-keyed); the converter lag
    series (one value per converting user, still SF-linear) is ranked
    by the RANGE-PARTITIONED prefix scaffold (prefix.global_prefix) —
    no single-partition Window anywhere — and only the four order
    statistics the report needs (the two middle ranks, the p90 rank,
    and rank n = max) are collected. lag_s alone is not a total order,
    but every consumer reads only lag_s, which is rank-invariant under
    tie permutations, so the output is deterministic anyway.

    The close (converter filter → scaffold ranks → Python order
    statistics) lives in lag_quantiles_from_firsts, SHARED with the
    streaming twin (streaming/lag_stream.py), which serves it off a
    min-merged per-user firsts ledger.
    """
    ev = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", es)).alias("first_view"),
        F.min(F.when(F.col("event_type") == "purchase", es)).alias(
            "first_purchase"
        ),
    )
    return lag_quantiles_from_firsts(spark, firsts)


def lag_quantiles_from_firsts(spark: SparkSession, firsts: DataFrame) -> DataFrame:
    """The conversion-lag close over a per-user (first_view,
    first_purchase) frame — the ONE close shared by the batch
    conversion_lag_quantiles and streaming/lag_stream's readout off
    its min-merged firsts ledger, so batch and stream cannot drift
    (the tail_risk_from_cents_hist contract)."""
    lags = firsts.where(
        F.col("first_view").isNotNull()
        & F.col("first_purchase").isNotNull()
        & (F.col("first_purchase") >= F.col("first_view"))
    ).select((F.col("first_purchase") - F.col("first_view")).alias("lag_s"))

    schema = "quantile STRING, lag_seconds BIGINT, n_converters BIGINT"
    with global_prefix(spark, lags, [F.col("lag_s")]) as (aug, totals):
        n = totals["n"]
        if n == 0:  # no converters: both engines emit all-NULL stat rows
            return spark.createDataFrame(
                [("max", None, None), ("p50", None, None), ("p90", None, None)],
                schema,
            )
        lo, hi = (n + 1) // 2, (n + 2) // 2
        r90 = (9 * n + 9) // 10
        vals = {
            row["rk"]: row["lag_s"]
            for row in aug.where(F.col("rk").isin(sorted({lo, hi, r90, n})))
            .select("rk", "lag_s")
            .collect()
        }
    # floor(sum/count) in exact Python ints, NOT avg-then-cast: Spark
    # CAST(double) truncates while DuckDB's ::BIGINT rounds — x.5
    # medians would diverge by 1 between the engines. lag_s ≥ 0 by the
    # converter filter, so floor == the oracle's truncating //.
    rows = [
        ("max", int(vals[n]), n),
        ("p50", (int(vals[lo]) + int(vals[hi])) // 2, n),
        ("p90", int(vals[r90]), n),
    ]
    return spark.createDataFrame(rows, schema)


# --------------------------------------------------------------------------
# layout_skipping_effectiveness — zone-map pruning, measured per layout.
# --------------------------------------------------------------------------
SKIP_NFILES = 64    # simulated files per layout
SKIP_NPROBES = 32   # deterministic point-lookup probe users
SKIP_T_LO, SKIP_T_HI = 540, 600  # probe time band: 09:00–10:00

_MIN_SQL = "hour(ts) * 60 + minute(ts)"


def _skip_layout_cte(name: str, order_sql: str) -> str:
    """Per-file zone maps for one physical layout: global rank in the
    layout order → file id → min/max of both probe dimensions."""
    label = name.removeprefix("lay_")
    return f"""
    {name} AS (
        SELECT '{label}' AS layout, (rk - 1) * {SKIP_NFILES} // n AS f,
               min(user_id) AS umin, max(user_id) AS umax,
               min(m) AS mmin, max(m) AS mmax
        FROM (SELECT user_id, {_MIN_SQL} AS m,
                     row_number() OVER (ORDER BY {order_sql}) AS rk,
                     count(*) OVER () AS n
              FROM events)
        GROUP BY 2)"""


@query(
    "layout_skipping_effectiveness",
    oracle=f"""
    WITH {_skip_layout_cte("lay_natural", "ts, event_id")},
    {_skip_layout_cte("lay_zorder", f"{_Z_SQL}, event_id")},
    files AS (SELECT * FROM lay_natural UNION ALL SELECT * FROM lay_zorder),
    probes AS (
        SELECT user_id AS pu FROM (SELECT DISTINCT user_id FROM events)
        ORDER BY ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT, user_id
        LIMIT {SKIP_NPROBES}),
    uskip AS (
        SELECT layout,
               sum(CASE WHEN pu < umin OR pu > umax THEN 1 ELSE 0 END)::BIGINT
                   AS skipped,
               count(*)::BIGINT AS checked
        FROM files CROSS JOIN probes GROUP BY layout),
    tskip AS (
        SELECT layout,
               sum(CASE WHEN mmax < {SKIP_T_LO} OR mmin >= {SKIP_T_HI}
                        THEN 1 ELSE 0 END)::BIGINT AS skipped,
               count(*)::BIGINT AS n_files
        FROM files GROUP BY layout)
    SELECT u.layout, t.n_files,
           u.skipped * 1000000 // u.checked AS user_skip_ppm,
           t.skipped * 1000000 // t.n_files AS time_skip_ppm
    FROM uskip u JOIN tskip t USING (layout)
    ORDER BY layout
    """,
)
def layout_skipping_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED data-skipping win of the Z-order layout: simulate
    writing events as {SKIP_NFILES} equal files under (a) natural
    ingest order (ts) and (b) the Morton key, record each file's
    min/max zone map in BOTH probe dimensions, and report the fraction
    of files a point user lookup ({SKIP_NPROBES} deterministic probe
    users) and a one-hour time-band scan can prune. The number a table
    optimizer actually buys with OPTIMIZE ZORDER — natural order skips
    ~everything on time and ~nothing on user; z-order trades a little
    time pruning for large user pruning (the multi-dimension
    compromise, quantified).

    Scale: file assignment is prefix.global_prefix's distributed rank
    per layout (never a single-partition window); zone maps are one
    {SKIP_NFILES}-row aggregate per layout; the probe evaluation is a
    {SKIP_NPROBES}×{SKIP_NFILES} config-sized cross join (both sides
    are bounded aggregates — the documented bounded-nested-loop
    class). Probe users are the {SKIP_NPROBES} smallest md5 hashes —
    deterministic, engine-identical.
    """
    from open_pulsar_spark.operators.curation import _hash_raw_spark

    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "ts",
        "event_id",
        (F.hour("ts") * 60 + F.minute("ts")).alias("m"),
        _z_col().alias("z"),
    )

    def zone_maps(order_cols, layout: str) -> DataFrame:
        with global_prefix(spark, base, order_cols) as (aug, totals):
            n = totals["n"]
            files = (
                aug.groupBy(
                    F.expr(f"(rk - 1) * {SKIP_NFILES} div {n}").alias("f")
                )
                .agg(
                    F.min("user_id").alias("umin"),
                    F.max("user_id").alias("umax"),
                    F.min("m").alias("mmin"),
                    F.max("m").alias("mmax"),
                )
                .withColumn("layout", F.lit(layout))
            )
            return spark.createDataFrame(files.collect(), files.schema)

    # Both layouts are independent scaffold passes over the same
    # projection — submit them concurrently (guide §2.6); each layout's
    # zone maps are rank-derived and partition-invariant, so the
    # collected rows match the sequential build's.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        nat_f = pool.submit(
            zone_maps, [F.col("ts"), F.col("event_id")], "natural"
        )
        zor_f = pool.submit(
            zone_maps, [F.col("z"), F.col("event_id")], "zorder"
        )
        files = nat_f.result().unionAll(zor_f.result())
    probes = (
        ev.select("user_id")
        .distinct()
        .orderBy(_hash_raw_spark(F.col("user_id")), "user_id")
        .limit(SKIP_NPROBES)
        .select(F.col("user_id").alias("pu"))
    )
    uskip = (
        files.crossJoin(F.broadcast(probes))
        .groupBy("layout")
        .agg(
            F.sum(
                F.when(
                    (F.col("pu") < F.col("umin")) | (F.col("pu") > F.col("umax")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("skipped"),
            F.count("*").cast("bigint").alias("checked"),
        )
    )
    tskip = files.groupBy("layout").agg(
        F.sum(
            F.when(
                (F.col("mmax") < SKIP_T_LO) | (F.col("mmin") >= SKIP_T_HI), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("tskipped"),
        F.count("*").cast("bigint").alias("n_files"),
    )
    return (
        uskip.join(tskip, "layout")
        .select(
            "layout",
            "n_files",
            F.expr("skipped * 1000000 div checked").alias("user_skip_ppm"),
            F.expr("tskipped * 1000000 div n_files").alias("time_skip_ppm"),
        )
        .orderBy("layout")
    )


# --------------------------------------------------------------------------
# user_bot_regularity — abuse screen: too-regular inter-event timing.
# --------------------------------------------------------------------------
BOT_MIN_GAPS = 5          # users with fewer gaps aren't classifiable
BOT_CV2_PPM = 100_000     # cv² < 0.1 (cv < ~0.32) → 'bot' verdict
BOT_TOP = 100


@query(
    "user_bot_regularity",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               floor(epoch(ts))::BIGINT
                 - lag(floor(epoch(ts))::BIGINT)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS g
        FROM events),
    m AS (
        SELECT user_id, count(*)::BIGINT AS n,
               sum(g)::BIGINT AS s, sum(g::HUGEINT * g)::HUGEINT AS ss
        FROM seq WHERE g IS NOT NULL
        GROUP BY 1 HAVING count(*) >= {BOT_MIN_GAPS} AND sum(g) > 0)
    SELECT user_id, n AS n_gaps, (s // n)::BIGINT AS mean_gap_s,
           ((n * ss - s::HUGEINT * s) * 1000000
            // (s::HUGEINT * s))::BIGINT AS cv2_ppm,
           CASE WHEN (n * ss - s::HUGEINT * s) * 1000000
                     // (s::HUGEINT * s) < {BOT_CV2_PPM}
                THEN 'bot' ELSE 'human' END AS verdict
    FROM m
    ORDER BY cv2_ppm, user_id
    LIMIT {BOT_TOP}
    """,
)
def user_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/abuse screen over event timing: the {BOT_TOP} most
    METRONOMIC users by squared coefficient of variation of their
    inter-event gaps — organic humans are bursty (cv ≳ 1), schedulers
    and scrapers tick (cv → 0). The click-farm filter a web-scale
    training-data pipeline runs before trusting engagement signals.

    Scale: gaps are ONE lag window keyed by user_id (the natural
    partition key); the three moments reduce in one map-side-
    combinable aggregate per user; cv² stays exact integer to the ppm
    grid — cv² = (n·Σg² − (Σg)²)/(Σg)², decimal(38,0) in Spark /
    HUGEINT in the oracle (the corr-moments class), one division per
    user. Top-{BOT_TOP} via TakeOrdered on the already-aggregated
    user frame.
    """
    ev = load_table(spark, sf_dir, "events")
    es = F.unix_timestamp("ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = (es - F.lag(es).over(w)).alias("g")
    seq = ev.select("user_id", g).where(F.col("g").isNotNull())
    dec = "decimal(38,0)"
    gd = F.col("g").cast(dec)
    m = (
        seq.groupBy("user_id")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum("g").cast("bigint").alias("s"),
            F.sum(gd * gd).alias("ss"),
        )
        .where((F.col("n") >= BOT_MIN_GAPS) & (F.col("s") > 0))
    )
    # integer div on exact decimals == the oracle's HUGEINT // (the
    # decimal `/` rounds HALF_UP at scale 6, which can bump the ppm by
    # one and flip a verdict at the threshold)
    cv2 = F.expr(
        "((cast(n as decimal(38,0)) * ss"
        "  - cast(s as decimal(38,0)) * cast(s as decimal(38,0))) * 1000000)"
        " div (cast(s as decimal(38,0)) * cast(s as decimal(38,0)))"
    ).cast("bigint")
    return (
        m.select(
            "user_id",
            F.col("n").alias("n_gaps"),
            F.expr("s div n").cast("bigint").alias("mean_gap_s"),
            cv2.alias("cv2_ppm"),
            F.when(cv2 < BOT_CV2_PPM, "bot").otherwise("human").alias(
                "verdict"
            ),
        )
        .orderBy("cv2_ppm", "user_id")
        .limit(BOT_TOP)
    )


# --------------------------------------------------------------------------
# event_type_sequences — ORDERED sequential patterns (a then b), the
# temporal complement of event_type_itemsets' unordered co-occurrence.
# --------------------------------------------------------------------------


@query(
    "event_type_sequences",
    oracle="""
    WITH occ AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts, event_id) AS rn_f,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn_l
        FROM events),
    fst AS (SELECT user_id, event_type AS t1, ts AS f_ts, event_id AS f_id
            FROM occ WHERE rn_f = 1),
    lst AS (SELECT user_id, event_type AS t2, ts AS l_ts, event_id AS l_id
            FROM occ WHERE rn_l = 1),
    nu AS (SELECT count(DISTINCT user_id)::BIGINT AS n FROM events),
    sup AS (
        SELECT f.t1, l.t2, count(*)::BIGINT AS support
        FROM fst f JOIN lst l ON f.user_id = l.user_id
        WHERE f.f_ts < l.l_ts OR (f.f_ts = l.l_ts AND f.f_id < l.l_id)
        GROUP BY f.t1, l.t2)
    SELECT t1 || '->' || t2 AS seq, support,
           support * 1000000 // (SELECT n FROM nu) AS support_ppm
    FROM sup
    ORDER BY support DESC, seq
    """,
)
def event_type_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent ORDERED 2-sequences of event types: for every (t1, t2),
    the number of users with SOME t1 occurrence strictly before some t2
    occurrence — 'signup then purchase' patterns, where the itemsets
    query can only say the two types co-occur. t1 = t2 rows count users
    who repeat a type. Order is total and engine-independent:
    occurrence x precedes y iff (x.ts, x.event_id) < (y.ts, y.event_id)
    — the event_id tiebreak means equal timestamps cannot make the two
    engines disagree.

    Scale — sequence containment without sequence materialization:
    'exists t1 before t2' ⇔ FIRST(t1) before LAST(t2), so the whole
    computation is one window pass over (user, type) partitions (first
    and last occurrence in the same sort), then a self-join of the
    AGGREGATED ≤ |users|·|types| occurrence frame on user_id with the
    |types|² fan-out bounded by the type domain — per-user event
    volume never reaches the join. Counts and ppm supports are
    integers."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    nu = ev.select("user_id").distinct().count()
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    occ = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.row_number().over(w).alias("rn_f"),
        F.row_number().over(wd).alias("rn_l"),
    )
    fst = occ.where("rn_f = 1").select(
        "user_id",
        F.col("event_type").alias("t1"),
        F.col("ts").alias("f_ts"),
        F.col("event_id").alias("f_id"),
    )
    lst = occ.where("rn_l = 1").select(
        "user_id",
        F.col("event_type").alias("t2"),
        F.col("ts").alias("l_ts"),
        F.col("event_id").alias("l_id"),
    )
    sup = (
        fst.join(lst, "user_id")
        .where(
            (F.col("f_ts") < F.col("l_ts"))
            | ((F.col("f_ts") == F.col("l_ts")) & (F.col("f_id") < F.col("l_id")))
        )
        .groupBy("t1", "t2")
        .agg(F.count("*").cast("bigint").alias("support"))
    )
    return sup.select(
        F.concat_ws("->", "t1", "t2").alias("seq"),
        "support",
        F.expr(f"(support * 1000000) div {nu}").alias("support_ppm"),
    ).orderBy(F.desc("support"), "seq")


# --------------------------------------------------------------------------
# orders_benford_test — first-digit Benford conformance (fraud/DQ screen).
# --------------------------------------------------------------------------
# The nine Benford proportions are module-level Python floats inlined
# into BOTH engines' expressions (repr round-trips binary64 exactly),
# so the only floating arithmetic — the per-digit chi² term — is the
# same IEEE expression over the same literals on both sides, rounded
# to an integer micro-unit grid before the (order-dependent) sum.
_BENFORD_P = {d: __import__("math").log10(1.0 + 1.0 / d) for d in range(1, 10)}


@query(
    "orders_benford_test",
    oracle=f"""
    WITH tot AS (SELECT count(*)::BIGINT AS n FROM orders),
    obs AS (
        SELECT substr((floor(o_totalprice * 100)::BIGINT)::VARCHAR, 1, 1)::INT
                   AS digit,
               count(*)::BIGINT AS n_obs
        FROM orders GROUP BY 1),
    spine AS (SELECT unnest(range(1, 10))::INT AS digit),
    px AS (
        SELECT s.digit, coalesce(o.n_obs, 0)::BIGINT AS n_obs,
               CASE s.digit {' '.join(
                   f"WHEN {d} THEN CAST({p!r} AS DOUBLE)"
                   for d, p in _BENFORD_P.items())}
               END AS p
        FROM spine s LEFT JOIN obs o ON o.digit = s.digit),
    terms AS (
        SELECT digit, n_obs,
               n_obs * 1000000 // (SELECT n FROM tot) AS obs_ppm,
               CAST(floor(p * 1000000) AS BIGINT) AS expected_ppm,
               CAST(round((n_obs - (SELECT n FROM tot) * p)
                          * (n_obs - (SELECT n FROM tot) * p)
                          / ((SELECT n FROM tot) * p) * 1000000, 0) AS BIGINT)
                   AS chisq_term_fp
        FROM px)
    SELECT digit, n_obs, obs_ppm, expected_ppm, chisq_term_fp,
           sum(chisq_term_fp) OVER ()::BIGINT AS chisq_total_fp
    FROM terms
    WHERE (SELECT n FROM tot) > 0
    ORDER BY digit
    """,
)
def orders_benford_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law conformance of order totals: observed vs expected
    first-significant-digit distribution with a χ² statistic — the
    classic fabricated-numbers screen, here as a data-quality operator
    next to dq_violation_counts. The first digit is read from the
    integer CENTS (×100 shifts digits without changing the leading
    one), so no float formatting is involved; expected proportions are
    shared binary64 literals and the χ² terms are rounded onto a
    micro-unit integer grid BEFORE summation so the total is
    order-independent and engine-exact.

    Scale: one map-side substring + one 9-group aggregate over orders;
    everything after the aggregate (digit spine join, χ² window) is a
    9-row frame. Nothing about the plan changes at 100 TB."""
    orders = load_table(spark, sf_dir, "orders")
    return benford_report(spark, benford_digit_counts(orders))


def benford_digit_counts(orders: DataFrame) -> DataFrame:
    """orders → (digit, n_obs) first-significant-digit counts — the
    ONE reduction feeding the batch Benford query and the streaming
    twin's per-epoch partials (per-digit counts are additive, so the
    folded ledger and a batch scan see identical counts). Every order
    row contributes exactly one digit, so Σ n_obs == count(*) and the
    report's total-n needs no separate scan."""
    return (
        orders.select(
            F.substring(
                F.floor(F.col("o_totalprice") * 100).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n_obs"))
    )


def benford_report(spark: SparkSession, obs: DataFrame) -> DataFrame:
    """(digit, n_obs) counts → the 9-row Benford conformance table —
    THE one χ² closing computation, shared by the batch query and the
    streaming digit ledger's readout (streaming/benford_stream.py), so
    the two cannot round or sum differently. Empty input returns an
    empty table on both engines (the oracle filters n > 0)."""
    n_row = obs.agg(F.sum("n_obs").cast("bigint").alias("n")).first()
    n = int(n_row.n) if n_row.n is not None else 0
    if n == 0:
        return spark.createDataFrame(
            [],
            "digit INT, n_obs BIGINT, obs_ppm BIGINT, expected_ppm BIGINT,"
            " chisq_term_fp BIGINT, chisq_total_fp BIGINT",
        )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    p_col = F.expr(
        "CASE digit "
        + " ".join(f"WHEN {d} THEN {p!r}" for d, p in _BENFORD_P.items())
        + " END"
    )
    px = (
        spine.join(obs, "digit", "left")
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
            p_col.alias("p"),
        )
    )
    terms = px.select(
        "digit",
        "n_obs",
        F.expr(f"n_obs * 1000000 div {n}").alias("obs_ppm"),
        F.floor(F.col("p") * 1000000).cast("bigint").alias("expected_ppm"),
        F.round(
            (F.col("n_obs") - F.lit(n) * F.col("p"))
            * (F.col("n_obs") - F.lit(n) * F.col("p"))
            / (F.lit(n) * F.col("p"))
            * 1000000,
            0,
        )
        .cast("bigint")
        .alias("chisq_term_fp"),
    )
    w = Window.partitionBy()
    return terms.select(
        "*", F.sum("chisq_term_fp").over(w).alias("chisq_total_fp")
    ).orderBy("digit")


# --------------------------------------------------------------------------
# user_survival_curve — Kaplan-Meier retention with right-censoring.
# --------------------------------------------------------------------------
SURVIVAL_CHURN_HOURS = 24       # inactive this long before corpus end = churned
SURVIVAL_GRID = 10**12          # fixed-point grid for the KM product


@query(
    "user_survival_curve",
    oracle=f"""
    WITH RECURSIVE pu AS (
        SELECT user_id, min(ts) AS fst, max(ts) AS lst FROM events GROUP BY 1),
    u AS (
        SELECT date_diff('day', fst::DATE, lst::DATE) AS t,
               CASE WHEN lst < (SELECT max(ts) FROM events)
                              - INTERVAL {SURVIVAL_CHURN_HOURS} HOUR
                    THEN 1 ELSE 0 END AS ch
        FROM pu),
    tot AS (SELECT count(*)::BIGINT AS n FROM u),
    steps AS (SELECT t, sum(ch)::BIGINT AS d, count(*)::BIGINT AS c
              FROM u GROUP BY t),
    risk AS (
        SELECT t, d,
               ((SELECT n FROM tot) - coalesce(sum(c) OVER (
                   ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0))::BIGINT AS n
        FROM steps),
    ev_steps AS (
        SELECT t, n, d, row_number() OVER (ORDER BY t) AS rn
        FROM risk WHERE d > 0),
    km(rn, t, n, d, s) AS (
        SELECT rn, t, n, d, ({SURVIVAL_GRID} * (n - d)) // n
        FROM ev_steps WHERE rn = 1
        UNION ALL
        SELECT r.rn, r.t, r.n, r.d, (k.s * (r.n - r.d)) // r.n
        FROM km k JOIN ev_steps r ON r.rn = k.rn + 1)
    SELECT t AS duration_days, n AS n_at_risk, d AS n_churned,
           (d * 1000000 // n)::BIGINT AS hazard_ppm,
           s::BIGINT AS km_survival_fp
    FROM km
    ORDER BY duration_days
    """,
)
def user_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier user-retention curve: per-user lifetime = days
    between first and last event; a user is CHURNED when their last
    event precedes corpus end by > {SURVIVAL_CHURN_HOURS} hours, else
    right-CENSORED (still active — they leave the at-risk set at their
    observed lifetime without counting as an event). The KM estimator
    S(t) = Π (1 − d_i/n_i) over churn days ≤ t is the survival-analysis
    standard the naive 'fraction retained' gets wrong under censoring.

    Determinism: the running product is a SEQUENTIAL recurrence, which
    floats would make order-sensitive — so it runs on a 10^12 integer
    grid (s' = s·(n−d) div n, positive operands ⇒ Spark `div` ==
    DuckDB `//`): the Spark side folds prefix slices of the sorted step
    array with `aggregate`, the oracle is a recursive CTE, and both are
    bit-identical by construction.

    Scale: per-user first/last is one shuffle on user_id with map-side
    combine; everything after is the AGGREGATED lifetime-day series
    (bounded by the observation span in days, a few hundred rows at any
    corpus size) — the window, the collect_list and the O(k²) prefix
    folds all run over that bounded frame in one task. The churn cutoff
    attaches as a collected scalar literal (bounded collect)."""
    import datetime

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    end_ts = ev.agg(F.max("ts")).first()[0]
    if end_ts is None:
        # empty events: the oracle's per-user CTE is empty so it
        # returns no rows; match that instead of crashing on the
        # None corpus-end timestamp.
        return spark.createDataFrame(
            [],
            "duration_days INT, n_at_risk BIGINT, n_churned BIGINT,"
            " hazard_ppm BIGINT, km_survival_fp BIGINT",
        )
    cutoff = end_ts - datetime.timedelta(hours=SURVIVAL_CHURN_HOURS)
    pu = ev.groupBy("user_id").agg(
        F.min("ts").alias("fst"), F.max("ts").alias("lst")
    )
    u = pu.select(
        F.datediff(F.to_date("lst"), F.to_date("fst")).alias("t"),
        F.when(F.col("lst") < F.lit(cutoff), 1).otherwise(0).alias("ch"),
    )
    n_users = u.count()
    steps = u.groupBy("t").agg(
        F.sum("ch").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("c"),
    )
    w_prev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = steps.select(
        "t",
        "d",
        (F.lit(n_users) - F.coalesce(F.sum("c").over(w_prev), F.lit(0)))
        .cast("bigint")
        .alias("n"),
    ).where(F.col("d") > 0)
    arr = risk.agg(
        F.sort_array(F.collect_list(F.struct("t", "n", "d"))).alias("a")
    )
    return (
        arr.select("a", F.posexplode("a").alias("pos", "x"))
        .select(
            F.col("x.t").alias("duration_days"),
            F.col("x.n").alias("n_at_risk"),
            F.col("x.d").alias("n_churned"),
            F.expr("x.d * 1000000 div x.n").cast("bigint").alias("hazard_ppm"),
            F.expr(
                f"aggregate(slice(a, 1, pos + 1),"
                f" cast({SURVIVAL_GRID} as bigint),"
                f" (acc, s) -> (acc * (s.n - s.d)) div s.n)"
            )
            .cast("bigint")
            .alias("km_survival_fp"),
        )
        .orderBy("duration_days")
    )


# --------------------------------------------------------------------------
# revenue_acf — exact-integer autocorrelation of the daily revenue series.
# --------------------------------------------------------------------------
ACF_MAX_LAG = 14  # two weeks: exposes the weekly cycle and its harmonic


@query(
    "revenue_acf",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    st AS (SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS s FROM daily),
    c AS (
        SELECT day,
               (SELECT n FROM st)::HUGEINT * cents
                   - (SELECT s FROM st)::HUGEINT AS nx
        FROM daily),
    den AS (SELECT sum(nx * nx)::HUGEINT AS d FROM c),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1}))::INT AS lag),
    pairs AS (
        SELECT l.lag, a.nx AS nx_t, b.nx AS nx_tk
        FROM lags l
        JOIN c a ON true
        JOIN c b ON b.day = a.day + l.lag * INTERVAL 1 DAY),
    num AS (
        SELECT lag, count(*)::BIGINT AS n_pairs,
               sum(nx_t * nx_tk)::HUGEINT AS m
        FROM pairs GROUP BY lag)
    SELECT lag, n_pairs,
           ((1000000::HUGEINT * (m + (SELECT d FROM den)))
               // (SELECT d FROM den) - 1000000)::BIGINT AS acf_ppm
    FROM num
    WHERE (SELECT d FROM den) > 0
    ORDER BY lag
    """,
)
def revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the daily revenue series at lags 1..
    {ACF_MAX_LAG}: a lag-7 spike is the weekly cycle the dow-forecast
    family assumes — this query MEASURES it (and its 14-day harmonic)
    instead of assuming it. Pairing is by CALENDAR day (t, t+lag), so
    gap days pair with nothing rather than silently shifting the
    series the way a row-lag window would.

    Determinism — the same n-scaling trick as CUSUM/CV², one level up:
    acf_k = Σ(x_t−m)(x_{{t+k}}−m) / Σ(x_t−m)² has a rational mean
    m = S/n; multiplying every centered term by n makes both sums
    exact integers (nx_t = n·x_t − S; the products reach ~10²⁵ at the
    largest day-series envelopes, past BIGINT — Spark carries them as
    DECIMAL(38,0), the oracle as HUGEINT, because DuckDB's `//` on
    DECIMAL detours through DOUBLE and loses ulps at this magnitude —
    measured as an off-by-one before the HUGEINT cast). The
    numerator can be NEGATIVE, where Spark's
    `div` (truncate) and DuckDB's `//` (floor) disagree — so the
    division is offset onto a positive domain (|num| ≤ den by
    Cauchy-Schwarz): ppm = (10⁶·(num+den)) div den − 10⁶.

    Scale: one shuffle builds the day series; everything after — the
    14-way lag explode, the calendar self-join, the moment sums — runs
    on the BOUNDED aggregated day frame. The n/S/den scalars attach as
    collected literals (bounded)."""
    orders = load_table(spark, sf_dir, "orders")
    return acf_from_daily(spark, daily_revenue_cents(orders))


def acf_from_daily(
    spark: SparkSession, daily: DataFrame, pin_ns: str = "acf"
) -> DataFrame:
    """(day, cents) series → the lag-1..{ACF_MAX_LAG} autocorrelation
    table — THE one ACF computation, shared by the batch query and the
    streaming revenue ledger's readout (streaming/cusum_stream.py
    serves CUSUM and ACF from the same folded day store), so the two
    cannot center or divide differently."""

    c = pin(
        f"{pin_ns}_c",
        daily.select(
            "day",
            F.expr(
                "cast(count(*) over () as decimal(38, 0)) * cents"
                " - cast(sum(cents) over () as decimal(38, 0))"
            ).alias("nx"),
        ),
        fill=False,
    )
    den = c.agg(F.sum(F.expr("nx * nx")).cast("decimal(38, 0)").alias("d")).first()[
        0
    ]
    if den is None or den == 0:
        # empty or CONSTANT daily series: the ACF is undefined (zero
        # variance). Return an empty table — the oracle's
        # WHERE den > 0 makes the same call, so degenerate inputs
        # agree across engines instead of null-vs-error diverging.
        return spark.createDataFrame(
            [], "lag INT, n_pairs BIGINT, acf_ppm BIGINT"
        )
    a = c.select(F.col("day").alias("d_a"), F.col("nx").alias("nx_t"))
    b = c.select(F.col("day").alias("d_b"), F.col("nx").alias("nx_tk"))
    pairs = (
        a.withColumn(
            "lag",
            F.explode(F.expr(f"sequence(cast(1 as int), cast({ACF_MAX_LAG} as int))")),
        )
        .withColumn("d_plus", F.expr("date_add(d_a, lag)"))
        .join(b, F.col("d_plus") == F.col("d_b"))
    )
    num = pairs.groupBy("lag").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        F.sum(F.expr("nx_t * nx_tk")).cast("decimal(38, 0)").alias("m"),
    )
    return num.select(
        "lag",
        "n_pairs",
        F.expr(
            f"cast((cast(1000000 as decimal(38, 0))"
            f" * (m + cast('{den}' as decimal(38, 0))))"
            f" div cast('{den}' as decimal(38, 0)) - 1000000 as bigint)"
        ).alias("acf_ppm"),
    ).orderBy("lag")


# --------------------------------------------------------------------------
# revenue_ewma — integer-exact exponential smoothing (weekly series).
# --------------------------------------------------------------------------
EWMA_ALPHA_NUM = 1   # alpha = 1/5: s_t = (x_t + 4 s_{t-1}) div 5
EWMA_ALPHA_DEN = 5


@query(
    "revenue_ewma",
    oracle=f"""
    WITH RECURSIVE weekly AS (
        -- explicit floor: DuckDB's integer // truncates toward zero,
        -- which would split pre-1970 dates differently from Spark's
        -- floor() bucketing (days magnitude ≪ 2^53, double is exact)
        SELECT floor(
                   date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
                   / 7.0)::BIGINT AS week_id,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    seq AS (
        SELECT week_id, cents,
               row_number() OVER (ORDER BY week_id) AS rn
        FROM weekly),
    ew(rn, week_id, cents, s) AS (
        SELECT rn, week_id, cents, cents FROM seq WHERE rn = 1
        UNION ALL
        SELECT q.rn, q.week_id, q.cents,
               (q.cents * {EWMA_ALPHA_NUM}
                + e.s * ({EWMA_ALPHA_DEN - EWMA_ALPHA_NUM}))
               // {EWMA_ALPHA_DEN}
        FROM ew e JOIN seq q ON q.rn = e.rn + 1)
    SELECT e.week_id, e.cents AS revenue_cents, e.s AS ewma_cents,
           abs(e.cents - p.s)::BIGINT AS abs_err_cents
    FROM ew e LEFT JOIN ew p ON p.rn = e.rn - 1
    ORDER BY e.week_id
    """,
)
def revenue_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of WEEKLY revenue
    (α = {EWMA_ALPHA_NUM}/{EWMA_ALPHA_DEN}) with the one-step-ahead
    absolute forecast error per week — the level-tracking smoother
    next to the dow-seasonal forecast and the CUSUM detector
    (smoothing answers 'where is the level now', CUSUM answers 'did
    it move').

    Determinism — the KM-survival recurrence pattern applied to
    smoothing: EWMA is inherently sequential, floats would make it
    order-sensitive, but with a RATIONAL α the recurrence
    s_t = (x_t·num + s_(t-1)·(den−num)) div den stays in exact integer
    cents (positive operands ⇒ trunc == floor). The Spark side folds
    prefix slices of the sorted week array with aggregate(); the
    oracle is a recursive CTE; bit-identical by construction. abs_err
    compares x_t to the PREVIOUS smoothed level — the honest one-step
    forecast residual.

    Scale: one shuffle builds the weekly series (epoch-week integer
    arithmetic shared by both engines); the collect_list, the O(k²)
    prefix folds, and the lag all run on the BOUNDED week frame
    (hundreds of rows at any corpus size)."""
    orders = load_table(spark, sf_dir, "orders")
    return ewma_from_daily(spark, daily_revenue_cents(orders))


def ewma_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """(day, cents) series → the weekly EWMA table — THE one smoothing
    computation, shared by the batch query and the streaming revenue
    ledger's readout (streaming/cusum_stream.py serves CUSUM, ACF and
    EWMA from the same folded day store). Weeks are exact-integer
    day-rollups, so folding the ledger and scanning orders produce the
    identical weekly series."""
    # floor() (not a trunc-toward-zero cast) so pre-1970 dates — negative
    # datediff — bucket identically to the oracle's explicit floor.
    weekly = daily.groupBy(
        F.floor(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) / 7
        )
        .cast("bigint")
        .alias("week_id")
    ).agg(F.sum("cents").cast("bigint").alias("cents"))
    arr = weekly.agg(
        F.sort_array(F.collect_list(F.struct("week_id", "cents"))).alias("a")
    )
    rest = EWMA_ALPHA_DEN - EWMA_ALPHA_NUM
    ew = (
        f"aggregate(slice(a, 1, pos + 1), cast(-1 as bigint),"
        f" (acc, x) -> if(acc = -1, x.cents,"
        f" (x.cents * {EWMA_ALPHA_NUM} + acc * {rest}) div {EWMA_ALPHA_DEN}))"
    )
    ew_prev = (
        f"aggregate(slice(a, 1, pos), cast(-1 as bigint),"
        f" (acc, x) -> if(acc = -1, x.cents,"
        f" (x.cents * {EWMA_ALPHA_NUM} + acc * {rest}) div {EWMA_ALPHA_DEN}))"
    )
    return (
        arr.select("a", F.posexplode("a").alias("pos", "x"))
        .select(
            F.col("x.week_id").alias("week_id"),
            F.col("x.cents").alias("revenue_cents"),
            F.expr(ew).cast("bigint").alias("ewma_cents"),
            F.when(
                F.col("pos") > 0,
                F.abs(F.col("x.cents") - F.expr(ew_prev)).cast("bigint"),
            ).alias("abs_err_cents"),
        )
        .orderBy("week_id")
    )


# --------------------------------------------------------------------------
# revenue_holt_forecast — Holt double exponential smoothing: the
# level+TREND tracker next to the level-only EWMA, as a 2-state exact
# integer recurrence.
# --------------------------------------------------------------------------
HOLT_ALPHA_NUM, HOLT_ALPHA_DEN = 1, 5   # level smoothing
HOLT_BETA_NUM, HOLT_BETA_DEN = 1, 5     # trend smoothing

# l_t referenced by b_t: SQL lambdas have no let-binding, so the level
# expression is inlined twice (identical text ⇒ identical value). All
# operands are BIGINT; Spark `div` and DuckDB `//` BOTH truncate toward
# zero (probed — the repo's EWMA comment), so the possibly-negative
# trend state divides identically without an offset.
_HOLT_L = (
    f"(x.cents * {HOLT_ALPHA_NUM} + (acc.l + acc.b)"
    f" * {HOLT_ALPHA_DEN - HOLT_ALPHA_NUM}) div {HOLT_ALPHA_DEN}"
)
_HOLT_B = (
    f"(({_HOLT_L} - acc.l) * {HOLT_BETA_NUM}"
    f" + acc.b * {HOLT_BETA_DEN - HOLT_BETA_NUM}) div {HOLT_BETA_DEN}"
)


@query(
    "revenue_holt_forecast",
    oracle=f"""
    WITH RECURSIVE weekly AS (
        SELECT floor(
                   date_diff('day', DATE '1970-01-01', o_orderdate::DATE)
                   / 7.0)::BIGINT AS week_id,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    seq AS (
        SELECT week_id, cents,
               row_number() OVER (ORDER BY week_id) AS rn
        FROM weekly),
    hw(rn, week_id, cents, l, b) AS (
        SELECT rn, week_id, cents, cents, 0::BIGINT FROM seq WHERE rn = 1
        UNION ALL
        SELECT rn, week_id, cents, nl,
               ((nl - pl) * {HOLT_BETA_NUM}
                + pb * {HOLT_BETA_DEN - HOLT_BETA_NUM}) // {HOLT_BETA_DEN}
        FROM (
            SELECT q.rn, q.week_id, q.cents, e.l AS pl, e.b AS pb,
                   (q.cents * {HOLT_ALPHA_NUM} + (e.l + e.b)
                    * {HOLT_ALPHA_DEN - HOLT_ALPHA_NUM})
                       // {HOLT_ALPHA_DEN} AS nl
            FROM hw e JOIN seq q ON q.rn = e.rn + 1))
    SELECT e.week_id, e.cents AS revenue_cents,
           e.l AS level_cents, e.b AS trend_cents,
           (p.l + p.b)::BIGINT AS forecast_cents,
           abs(e.cents - (p.l + p.b))::BIGINT AS abs_err_cents
    FROM hw e LEFT JOIN hw p ON p.rn = e.rn - 1
    ORDER BY e.week_id
    """,
)
def revenue_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt DOUBLE exponential smoothing of weekly revenue
    (α = {HOLT_ALPHA_NUM}/{HOLT_ALPHA_DEN},
    β = {HOLT_BETA_NUM}/{HOLT_BETA_DEN}): a level state AND a trend
    state, so the one-step forecast l+b leads a drifting series
    instead of lagging it the way the level-only EWMA structurally
    must. Per week: level, trend, the honest one-step-ahead forecast
    from the PREVIOUS states, and its absolute error — put next to
    revenue_ewma's residuals, the delta is exactly what modeling the
    trend buys.

    Determinism — the sequential-recurrence-on-an-integer-grid trick
    extended to VECTOR state: both recurrences use rational smoothing
    constants, so (l, b) stays in exact integer cents; the trend
    state can be negative, where Spark's `div` and DuckDB's `//`
    still agree (both truncate toward zero — only Python floor
    differs, and Python never touches this path). The Spark side
    folds prefix slices with a struct accumulator; the oracle is a
    recursive CTE with the level expression inlined (no let-binding
    in either engine's lambda/CTE); bit-identical by construction.

    Scale: one shuffle to the weekly series; the O(k²) prefix folds
    run on the BOUNDED week frame (hundreds of rows at any corpus
    size — the EWMA posture)."""
    orders = load_table(spark, sf_dir, "orders")
    return holt_from_daily(spark, daily_revenue_cents(orders))


def holt_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """(day, cents) series → the weekly Holt table — THE one
    double-smoothing computation, shared by the batch query and the
    streaming revenue ledger's readout (cusum_stream.holt_readout),
    reusing ewma_from_daily's exact weekly reduction shape."""
    weekly = daily.groupBy(
        F.floor(
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date")) / 7
        )
        .cast("bigint")
        .alias("week_id")
    ).agg(F.sum("cents").cast("bigint").alias("cents"))
    arr = weekly.agg(
        F.sort_array(F.collect_list(F.struct("week_id", "cents"))).alias("a")
    )
    init = "named_struct('l', cast(-1 as bigint), 'b', cast(0 as bigint))"
    step = (
        f"(acc, x) -> if(acc.l = -1L,"
        f" named_struct('l', cast(x.cents as bigint), 'b', cast(0 as bigint)),"
        f" named_struct('l', cast({_HOLT_L} as bigint),"
        f" 'b', cast({_HOLT_B} as bigint)))"
    )
    hw = f"aggregate(slice(a, 1, pos + 1), {init}, {step})"
    hw_prev = f"aggregate(slice(a, 1, pos), {init}, {step})"
    return (
        arr.select("a", F.posexplode("a").alias("pos", "x"))
        .select(
            F.col("x.week_id").alias("week_id"),
            F.col("x.cents").alias("revenue_cents"),
            F.expr(f"{hw}.l").cast("bigint").alias("level_cents"),
            F.expr(f"{hw}.b").cast("bigint").alias("trend_cents"),
            F.when(
                F.col("pos") > 0,
                F.expr(f"{hw_prev}.l + {hw_prev}.b").cast("bigint"),
            ).alias("forecast_cents"),
            F.when(
                F.col("pos") > 0,
                F.abs(
                    F.col("x.cents")
                    - F.expr(f"{hw_prev}.l + {hw_prev}.b")
                ).cast("bigint"),
            ).alias("abs_err_cents"),
        )
        .orderBy("week_id")
    )


# --------------------------------------------------------------------------
# revenue_dow_anova — how much of daily-revenue variance the weekday
# explains (eta-squared), exactly.
# --------------------------------------------------------------------------
@query(
    "revenue_dow_anova",
    oracle="""
    WITH daily AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    dowd AS (
        SELECT ((date_diff('day', DATE '1970-01-01', day) % 7) + 7) % 7
                   AS dow,
               cents
        FROM daily),
    g AS (
        SELECT dow, count(*)::BIGINT AS n_days,
               sum(cents)::HUGEINT AS s,
               sum(cents::HUGEINT * cents) AS s2,
               -- per-group scaled term (S_g^2 * 1e6) // n_g: exact
               -- integer, so the 7-term between-group sum is
               -- order-independent
               (sum(cents)::HUGEINT * sum(cents)::HUGEINT * 1000000)
                   // count(*) AS a_term
        FROM dowd GROUP BY dow),
    tot AS (
        SELECT sum(n_days)::HUGEINT AS n, sum(s)::HUGEINT AS st,
               sum(s2)::HUGEINT AS s2t, sum(a_term)::HUGEINT AS a
        FROM g)
    SELECT g.dow::INT AS dow, g.n_days,
           g.s::BIGINT AS revenue_cents,
           (g.s // g.n_days)::BIGINT AS mean_cents,
           -- SSbetween >= 0 by Cauchy-Schwarz, but per-group a_term
           -- truncation can push the scaled numerator a few ulps
           -- negative when group means are equal: clamp at 0 so the
           -- (floor vs trunc) negative-division divergence between
           -- engines can never fire
           ((SELECT greatest(a * n - st * st * 1000000, 0) * 1000000
                 // ((n * s2t - st * st) * 1000000) FROM tot))::BIGINT
               AS eta2_ppm
    FROM g
    WHERE (SELECT n * s2t - st * st FROM tot) > 0
    ORDER BY dow
    """,
)
def revenue_dow_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of daily revenue by WEEKDAY: per-dow day counts,
    totals and floored means, plus η² — the share of daily-revenue
    variance the weekday factor explains — as one ppm integer. This
    is the measurement behind the dow-forecast family's assumption
    (revenue_acf shows the lag-7 cycle exists; this quantifies how
    much of the variance it is) and the general grouped-variance
    shape (SSbetween/SStotal) any segmentation claim should quote.

    Determinism — exact-integer ANOVA: SStotal's n·Σx²−(Σx)² is the
    established exact-moment form; SSbetween needs Σ_g S_g²/n_g,
    whose per-group division is NOT integer — so each group's term is
    scaled to (S_g²·10⁶) div n_g FIRST (exact trunc on positive
    operands, deterministic), making the 7-term between-group sum
    order-independent; η²_ppm is then one integer division of the
    scaled moments. The ≤1e-6 per-group truncation is bounded and
    identical in both engines — never a float. Weekday is
    ((epoch_day mod 7)+7) mod 7 — the dow-forecast arithmetic, exact
    for pre-1970 dates too.

    Scale: one shuffle to the day series; everything after runs on
    the bounded 7-group frame."""
    orders = load_table(spark, sf_dir, "orders")
    return dow_anova_from_daily(spark, daily_revenue_cents(orders))


def dow_anova_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """The weekday-ANOVA close over a (day, cents) DAILY frame — the
    ONE close shared by the batch revenue_dow_anova and
    streaming/anova_stream's readout off its additive per-day ledger,
    so batch and stream cannot drift (the tail_risk_from_cents_hist
    contract). The day series is the observation unit (squares don't
    distribute over partial-day sums — the ledger must deliver full
    day totals); everything below the one day-grain shuffle runs on
    the bounded 7-group frame."""
    dowd = daily.select(
        F.expr(
            "((datediff(day, date '1970-01-01') % 7) + 7) % 7"
        ).alias("dow"),
        "cents",
    )
    g = dowd.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("cents").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("cast(cents as decimal(38,0)) * cents")).alias("s2"),
    )
    # the whole group frame is ≤7 rows — close exactly in Python ints
    # (unbounded, so S_g² · 10⁶ can never overflow a LONG the way a
    # decimal `div` would; the join_size_report precedent)
    # revenue_cents is emitted as BIGINT: global revenue cents stay
    # far below 2^63 at any conceivable sf, and the driver's value
    # hash canonicalizes BIGINT identically on both engines whereas
    # DECIMAL(38,0) was the round-7 hash-mismatch culprit
    schema = (
        "dow INT, n_days BIGINT, revenue_cents BIGINT,"
        " mean_cents BIGINT, eta2_ppm BIGINT"
    )
    rows = sorted(
        ((int(r.dow), int(r.n_days), int(r.s), int(r.s2)) for r in g.collect())
    )
    if not rows:
        return spark.createDataFrame([], schema)
    n = sum(r[1] for r in rows)
    st = sum(r[2] for r in rows)
    s2t = sum(r[3] for r in rows)
    a = sum((r[2] * r[2] * 1000000) // r[1] for r in rows)
    sst_scaled = n * s2t - st * st
    if sst_scaled <= 0:
        # constant daily series: eta2 undefined — empty on both engines
        return spark.createDataFrame([], schema)
    # clamp: SSbetween >= 0 mathematically; a_term truncation can
    # leave the scaled numerator slightly negative (equal means),
    # where Python // (floor) and DuckDB HUGEINT // (trunc) diverge
    eta2 = max(a * n - st * st * 1000000, 0) * 1000000 // (
        sst_scaled * 1000000
    )
    out = [(dow, nd, sg, sg // nd, eta2) for dow, nd, sg, _ in rows]
    return spark.createDataFrame(out, schema).orderBy("dow")


# --------------------------------------------------------------------------
# revenue_trend_seasonal_split — classical decomposition strengths: how
# much of daily-revenue variance is TREND, how much is the weekly cycle,
# and what per-dow seasonal components remain after detrending.
# --------------------------------------------------------------------------
# Offset for the possibly-negative per-dow seasonal mean: Python/DuckDB
# floor-vs-trunc division agrees only on a non-negative domain, so the
# mean is computed as ((T_d + K·n_d) div n_d) − K. |detr| ≤ 7·max-daily
# cents, so K = 10^15 clears any gate-scale series with huge margin
# (the close runs in HUGEINT/unbounded Python ints — no overflow).
TSS_MEAN_OFFSET = 10**15

# Shared oracle CTE block: orders → dense calendar spine → centered
# 7-day moving sum → detrended interior day series (ed, dow, y7, detr).
# THE one detrend definition, used by both the variance split and the
# seasonal-anomaly detector so the two cannot detrend differently.
_DETREND_CTES = """
    daily AS (
        SELECT date_diff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT
                   AS ed,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    bounds AS (SELECT min(ed) AS lo, max(ed) AS hi FROM daily),
    spine AS (
        SELECT unnest(generate_series((SELECT lo FROM bounds),
                                      (SELECT hi FROM bounds)))::BIGINT AS ed),
    dense AS (
        SELECT s.ed, coalesce(d.cents, 0)::BIGINT AS rev
        FROM spine s LEFT JOIN daily d ON d.ed = s.ed),
    ma AS (
        SELECT ed, rev,
               sum(rev) OVER (ORDER BY ed
                   ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)::BIGINT AS t7
        FROM dense),
    interior AS (
        SELECT ed, ((ed % 7) + 7) % 7 AS dow,
               rev, 7 * rev AS y7,
               7 * rev - t7 AS detr
        FROM ma
        WHERE ed >= (SELECT lo FROM bounds) + 3
          AND ed <= (SELECT hi FROM bounds) - 3)"""


def detrended_day_series(
    spark: SparkSession, daily: DataFrame
) -> DataFrame | None:
    """(ed, cents) day series → the detrended INTERIOR frame
    (ed, dow, rev, y7, detr) on the dense calendar spine — THE one
    detrend computation (mirrors _DETREND_CTES exactly), shared by
    revenue_trend_seasonal_split and revenue_seasonal_anomalies.
    Returns None on an empty series. The ×7 scaling turns the centered
    moving average into a moving SUM, so detrending never divides."""
    b = daily.agg(F.min("ed").alias("lo"), F.max("ed").alias("hi")).first()
    if b.lo is None:
        return None
    lo, hi = int(b.lo), int(b.hi)
    dense = (
        spark.range(lo, hi + 1)
        .select(F.col("id").cast("bigint").alias("ed"))
        .join(daily, "ed", "left")
        .select(
            "ed", F.coalesce("cents", F.lit(0)).cast("bigint").alias("rev")
        )
    )
    w = Window.orderBy("ed").rowsBetween(-3, 3)
    return (
        dense.select(
            "ed", "rev", F.sum("rev").over(w).cast("bigint").alias("t7")
        )
        .where((F.col("ed") >= lo + 3) & (F.col("ed") <= hi - 3))
        .select(
            "ed",
            F.expr("((ed % 7) + 7) % 7").cast("int").alias("dow"),
            "rev",
            (F.lit(7) * F.col("rev")).cast("bigint").alias("y7"),
            (F.lit(7) * F.col("rev") - F.col("t7"))
            .cast("bigint")
            .alias("detr"),
        )
    )


@query(
    "revenue_trend_seasonal_split",
    oracle=f"""
    WITH {_DETREND_CTES},
    g AS (
        SELECT dow, count(*)::HUGEINT AS n_d,
               sum(detr)::HUGEINT AS t_d,
               sum(detr::HUGEINT * detr) AS d2_d,
               sum(y7)::HUGEINT AS y_d,
               sum(y7::HUGEINT * y7) AS y2_d,
               (sum(detr)::HUGEINT * sum(detr)::HUGEINT * 1000000)
                   // count(*) AS a_term
        FROM interior GROUP BY dow),
    tot AS (
        SELECT sum(n_d) AS n, sum(t_d) AS t, sum(d2_d) AS d2,
               sum(y_d) AS y, sum(y2_d) AS y2, sum(a_term) AS a FROM g),
    ss AS (
        SELECT (n * y2 - y * y) AS ssy,
               (n * d2 - t * t) AS ssd,
               greatest(a * n - t * t * 1000000, 0) AS ssb_scaled
        FROM tot)
    SELECT g.dow::INT AS dow, g.n_d::BIGINT AS n_days,
           ((g.t_d + {TSS_MEAN_OFFSET}::HUGEINT * g.n_d) // g.n_d
               - {TSS_MEAN_OFFSET})::BIGINT AS seasonal_x7_cents,
           (SELECT CASE WHEN ssy > 0
                   THEN greatest(ssy - ssd, 0) * 1000000 // ssy
                   ELSE 0 END FROM ss)::BIGINT AS trend_strength_ppm,
           (SELECT CASE WHEN ssd > 0
                   THEN ssb_scaled * 1000000 // (ssd * 1000000)
                   ELSE 0 END FROM ss)::BIGINT AS seasonal_strength_ppm
    FROM g
    ORDER BY dow
    """,
)
def revenue_trend_seasonal_split(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Classical seasonal decomposition STRENGTHS (Hyndman's F_T/F_S)
    of daily revenue: detrend with a centered 7-day moving sum on the
    DENSE calendar spine (missing days are zero-revenue days), then
    (a) trend_strength = max(0, 1 − Var(detrended)/Var(raw)) — the
    variance share the trend removes; (b) seasonal_strength = the
    weekday η² OF THE DETRENDED series — the weekly cycle net of
    trend (revenue_dow_anova measures the cycle gross of trend; a
    drifting level inflates that number, this one is immune); and
    (c) the per-dow seasonal component in 7×cents units. Together:
    level, cycle, and noise shares — the decomposition a forecaster
    reads before model selection.

    Determinism: the series is integer cents ×7 (the moving AVERAGE
    becomes a moving SUM — no division in the hot path); both
    strength ratios close on exact scaled moments (the dow_anova
    n-scaling + clamp), and the possibly-negative per-dow mean is
    offset onto a non-negative domain (floor == trunc) before its one
    integer division.

    Scale: one shuffle to the day series; the dense spine, the
    7-row window, and the dow rollup run on the BOUNDED calendar
    frame; the ≤7-group close is exact unbounded-int Python, emitted
    as literals (the dow_anova shape)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = daily_revenue_cents(orders).select(
        F.expr("datediff(day, date '1970-01-01')").cast("bigint").alias(
            "ed"
        ),
        "cents",
    )
    schema = (
        "dow INT, n_days BIGINT, seasonal_x7_cents BIGINT,"
        " trend_strength_ppm BIGINT, seasonal_strength_ppm BIGINT"
    )
    interior = detrended_day_series(spark, daily)
    if interior is None:
        return spark.createDataFrame([], schema)
    g = interior.groupBy("dow").agg(
        F.count("*").cast("bigint").alias("n_d"),
        F.sum("detr").cast("decimal(38,0)").alias("t_d"),
        F.sum(F.expr("cast(detr as decimal(38,0)) * detr")).alias("d2_d"),
        F.sum("y7").cast("decimal(38,0)").alias("y_d"),
        F.sum(F.expr("cast(y7 as decimal(38,0)) * y7")).alias("y2_d"),
    )
    rows = sorted(
        (int(r.dow), int(r.n_d), int(r.t_d), int(r.d2_d), int(r.y_d),
         int(r.y2_d))
        for r in g.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    n = sum(r[1] for r in rows)
    t = sum(r[2] for r in rows)
    d2 = sum(r[3] for r in rows)
    y = sum(r[4] for r in rows)
    y2 = sum(r[5] for r in rows)
    a = sum((r[2] * r[2] * 1000000) // r[1] for r in rows)
    ssy = n * y2 - y * y
    ssd = n * d2 - t * t
    trend_ppm = max(ssy - ssd, 0) * 1000000 // ssy if ssy > 0 else 0
    seas_ppm = (
        max(a * n - t * t * 1000000, 0) * 1000000 // (ssd * 1000000)
        if ssd > 0
        else 0
    )
    K = TSS_MEAN_OFFSET
    out = [
        (
            dow,
            n_d,
            (t_d + K * n_d) // n_d - K,
            trend_ppm,
            seas_ppm,
        )
        for dow, n_d, t_d, _, _, _ in rows
    ]
    return spark.createDataFrame(out, schema).orderBy("dow")


# --------------------------------------------------------------------------
# revenue_seasonal_anomalies — the decomposition's actionable consumer:
# days whose remainder (after trend AND weekly cycle) is a robust outlier.
# --------------------------------------------------------------------------
@query(
    "revenue_seasonal_anomalies",
    oracle=f"""
    WITH {_DETREND_CTES},
    seas AS (
        SELECT dow,
               ((sum(detr)::HUGEINT + {TSS_MEAN_OFFSET}::HUGEINT * count(*))
                   // count(*) - {TSS_MEAN_OFFSET})::BIGINT AS s_x7
        FROM interior GROUP BY dow),
    scored AS (
        SELECT i.ed, i.dow, i.rev, (i.detr - s.s_x7)::BIGINT AS r
        FROM interior i JOIN seas s ON s.dow = i.dow),
    nn AS (SELECT count(*)::BIGINT AS n FROM scored),
    med AS (
        SELECT r AS med FROM (
            SELECT r, row_number() OVER (ORDER BY r, ed) AS rn FROM scored)
        WHERE rn = ((SELECT n FROM nn) + 1) // 2),
    dev AS (
        SELECT ed, dow, rev, r,
               abs(r - (SELECT med FROM med))::BIGINT AS d
        FROM scored),
    mad AS (
        SELECT d AS mad FROM (
            SELECT d, row_number() OVER (ORDER BY d, ed) AS rn FROM dev)
        WHERE rn = ((SELECT n FROM nn) + 1) // 2)
    SELECT strftime(DATE '1970-01-01' + ed::INT, '%Y-%m-%d') AS day,
           dow::INT AS dow,
           rev AS revenue_cents,
           r AS remainder_x7,
           (SELECT med FROM med) AS med_x7,
           (SELECT mad FROM mad) AS mad_x7
    FROM dev
    WHERE d > 3 * (SELECT mad FROM mad)
    ORDER BY day
    """,
)
def revenue_seasonal_anomalies(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Seasonally-adjusted anomaly days: remove the trend (centered
    7-day moving sum) AND the weekly cycle (per-dow floored mean of
    the detrended series), then flag days whose remainder deviates
    from the remainder median by more than 3×MAD — the robust
    detector events_anomaly_mad is on RAW values, which mistakes every
    busy Saturday and every growth month for an incident; this one
    alerts only on what the decomposition cannot explain. Shares the
    detrend kernel (detrended_day_series / _DETREND_CTES) with
    revenue_trend_seasonal_split so the detector and the variance
    split cannot disagree about what 'trend' means.

    Determinism: integer end-to-end — the seasonal mean divides on an
    offset non-negative domain (floor == trunc), the median and MAD
    are lower-median ranks with an (value, ed) tie-break, and the
    flag threshold is integer comparison. No float anywhere.

    Scale: one shuffle to the day series; the spine, windows, the
    7-row seasonal join and both rank passes run on the BOUNDED
    calendar frame (pinned — three consumers)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = daily_revenue_cents(orders).select(
        F.expr("datediff(day, date '1970-01-01')").cast("bigint").alias(
            "ed"
        ),
        "cents",
    )
    schema = (
        "day STRING, dow INT, revenue_cents BIGINT, remainder_x7 BIGINT,"
        " med_x7 BIGINT, mad_x7 BIGINT"
    )
    interior = detrended_day_series(spark, daily)
    if interior is None:
        return spark.createDataFrame([], schema)
    K = TSS_MEAN_OFFSET
    seas = interior.groupBy("dow").agg(
        F.expr(
            f"cast((sum(cast(detr as decimal(38,0)))"
            f" + cast({K} as decimal(38,0)) * count(*)) div count(*)"
            f" - {K} as bigint)"
        ).alias("s_x7")
    )
    scored = interior.join(F.broadcast(seas), "dow").select(
        "ed",
        "dow",
        "rev",
        (F.col("detr") - F.col("s_x7")).cast("bigint").alias("r"),
    )
    # the scored frame is BOUNDED by the calendar span — ONE collect,
    # then the median/MAD/flag close runs in exact Python ints (the
    # dow_anova shape; five sequential Spark actions measured 5× the
    # single-action wall time for zero distribution benefit)
    rows = sorted(
        (int(x.ed), int(x.dow), int(x.rev), int(x.r))
        for x in scored.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    k_med = (len(rows) + 1) // 2
    med = sorted((r, ed) for ed, _, _, r in rows)[k_med - 1][0]
    mad = sorted((abs(r - med), ed) for ed, _, _, r in rows)[k_med - 1][0]
    from datetime import date, timedelta

    epoch = date(1970, 1, 1)
    out = [
        (
            (epoch + timedelta(days=ed)).isoformat(),
            dow,
            rev,
            r,
            med,
            mad,
        )
        for ed, dow, rev, r in rows
        if abs(r - med) > 3 * mad
    ]
    return spark.createDataFrame(out, schema).orderBy("day")


# --------------------------------------------------------------------------
# ab_test_sequential — anytime-valid (peeking-safe) experiment monitor:
# a time-uniform confidence boundary over the cumulative daily readout.
# --------------------------------------------------------------------------
SEQ_ALPHA_INV = 20  # alpha = 0.05, carried as an integer reciprocal


@query(
    "ab_test_sequential",
    oracle=f"""
    WITH tagged AS (
        SELECT ts::DATE AS day,
               CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                        % 2 = 0
                    THEN 0 ELSE 1 END AS v,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events),
    dailyc AS (
        SELECT day,
               sum(CASE WHEN v = 0 THEN 1 ELSE 0 END)::BIGINT AS d_na,
               sum(CASE WHEN v = 1 THEN 1 ELSE 0 END)::BIGINT AS d_nb,
               sum(CASE WHEN v = 0 THEN conv ELSE 0 END)::BIGINT AS d_ca,
               sum(CASE WHEN v = 1 THEN conv ELSE 0 END)::BIGINT AS d_cb
        FROM tagged GROUP BY day),
    cum AS (
        SELECT day,
               sum(d_na) OVER w AS n_a, sum(d_nb) OVER w AS n_b,
               sum(d_ca) OVER w AS c_a, sum(d_cb) OVER w AS c_b
        FROM dailyc
        WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW))
    SELECT day, n_a::BIGINT AS n_a, n_b::BIGINT AS n_b,
           c_a::BIGINT AS conv_a, c_b::BIGINT AS conv_b,
           (c_a * 1000000 // n_a - c_b * 1000000 // n_b)::BIGINT
               AS diff_ppm,
           CASE WHEN least(n_a, n_b) >= 1 THEN
               CAST(round(sqrt((1.1 * ln(ln(greatest(2 * least(n_a, n_b), 3)))
                                + ln(5.2 * {SEQ_ALPHA_INV}))
                               / (2 * least(n_a, n_b))) * 1000000, 0)
                    AS BIGINT)
           END AS bound_ppm,
           CASE WHEN least(n_a, n_b) >= 1 THEN
               CASE WHEN abs(c_a * 1000000 // n_a - c_b * 1000000 // n_b)
                        > CAST(round(sqrt((1.1
                                * ln(ln(greatest(2 * least(n_a, n_b), 3)))
                                + ln(5.2 * {SEQ_ALPHA_INV}))
                               / (2 * least(n_a, n_b))) * 1000000, 0)
                              AS BIGINT)
                    THEN 1 ELSE 0 END
           END AS significant
    FROM cum
    WHERE n_a > 0 AND n_b > 0
    ORDER BY day
    """,
)
def ab_test_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PEEKING-SAFE experiment monitoring: the cumulative daily A/B
    readout with a TIME-UNIFORM confidence boundary (a stitched
    sub-Gaussian bound, Howard-et-al-style ε_n =
    √((1.1·ln ln 2n + ln(5.2/α))/(2n)) at α = 1/{SEQ_ALPHA_INV}),
    so 'significant' may be read EVERY day without inflating the
    false-positive rate — the fixed-horizon z-test (ab_test_report)
    is only valid at its one pre-registered look, and daily peeking
    at it is the classic way experiments lie. The boundary shrinks
    like √(ln ln n / n); the day it first crosses is the earliest
    honest stopping day.

    Determinism: assignment is the md5-bucket coin; daily and
    cumulative counts are exact integers (windows over the BOUNDED
    day frame); rates land on the ppm grid via integer division;
    the one float — the boundary — is a single identical expression
    in both engines rounded to the ppm grid per row, and the
    significance flag compares two already-rounded integers.

    Scale: one shuffle to the (day, variant) frame; cumulative
    windows and the closing run on the bounded day series."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type"
    )
    tagged = ev.select(
        F.to_date("ts").alias("day"),
        F.expr(
            "CASE WHEN conv(substring(md5(cast(user_id as string)), 1, 8),"
            " 16, 10) % 2 = 0 THEN 0 ELSE 1 END"
        ).alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "conv"
        ),
    )
    dailyc = sequential_daily_counts(tagged)
    return sequential_from_daily(spark, dailyc)


def sequential_daily_counts(tagged: DataFrame) -> DataFrame:
    """(day, v, conv) tagged events → per-day variant exposure/
    conversion counts — the ONE reduction feeding the batch monitor
    and the streaming ledger's per-epoch partials (daily counts are
    additive, so the folded ledger and a batch scan see identical
    cumulatives)."""
    return tagged.groupBy("day").agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("d_na"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("d_nb"),
        F.sum(F.when(F.col("v") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("d_ca"),
        F.sum(F.when(F.col("v") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("d_cb"),
    )


def sequential_from_daily(
    spark: SparkSession, dailyc: DataFrame
) -> DataFrame:
    """(day, d_na, d_nb, d_ca, d_cb) daily counts → the anytime-valid
    monitor table — THE one boundary computation, shared by the batch
    query and the streaming experiment ledger's readout
    (streaming/sequential_stream.py), so the two cannot round the
    boundary differently."""
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    cum = dailyc.select(
        "day",
        F.sum("d_na").over(w).alias("n_a"),
        F.sum("d_nb").over(w).alias("n_b"),
        F.sum("d_ca").over(w).alias("c_a"),
        F.sum("d_cb").over(w).alias("c_b"),
    ).where((F.col("n_a") > 0) & (F.col("n_b") > 0))
    diff = F.expr("c_a * 1000000 div n_a - c_b * 1000000 div n_b")
    n_eff = F.least("n_a", "n_b")
    bound = F.when(
        n_eff >= 1,
        F.round(
            F.sqrt(
                (
                    F.lit(1.1)
                    * F.log(F.log(F.greatest(2 * n_eff, F.lit(3))))
                    + F.log(F.lit(5.2 * SEQ_ALPHA_INV))
                )
                / (2 * n_eff)
            )
            * 1000000,
            0,
        ).cast("bigint"),
    )
    return cum.select(
        "day",
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("c_a").cast("bigint").alias("conv_a"),
        F.col("c_b").cast("bigint").alias("conv_b"),
        diff.cast("bigint").alias("diff_ppm"),
        bound.alias("bound_ppm"),
        F.when(
            n_eff >= 1,
            F.when(F.abs(diff) > bound, 1).otherwise(0),
        ).alias("significant"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# revenue_bootstrap_ci — deterministic Poisson-bootstrap confidence
# interval for mean daily revenue (uncertainty as a first-class readout).
# --------------------------------------------------------------------------
BOOT_B = 40  # replicates; nearest-rank 2.5%/97.5% = ranks 1 and 39
# Poisson(1) CDF on the 1e6 integer grid (cumulative, k = 0..6; the
# ≥7 tail, p ≈ 8.3e-5, is lumped into weight 7 — documented
# truncation). Hardcoded identically on both engines: the draw is
# pure integer compares, no runtime float.
_POIS_CDF_PPM = (367879, 735759, 919699, 981012, 996340, 999406, 999917)


def _pois_case(u: str) -> str:
    arms = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF_PPM)
    )
    return f"CASE {arms} ELSE 7 END"


@query(
    "revenue_bootstrap_ci",
    oracle=f"""
    WITH daily AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    d AS (SELECT date_diff('day', DATE '1970-01-01', day)::BIGINT AS dd,
                 cents
          FROM daily),
    rep AS (
        SELECT bb.b, dd, cents,
               ('0x' || substr(md5(dd::VARCHAR || '|' || bb.b::VARCHAR),
                               1, 8))::BIGINT % 1000000 AS u
        FROM d CROSS JOIN (SELECT unnest(range(0, {BOOT_B})) AS b) bb),
    wts AS (SELECT b, cents, {_pois_case('u')} AS w FROM rep),
    g AS (SELECT b, sum(w)::HUGEINT AS sw,
                 sum(w::HUGEINT * cents) AS swc
          FROM wts GROUP BY b),
    means AS (SELECT b, (swc // sw)::BIGINT AS m FROM g WHERE sw > 0),
    rk AS (SELECT m, row_number() OVER (ORDER BY m, b) AS r,
                  count(*) OVER () AS nb
           FROM means),
    tot AS (SELECT count(*)::BIGINT AS n_days,
                   sum(cents)::HUGEINT AS sc FROM d)
    SELECT (SELECT n_days FROM tot) AS n_days,
           (SELECT (sc // n_days)::BIGINT FROM tot) AS mean_cents,
           max(nb)::BIGINT AS n_boot,
           max(CASE WHEN r = (nb * 25 + 999) // 1000 THEN m END)::BIGINT
               AS boot_lo_cents,
           max(CASE WHEN r = (nb * 975 + 999) // 1000 THEN m END)::BIGINT
               AS boot_hi_cents
    FROM rk
    HAVING count(*) > 0
    """,
)
def revenue_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for MEAN DAILY REVENUE — the
    uncertainty readout every point estimate in the revenue family
    (trend, EWMA, changepoint levels) should be quoted with: each of
    {BOOT_B} replicates reweights every DAY by a deterministic
    Poisson(1) draw (the streaming-friendly bootstrap — no resample
    indices, one weight per (unit, replicate)), the replicate means
    are ranked, and the nearest-rank 2.5%/97.5% means bound the CI.
    Days are the resampling unit (cluster bootstrap): daily revenues
    are the exchangeable units of this series, and resampling rows
    inside a day would understate day-level variance.

    Determinism: the draw is md5(epoch_day | replicate) reduced to a
    1e6 grid and cut by the HARDCODED Poisson CDF thresholds (no
    runtime float anywhere — both engines compare the same integers);
    replicate means are single trunc-divs of exact integer sums; the
    rank cut breaks ties on (mean, replicate). The ≥7 tail of
    Poisson(1) (p ≈ 8.3e-5) is lumped into weight 7.

    Scale: the bootstrap runs on the AGGREGATED day frame (one
    shuffle to days, shared shape with the CUSUM/ACF family), so the
    ×{BOOT_B} replicate explode amplifies a frame of |days| rows, not
    the fact table; the replicate aggregate is {BOOT_B} groups. At
    100 TB the day frame is still ~10⁵ rows — the explode stays
    negligible next to the orders scan (never Poisson-weight raw rows
    for a day-level statistic)."""
    orders = load_table(spark, sf_dir, "orders")
    return bootstrap_ci_from_daily(spark, daily_revenue_cents(orders))


def bootstrap_ci_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """(day, cents) series → the 1-row bootstrap-CI table — THE one
    CI computation, shared by the batch query and the streaming day
    ledger's readout (streaming/cusum_stream.bootstrap_readout): the
    same additive store that serves CUSUM/ACF/EWMA also quotes the
    uncertainty of its own mean, bit-matched to the batch answer."""
    d = daily.select(
        F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("dd"),
        "cents",
    )
    schema = (
        "n_days BIGINT, mean_cents BIGINT, n_boot BIGINT,"
        " boot_lo_cents BIGINT, boot_hi_cents BIGINT"
    )
    tot = d.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("sc"),
    ).first()
    if not tot.n_days:
        return spark.createDataFrame([], schema)
    n_days, sc = int(tot.n_days), int(tot.sc)
    rep = d.select(
        "dd",
        "cents",
        F.explode(F.expr(f"sequence(0, {BOOT_B - 1})")).alias("b"),
    ).select(
        "b",
        "cents",
        F.expr(
            "conv(substring(md5(concat(cast(dd as string), '|',"
            " cast(b as string))), 1, 8), 16, 10)"
        )
        .cast("bigint")
        .alias("uh"),
    )
    wts = rep.select(
        "b", "cents", F.expr(_pois_case("(uh % 1000000)")).alias("w")
    )
    g = wts.groupBy("b").agg(
        F.sum("w").cast("bigint").alias("sw"),
        F.sum(F.expr("cast(w as decimal(38,0)) * cents")).alias("swc"),
    )
    # ≤ BOOT_B rows: close the ranked cut exactly in Python ints (the
    # revenue_dow_anova precedent — unbounded ints, no engine div)
    means = sorted(
        (int(r.swc) // int(r.sw), int(r.b))
        for r in g.collect()
        if r.sw is not None and int(r.sw) > 0
    )
    if not means:
        return spark.createDataFrame([], schema)
    nb = len(means)
    lo = means[(nb * 25 + 999) // 1000 - 1][0]
    hi = means[(nb * 975 + 999) // 1000 - 1][0]
    row = (n_days, sc // n_days, nb, lo, hi)
    return spark.createDataFrame([row], schema)


# --------------------------------------------------------------------------
# user_entropy_rate — per-user next-event predictability (first-order
# Markov entropy rate over the user's own transition counts).
# --------------------------------------------------------------------------
ENTROPY_MIN_TRANS = 20  # users below this transition count are noise
ENTROPY_TOP = 50


@query(
    "user_entropy_rate",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type AS s,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t
        FROM events),
    c AS (SELECT user_id, s, t, count(*)::BIGINT AS c_st
          FROM seq WHERE t IS NOT NULL GROUP BY user_id, s, t),
    cs AS (SELECT user_id, s, sum(c_st)::BIGINT AS c_s
           FROM c GROUP BY user_id, s),
    tot AS (SELECT user_id, sum(c_st)::BIGINT AS t_n,
                   count(*)::BIGINT AS n_cells
            FROM c GROUP BY user_id),
    terms AS (
        SELECT c.user_id,
               CAST(round((c.c_st * 1.0 / tot.t_n)
                          * ln(cs.c_s * 1.0 / c.c_st)
                          * 1000000000, 0) AS BIGINT) AS h_nano
        FROM c
        JOIN cs ON cs.user_id = c.user_id AND cs.s = c.s
        JOIN tot ON tot.user_id = c.user_id)
    SELECT t.user_id, t.t_n AS n_transitions, t.n_cells,
           sum(terms.h_nano)::BIGINT AS entropy_nano
    FROM terms JOIN tot t ON t.user_id = terms.user_id
    WHERE t.t_n >= {ENTROPY_MIN_TRANS}
    GROUP BY t.user_id, t.t_n, t.n_cells
    ORDER BY entropy_nano, t.user_id
    LIMIT {ENTROPY_TOP}
    """,
)
def user_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The {ENTROPY_TOP} most PREDICTABLE users by first-order Markov
    entropy rate: H = Σ_(s,t) (c_st/T)·ln(c_s/c_st) over each user's
    own event-type transition counts — 0 nats means the next event is
    fully determined by the current one (bots, scripted crawlers,
    monitoring probes); humans browse noisily. The information-theoretic
    complement to user_bot_regularity's timing signal: regularity
    catches metronomic WHEN, this catches deterministic WHAT, and a
    training-data pipeline filtering synthetic traffic wants both.
    Users under {ENTROPY_MIN_TRANS} transitions are excluded (entropy
    estimates from a handful of bigrams are noise).

    Determinism: each (s,t) cell's term is computed with the identical
    double expression shape and rounded onto the NANO grid BEFORE the
    per-user sum (the PSI/Benford contract — order-independent integer
    totals); timestamp ties in the transition window break on event_id
    in both engines; the final ranking ties on user_id.

    Scale: one user_id window (the sessionization shuffle — bucket by
    user_id to make it exchange-free) reduces events to per-user
    bigram cells (≤ |types|² per user, bounded); everything after is
    keyed aggregates on that bounded frame; top-{ENTROPY_TOP} is
    TakeOrdered."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    ).where(F.col("t").isNotNull())
    c = seq.groupBy("user_id", "s", "t").agg(
        F.count("*").cast("bigint").alias("c_st")
    )

    c = pin("entropy_cells", c, fill=False)
    cs = c.groupBy("user_id", "s").agg(
        F.sum("c_st").cast("bigint").alias("c_s")
    )
    tot = c.groupBy("user_id").agg(
        F.sum("c_st").cast("bigint").alias("t_n"),
        F.count("*").cast("bigint").alias("n_cells"),
    )
    terms = (
        c.join(cs, ["user_id", "s"])
        .join(tot, "user_id")
        .select(
            "user_id",
            "t_n",
            "n_cells",
            F.round(
                (F.col("c_st") * F.lit(1.0) / F.col("t_n"))
                * F.log(F.col("c_s") * F.lit(1.0) / F.col("c_st"))
                * F.lit(1000000000),
                0,
            )
            .cast("bigint")
            .alias("h_nano"),
        )
    )
    return (
        terms.where(F.col("t_n") >= ENTROPY_MIN_TRANS)
        .groupBy("user_id", "t_n", "n_cells")
        .agg(F.sum("h_nano").cast("bigint").alias("entropy_nano"))
        .select(
            "user_id",
            F.col("t_n").alias("n_transitions"),
            "n_cells",
            "entropy_nano",
        )
        .orderBy("entropy_nano", "user_id")
        .limit(ENTROPY_TOP)
    )


# --------------------------------------------------------------------------
# ab_test_power_mde — minimum detectable effect at the standard
# alpha/power point (the sample-size half of the experimentation family).
# --------------------------------------------------------------------------
# z_{0.975} + z_{0.80} for a two-sided alpha = 0.05 test at 80% power,
# as ONE shared 6-dp literal so both engines multiply the same double.
AB_Z_SUM = 2.801585


def _ab_mde_sql(na: str, xa: str, nb: str, xb: str) -> str:
    """The ONE MDE expression (text-identical on both engines):
    (z_a + z_b) · sqrt(p̂(1−p̂)(1/nA+1/nB)) on the ppm grid, p̂ pooled.
    Double arithmetic with identical shape, rounded once (the
    ab_test_sequential contract: one float per row, rounded before
    any comparison)."""
    p = f"(({xa} + {xb}) * 1.0 / ({na} + {nb}))"
    return (
        f"CAST(round({AB_Z_SUM} * sqrt({p} * (1.0 - {p})"
        f" * (1.0 / {na} + 1.0 / {nb})) * 1000000, 0) AS BIGINT)"
    )


@query(
    "ab_test_power_mde",
    oracle=f"""
    WITH tagged AS (
        SELECT CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
                         % 2 = 0
                    THEN 'A' ELSE 'B' END AS variant,
               user_id,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY 1, 2),
    v AS (SELECT variant, count(*)::BIGINT AS n, sum(conv)::BIGINT AS x
          FROM tagged GROUP BY variant),
    w AS (SELECT
            max(CASE WHEN variant = 'A' THEN n END)::BIGINT AS na,
            max(CASE WHEN variant = 'A' THEN x END)::BIGINT AS xa,
            max(CASE WHEN variant = 'B' THEN n END)::BIGINT AS nb,
            max(CASE WHEN variant = 'B' THEN x END)::BIGINT AS xb
          FROM v),
    m AS (SELECT na, nb,
                 (xa * 1000000 // na)::BIGINT AS conv_a_ppm,
                 (xb * 1000000 // nb)::BIGINT AS conv_b_ppm,
                 ((xb * 1000000 // nb) - (xa * 1000000 // na))::BIGINT
                     AS lift_ppm,
                 {_ab_mde_sql('na', 'xa', 'nb', 'xb')} AS mde_ppm
          FROM w WHERE na IS NOT NULL AND nb IS NOT NULL
                   AND na > 0 AND nb > 0)
    SELECT na AS n_a, nb AS n_b, conv_a_ppm, conv_b_ppm, lift_ppm,
           mde_ppm,
           (CASE WHEN abs(lift_ppm) >= mde_ppm THEN 1 ELSE 0 END)::BIGINT
               AS powered
    FROM m
    """,
)
def ab_test_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POWER analysis for the experimentation family: with the current
    variant sizes and pooled conversion rate, the minimum detectable
    effect (ppm, two-sided α = 0.05 at 80% power — the industry
    default) next to the observed lift and a `powered` verdict
    (|lift| ≥ MDE). This is the number that separates 'no significant
    difference' from 'this experiment could never have seen the
    difference you care about' — the readout ab_test_report and
    ab_test_cuped implicitly assume someone checked, and the
    anytime-valid monitor's design-time counterpart (run this BEFORE
    launching; run ab_test_sequential while live).

    Determinism: user-level conversion and the pooled rate are exact
    integers; the single float expression (z·sqrt(p̂(1−p̂)(1/nA+1/nB)))
    is text-identical on both engines and rounded to the ppm grid
    before the one comparison (the ab_test_sequential contract); the
    hash-coin variant tag is the shared experiment assignment.

    Scale: one (variant, user) aggregate (the sessionization-class
    shuffle), one 2-row rollup, closing arithmetic on a 1-row frame."""
    ev = load_table(spark, sf_dir, "events")
    tagged = (
        ev.select(
            F.expr(
                "CASE WHEN conv(substring(md5(cast(user_id as string)),"
                " 1, 8), 16, 10) % 2 = 0 THEN 'A' ELSE 'B' END"
            ).alias("variant"),
            "user_id",
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("c"),
        )
        .groupBy("variant", "user_id")
        .agg(F.max("c").alias("conv"))
    )
    v = tagged.groupBy("variant").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("conv").cast("bigint").alias("x"),
    )
    w = v.agg(
        F.expr("max(CASE WHEN variant = 'A' THEN n END)").alias("na"),
        F.expr("max(CASE WHEN variant = 'A' THEN x END)").alias("xa"),
        F.expr("max(CASE WHEN variant = 'B' THEN n END)").alias("nb"),
        F.expr("max(CASE WHEN variant = 'B' THEN x END)").alias("xb"),
    )
    m = w.where(
        F.col("na").isNotNull()
        & F.col("nb").isNotNull()
        & (F.col("na") > 0)
        & (F.col("nb") > 0)
    ).select(
        "na",
        "nb",
        F.expr("cast(xa * 1000000 div na as bigint)").alias("conv_a_ppm"),
        F.expr("cast(xb * 1000000 div nb as bigint)").alias("conv_b_ppm"),
        F.expr(
            "cast((xb * 1000000 div nb) - (xa * 1000000 div na) as bigint)"
        ).alias("lift_ppm"),
        F.expr(_ab_mde_sql("na", "xa", "nb", "xb")).alias("mde_ppm"),
    )
    return m.select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "conv_a_ppm",
        "conv_b_ppm",
        "lift_ppm",
        "mde_ppm",
        F.expr(
            "cast(CASE WHEN abs(lift_ppm) >= mde_ppm THEN 1 ELSE 0 END"
            " as bigint)"
        ).alias("powered"),
    )


# --------------------------------------------------------------------------
# cohort_ltv_curve — cumulative revenue per cohort member by weeks since
# signup (the LTV companion to the retention matrix).
# --------------------------------------------------------------------------
LTV_MAX_WEEK = 4


@query(
    "cohort_ltv_curve",
    oracle=f"""
    WITH first_seen AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
        FROM events GROUP BY user_id),
    cohort_size AS (
        SELECT cohort_week, count(*)::BIGINT AS n_cohort
        FROM first_seen GROUP BY cohort_week),
    rev AS (
        SELECT f.cohort_week,
               date_diff('week', f.cohort_week, date_trunc('week', e.ts))
                   AS week_offset,
               sum(round(e.value * 100)::BIGINT)::BIGINT AS cents
        FROM events e JOIN first_seen f USING (user_id)
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2),
    grid AS (
        SELECT c.cohort_week, c.n_cohort, w.week_offset
        FROM cohort_size c
        CROSS JOIN (SELECT unnest(range(0, {LTV_MAX_WEEK + 1}))
                        AS week_offset) w),
    cells AS (
        SELECT g.cohort_week, g.n_cohort,
               g.week_offset::BIGINT AS week_offset,
               coalesce(r.cents, 0)::BIGINT AS cents
        FROM grid g
        LEFT JOIN rev r ON r.cohort_week = g.cohort_week
                       AND r.week_offset = g.week_offset)
    SELECT cohort_week::TIMESTAMP AS cohort_week, week_offset,
           n_cohort, cents AS revenue_cents,
           sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
                            ROWS UNBOUNDED PRECEDING)::BIGINT
               AS cum_revenue_cents,
           (sum(cents) OVER (PARTITION BY cohort_week ORDER BY week_offset
                             ROWS UNBOUNDED PRECEDING)
               // n_cohort)::BIGINT AS ltv_cents_per_user
    FROM cells
    ORDER BY cohort_week, week_offset
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LTV curve per signup cohort: cumulative purchase revenue per
    cohort member at 0..{LTV_MAX_WEEK} weeks since first activity —
    the MONETARY companion to user_retention_cohorts (retention says
    who comes back; this says what that is worth, the payback-period
    number acquisition spend is judged against). The week grid is
    DENSE (zero-revenue weeks appear explicitly), so curves are
    comparable across cohorts of different ages.

    Determinism: the cohort/offset conventions are exactly the
    retention matrix's (date_trunc week, truncated-week diff);
    revenue is per-row integer cents; the cumulative sum and per-user
    division are integer arithmetic on the bounded cohort×week frame.

    Scale: first-seen is one user_id aggregate; the revenue rollup
    reuses the same user_id join key and collapses to cohorts×offsets
    rows BEFORE the window, so the running sum and the grid join act
    on a bounded frame (the retention matrix's two-shuffle shape plus
    one broadcast grid join)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.date_trunc("week", F.col("ts")).alias("week"),
    )
    first_seen = ev.groupBy("user_id").agg(
        F.min("week").alias("cohort_week")
    )
    cohort_size = first_seen.groupBy("cohort_week").agg(
        F.count("*").cast("bigint").alias("n_cohort")
    )
    rev = (
        ev.where(F.col("event_type") == "purchase")
        .join(first_seen, "user_id")
        .select(
            "cohort_week",
            (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    grid = cohort_size.select(
        "cohort_week",
        "n_cohort",
        F.explode(F.expr(f"sequence(0, {LTV_MAX_WEEK})")).alias("wo"),
    ).select(
        "cohort_week",
        "n_cohort",
        F.col("wo").cast("bigint").alias("week_offset"),
    )
    cells = grid.join(rev, ["cohort_week", "week_offset"], "left").select(
        "cohort_week",
        "week_offset",
        "n_cohort",
        F.coalesce(F.col("cents"), F.lit(0)).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        cells.withColumn(
            "cum_revenue_cents", F.sum("cents").over(w).cast("bigint")
        )
        .select(
            "cohort_week",
            "week_offset",
            "n_cohort",
            F.col("cents").alias("revenue_cents"),
            "cum_revenue_cents",
            F.expr("cum_revenue_cents div n_cohort")
            .cast("bigint")
            .alias("ltv_cents_per_user"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# --------------------------------------------------------------------------
# price_quantity_elasticity — log-log OLS of quantity on unit price per
# brand (the econometrics readout of the relational core).
# --------------------------------------------------------------------------
@query(
    "price_quantity_elasticity",
    oracle="""
    WITH j AS (
        SELECT p.p_brand AS brand,
               CAST(round(ln(round(p.p_retailprice * 100)::BIGINT)
                    * 1000000000, 0) AS BIGINT) AS x,
               CAST(round(ln(round(l.l_quantity)::BIGINT)
                    * 1000000000, 0) AS BIGINT) AS y
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE l.l_quantity >= 1 AND p.p_retailprice > 0),
    s AS (
        SELECT brand, count(*)::BIGINT AS n,
               sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
               sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy,
               sum(y::HUGEINT * y) AS syy
        FROM j GROUP BY brand)
    SELECT brand, n,
           round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                 / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE),
                 6) AS elasticity,
           CASE WHEN (n::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
                         > 0
                THEN round((n::DOUBLE * sxy::DOUBLE
                            - sx::DOUBLE * sy::DOUBLE)
                           * (n::DOUBLE * sxy::DOUBLE
                              - sx::DOUBLE * sy::DOUBLE)
                           / ((n::DOUBLE * sxx::DOUBLE
                               - sx::DOUBLE * sx::DOUBLE)
                              * (n::DOUBLE * syy::DOUBLE
                                 - sy::DOUBLE * sy::DOUBLE)), 6)
           END AS r2
    FROM s
    WHERE n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE > 0
    ORDER BY brand
    """,
)
def price_quantity_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRICE ELASTICITY per brand: the log-log OLS slope of line-item
    quantity on the part's unit retail price (d ln q / d ln p — the
    econometrics constant pricing teams quote; on synthetic data it
    measures near-zero, which is itself the readout: quantities here
    don't respond to price, so any 'pricing insight' downstream would
    be fiction). r² says how much of the quantity variance the price
    explains. The OLS-on-logs member of the trend family next to
    segment_revenue_trend's linear form.

    Determinism: each row's ln(price_cents) and ln(quantity) land on
    the NANO integer grid BEFORE the sums (the corpus_zipf_fit
    contract), so the five moments are exact order-independent
    integers (HUGEINT/DECIMAL38 — Σx² reaches ~10²⁶ at sf0.1); the
    closing slope/r² run the identical double expression shape on
    both engines and round to 6 dp (the lineitem_corr_matrix
    pattern).

    Scale: one fact-dimension equi-join (part is SF-linear — unhinted,
    AQE broadcasts while it fits), one map-combinable 5-moment
    aggregate per brand, closing arithmetic on a |brands|-row
    frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity"
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_retailprice"
    )
    j = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .where((F.col("l_quantity") >= 1) & (F.col("p_retailprice") > 0))
        .select(
            F.col("p_brand").alias("brand"),
            F.expr(
                "cast(round(ln(cast(round(p_retailprice * 100) as bigint))"
                " * 1000000000, 0) as bigint)"
            ).alias("x"),
            F.expr(
                "cast(round(ln(cast(round(l_quantity) as bigint))"
                " * 1000000000, 0) as bigint)"
            ).alias("y"),
        )
    )
    s = j.groupBy("brand").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("y").cast("decimal(38,0)")).alias("sy"),
        F.sum(F.expr("cast(x as decimal(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("cast(x as decimal(38,0)) * y")).alias("sxy"),
        F.sum(F.expr("cast(y as decimal(38,0)) * y")).alias("syy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxx = F.col("sxx").cast("double")
    sxy = F.col("sxy").cast("double")
    syy = F.col("syy").cast("double")
    num = n * sxy - sx * sy
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    return (
        s.where(vx > 0)
        .select(
            "brand",
            "n",
            F.round(num / vx, 6).alias("elasticity"),
            F.when(vy > 0, F.round(num * num / (vx * vy), 6)).alias("r2"),
        )
        .orderBy("brand")
    )


# --------------------------------------------------------------------------
# events_dau_wau_mau — rolling active-user counts and stickiness (the
# product-metrics staple the cumulative curve can't answer).
# --------------------------------------------------------------------------
WAU_DAYS = 7
MAU_DAYS = 28


@query(
    "events_dau_wau_mau",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               date_diff('day', DATE '1970-01-01', ts::DATE)::BIGINT AS d
        FROM events),
    days AS (SELECT DISTINCT d FROM ud),
    wau_x AS (
        SELECT DISTINCT ud.user_id, ud.d + u.i AS d
        FROM ud CROSS JOIN unnest(range(0, {WAU_DAYS})) AS u(i)),
    mau_x AS (
        SELECT DISTINCT ud.user_id, ud.d + u.i AS d
        FROM ud CROSS JOIN unnest(range(0, {MAU_DAYS})) AS u(i)),
    dau AS (SELECT d, count(*)::BIGINT AS dau FROM ud GROUP BY d),
    wau AS (SELECT d, count(*)::BIGINT AS wau FROM wau_x GROUP BY d),
    mau AS (SELECT d, count(*)::BIGINT AS mau FROM mau_x GROUP BY d)
    SELECT (DATE '1970-01-01' + INTERVAL (days.d) DAY)::DATE AS day,
           dau.dau, wau.wau, mau.mau,
           (dau.dau * 1000000 // mau.mau)::BIGINT AS stickiness_ppm
    FROM days
    JOIN dau ON dau.d = days.d
    JOIN wau ON wau.d = days.d
    JOIN mau ON mau.d = days.d
    ORDER BY day
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU({WAU_DAYS}d) / MAU({MAU_DAYS}d) per active day, plus
    stickiness (DAU/MAU, ppm) — the engagement dashboard row
    events_cumulative_users' ever-seen curve cannot answer (rolling
    distinct actives need windowed membership, not first-seen). Days
    with no activity are omitted (the readout is per ACTIVE day;
    trailing windows still see activity from prior days because
    membership explodes forward).

    Determinism — the scatter rewrite for windowed distinct: instead
    of 'for each day, count distinct users in the trailing K days'
    (a range join), each (user, day) membership SCATTERS forward to
    the K day-buckets it keeps the user active in (map-side explode),
    and a distinct + count per bucket closes it — exact integers,
    no approximation, no ordering sensitivity.

    Scale: the base frame is the DEDUPED (user, day) grid (one
    shuffle from the fact); the ×{WAU_DAYS}/×{MAU_DAYS} explodes
    amplify THAT frame, not events; distinct+count per day is one
    more shuffle each. At 100 TB this is the standard exact form —
    the sketch form (per-day HLL registers merged over the trailing
    window, events_kmv_weekly_rollup's pattern) replaces it when the
    user-day grid itself is too big, trading exactness for a merge."""
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id",
            F.datediff(
                F.to_date("ts"), F.lit("1970-01-01").cast("date")
            )
            .cast("bigint")
            .alias("d"),
        )
        .distinct()
    )

    return dau_wau_mau_from_user_days(spark, pin("dau_user_days", ud, fill=False))


def dau_wau_mau_from_user_days(spark: SparkSession, ud: DataFrame) -> DataFrame:
    """(user_id, d) membership grid → the DAU/WAU/MAU table — THE one
    closing computation, shared by the batch query and the streaming
    membership ledger (streaming/active_stream.py): a folded
    idempotent (user, day) store and a batch scan serve the identical
    dashboard."""
    days = ud.select("d").distinct()
    dau = ud.groupBy("d").agg(F.count("*").cast("bigint").alias("dau"))

    def rolling(k: int, name: str) -> DataFrame:
        return (
            ud.select(
                "user_id",
                F.explode(F.expr(f"sequence(d, d + {k - 1})")).alias("d"),
            )
            .distinct()
            .groupBy("d")
            .agg(F.count("*").cast("bigint").alias(name))
        )

    wau = rolling(WAU_DAYS, "wau")
    mau = rolling(MAU_DAYS, "mau")
    return (
        days.join(dau, "d")
        .join(wau, "d")
        .join(mau, "d")
        .select(
            F.expr("date_add(date '1970-01-01', cast(d as int))").alias(
                "day"
            ),
            "dau",
            "wau",
            "mau",
            F.expr("cast(dau * 1000000 div mau as bigint)").alias(
                "stickiness_ppm"
            ),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# event_dwell_quantiles — per-type engagement time: exact p50/p90/p99 of
# the dwell (gap to the user's next event) grouped by the CURRENT event.
# --------------------------------------------------------------------------
@query(
    "event_dwell_quantiles",
    oracle="""
    WITH seq AS (
        SELECT event_type, event_id,
               floor(epoch(ts))::BIGINT AS es,
               lead(floor(epoch(ts))::BIGINT)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS next_es
        FROM events),
    dw AS (
        SELECT event_type, event_id,
               (next_es - es)::BIGINT AS dwell_s
        FROM seq WHERE next_es IS NOT NULL),
    ranked AS (
        SELECT event_type, dwell_s,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY dwell_s, event_id) AS rn,
               count(*) OVER (PARTITION BY event_type)::BIGINT AS n
        FROM dw)
    SELECT event_type,
           max(n)::BIGINT AS n_dwells,
           max(CASE WHEN rn = (n + 1) // 2 THEN dwell_s END)::BIGINT
               AS p50_s,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN dwell_s END)::BIGINT
               AS p90_s,
           max(CASE WHEN rn = (99 * n + 99) // 100 THEN dwell_s END)::BIGINT
               AS p99_s,
           max(dwell_s)::BIGINT AS max_s
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def event_dwell_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type DWELL-TIME percentiles: how long users linger on each
    event type before their next action (exact nearest-rank
    p50/p90/p99 of the gap to the user's next event, in seconds) —
    the engagement readout product analytics quotes ('median time on
    search results'), and the input a sessionization review reads
    NEXT TO session_gap_sensitivity (a p99 dwell near the session gap
    means the gap is truncating real engagement).
    conversion_lag_quantiles measures one specific transition; this
    profiles every type's outgoing gap.

    Determinism: dwell is integer epoch-seconds from one user-keyed
    lead window; quantiles are nearest-rank with a (dwell, event_id)
    tie-break — exact order statistics, no interpolation.

    Scale: the lead runs keyed by user_id (the natural partition);
    the per-type rank window is bounded by |types| partitions — the
    event_value_quantiles_by_type posture: fine while the group count
    is small, with the keyed bottom-k Arrow kernel as the documented
    high-cardinality path."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dw = (
        ev.select(
            "event_type",
            "event_id",
            F.expr("cast(floor(unix_timestamp(ts)) as bigint)").alias("es"),
            F.lead(
                F.expr("cast(floor(unix_timestamp(ts)) as bigint)")
            )
            .over(wu)
            .alias("next_es"),
        )
        .where(F.col("next_es").isNotNull())
        .select(
            "event_type",
            "event_id",
            (F.col("next_es") - F.col("es")).cast("bigint").alias("dwell_s"),
        )
    )
    wt = Window.partitionBy("event_type").orderBy("dwell_s", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = dw.select(
        "event_type",
        "dwell_s",
        F.row_number().over(wt).alias("rn"),
        F.count("*").over(wn).cast("bigint").alias("n"),
    )
    pick = lambda expr: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(expr), F.col("dwell_s"))
    ).cast("bigint")
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").cast("bigint").alias("n_dwells"),
            pick("(n + 1) div 2").alias("p50_s"),
            pick("(9 * n + 9) div 10").alias("p90_s"),
            pick("(99 * n + 99) div 100").alias("p99_s"),
            F.max("dwell_s").cast("bigint").alias("max_s"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# revenue_cusum_hierarchy — binary-segmentation changepoints: the global
# CUSUM argmax, then one more level inside each resulting segment.
# --------------------------------------------------------------------------
def _bs_oracle() -> str:
    segs = [
        ("all", "0", "TRUE"),
        ("left", "1", "day <= (SELECT d FROM pick_all)"),
        ("right", "1", "day > (SELECT d FROM pick_all)"),
    ]
    blocks, rows = [], []
    for s, level, pred in segs:
        blocks.append(f"""
    seq_{s} AS (
        SELECT day, cents, row_number() OVER (ORDER BY day) AS t,
               sum(cents) OVER (ORDER BY day
                   ROWS UNBOUNDED PRECEDING)::BIGINT AS prefix,
               count(*) OVER ()::BIGINT AS n,
               sum(cents) OVER ()::BIGINT AS total
        FROM daily WHERE {pred}),
    cus_{s} AS (
        SELECT day, cents, (n * prefix - t * total)::BIGINT AS c
        FROM seq_{s}),
    pick_{s} AS (
        SELECT min(day) AS d FROM cus_{s}
        WHERE abs(c) = (SELECT max(abs(c)) FROM cus_{s})),
    row_{s} AS (
        SELECT {level} AS level, '{s}' AS segment,
               strftime((SELECT d FROM pick_{s}), '%Y-%m-%d') AS day,
               (SELECT count(*) FROM seq_{s})::BIGINT AS n_seg,
               (SELECT c FROM cus_{s}
                WHERE day = (SELECT d FROM pick_{s}))::BIGINT
                   AS cusum_scaled,
               (SELECT sum(cents) // count(*) FROM seq_{s}
                WHERE day <= (SELECT d FROM pick_{s}))::BIGINT
                   AS mean_before_cents,
               (SELECT sum(cents) // count(*) FROM seq_{s}
                WHERE day > (SELECT d FROM pick_{s}))::BIGINT
                   AS mean_after_cents
        WHERE (SELECT count(*) FROM seq_{s}) >= 2
          AND (SELECT d FROM pick_{s}) < (SELECT max(day) FROM seq_{s}))""")
        rows.append(f"SELECT * FROM row_{s}")
    return f"""
    WITH daily AS (
        SELECT o_orderdate::DATE AS day,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY 1),
    {",".join(blocks)}
    SELECT level::INT AS level, segment, day, n_seg, cusum_scaled,
           mean_before_cents, mean_after_cents,
           (mean_after_cents - mean_before_cents)::BIGINT AS shift_cents
    FROM ({" UNION ALL ".join(rows)})
    ORDER BY level, segment
    """


@query("revenue_cusum_hierarchy", oracle=_bs_oracle())
def revenue_cusum_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BINARY SEGMENTATION over the daily revenue series — the
    multi-changepoint upgrade of revenue_cusum_changepoint: the global
    CUSUM argmax splits the series, then the SAME statistic runs
    inside each half (segment-local n and total), yielding up to three
    level-ordered changepoints with their before/after mean shift in
    cents. One changepoint answers 'did the level move'; the hierarchy
    answers 'how is the whole history segmented' — the first two
    levels of the standard recursive procedure, unrolled so both
    engines walk identical arithmetic.

    Determinism: the scaled statistic C_t = n·prefix_t − t·total is
    exact integer; the argmax day is the EARLIEST day achieving
    max|C| (a min over the argmax set); segment guards (≥2 days,
    changepoint strictly inside) are integer comparisons; the means
    are floored divisions on positive operands.

    Scale: one shuffle to the day series; the segmentation closes
    over the collected BOUNDED calendar frame in exact Python ints
    (the seasonal_anomalies posture — three windowed passes over a
    2 400-row frame buy nothing from distribution)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = daily_revenue_cents(orders)
    schema = (
        "level INT, segment STRING, day STRING, n_seg BIGINT,"
        " cusum_scaled BIGINT, mean_before_cents BIGINT,"
        " mean_after_cents BIGINT, shift_cents BIGINT"
    )
    series = sorted(
        (r.day.isoformat(), int(r.cents)) for r in daily.collect()
    )
    if not series:
        return spark.createDataFrame([], schema)

    def pick(rows):
        """rows (day, cents) sorted → (argmax_day, c_at_argmax) or the
        argmax even when the row guards later reject it."""
        n = len(rows)
        total = sum(c for _, c in rows)
        best = None
        prefix = 0
        for t, (d, c) in enumerate(rows, start=1):
            prefix += c
            cv = n * prefix - t * total
            key = (-abs(cv), d)
            if best is None or key < best[0]:
                best = (key, d, cv)
        return best[1], best[2]

    def row_of(rows, level, seg):
        if len(rows) < 2:
            return None
        d, cv = pick(rows)
        if d >= rows[-1][0]:
            return None
        before = [c for dd, c in rows if dd <= d]
        after = [c for dd, c in rows if dd > d]
        mb = sum(before) // len(before)
        ma = sum(after) // len(after)
        return (level, seg, d, len(rows), cv, mb, ma, ma - mb)

    d0, _ = pick(series)
    out = [
        r
        for r in (
            row_of(series, 0, "all"),
            row_of([x for x in series if x[0] <= d0], 1, "left"),
            row_of([x for x in series if x[0] > d0], 1, "right"),
        )
        if r is not None
    ]
    return spark.createDataFrame(out, schema).orderBy("level", "segment")


# --------------------------------------------------------------------------
# event_type_audience_overlap — pairwise audience Jaccard between event
# types (the 'same users or different users?' product question).
# --------------------------------------------------------------------------
@query(
    "event_type_audience_overlap",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events),
    sz AS (
        SELECT event_type, count(*)::BIGINT AS n_users
        FROM ut GROUP BY 1),
    inter AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               count(*)::BIGINT AS n_both
        FROM ut a JOIN ut b ON b.user_id = a.user_id
                           AND b.event_type > a.event_type
        GROUP BY 1, 2)
    SELECT i.type_a, i.type_b,
           sa.n_users AS n_users_a,
           sb.n_users AS n_users_b,
           i.n_both,
           (i.n_both * 1000000
               // (sa.n_users + sb.n_users - i.n_both))::BIGINT
               AS jaccard_ppm,
           (i.n_both * 1000000
               // least(sa.n_users, sb.n_users))::BIGINT
               AS containment_ppm
    FROM inter i
    JOIN sz sa ON sa.event_type = i.type_a
    JOIN sz sb ON sb.event_type = i.type_b
    ORDER BY type_a, type_b
    """,
)
def event_type_audience_overlap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AUDIENCE OVERLAP matrix: for every pair of event types, the
    Jaccard and smaller-side containment of their USER sets — do
    'search' and 'purchase' reach the same people or different ones?
    The segmentation question behind funnel design and feature
    bundling, answered exactly (source_overlap_kmv answers the same
    shape for vocabulary via sketches; audiences here are small enough
    per type that the exact form IS the scale path).

    Scale: ONE distinct reduces the fact table to the (user, type)
    membership grid — map-combinable, ≤ |users|·|types| rows; the
    pair intersection is a self equi-join ON user_id (each user
    contributes ≤ |types|² pair rows, types is schema-bounded), and
    the output is the |types|² matrix. Never an all-pairs user join.

    Determinism: counts and trunc-div ppm only."""
    ev = load_table(spark, sf_dir, "events")

    ut = pin(
        "audience_ut",
        ev.select("user_id", "event_type").distinct(),
        fill=False,
    )
    sz = ut.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_users")
    )
    a, b = ut.alias("a"), ut.alias("b")
    inter = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.event_type") > F.col("a.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = F.broadcast(
        sz.select(F.col("event_type").alias("type_a"),
                  F.col("n_users").alias("n_users_a"))
    )
    sb = F.broadcast(
        sz.select(F.col("event_type").alias("type_b"),
                  F.col("n_users").alias("n_users_b"))
    )
    return (
        inter.join(sa, "type_a")
        .join(sb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_users_a",
            "n_users_b",
            "n_both",
            F.expr(
                "cast(n_both * 1000000"
                " div (n_users_a + n_users_b - n_both) as bigint)"
            ).alias("jaccard_ppm"),
            F.expr(
                "cast(n_both * 1000000"
                " div least(n_users_a, n_users_b) as bigint)"
            ).alias("containment_ppm"),
        )
        .orderBy("type_a", "type_b")
    )


# --------------------------------------------------------------------------
# revenue_twoway_anova — two-factor variance decomposition of order
# revenue: weekday x customer segment, with interaction and residual.
# --------------------------------------------------------------------------
@query(
    "revenue_twoway_anova",
    oracle="""
    WITH cells AS (
        SELECT ((date_diff('day', DATE '1970-01-01', o.o_orderdate::DATE)
                 % 7) + 7) % 7 AS dow,
               c.c_mktsegment AS seg,
               count(*)::HUGEINT AS n_g,
               sum(round(o.o_totalprice * 100)::BIGINT)::HUGEINT AS s_g,
               sum(round(o.o_totalprice * 100)::BIGINT::HUGEINT
                   * round(o.o_totalprice * 100)::BIGINT) AS s2_g
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    md AS (SELECT dow, sum(n_g) AS n, sum(s_g) AS s FROM cells GROUP BY 1),
    ms AS (SELECT seg, sum(n_g) AS n, sum(s_g) AS s FROM cells GROUP BY 1),
    tot AS (
        SELECT sum(n_g) AS n, sum(s_g) AS s, sum(s2_g) AS s2t,
               (SELECT sum(s * s * 1000000 // n) FROM md) AS a_dow,
               (SELECT sum(s * s * 1000000 // n) FROM ms) AS a_seg,
               (SELECT sum(s_g * s_g * 1000000 // n_g) FROM cells)
                   AS a_cells,
               (SELECT count(*) FROM md) AS gd,
               (SELECT count(*) FROM ms) AS gs,
               (SELECT count(*) FROM cells) AS gc
        FROM cells),
    sst AS (SELECT n, (n * s2t - s * s) * 1000000 AS d,
                   (a_dow * n - s * s * 1000000) AS x_dow,
                   (a_seg * n - s * s * 1000000) AS x_seg,
                   (a_cells * n - s * s * 1000000) AS x_cells,
                   gd, gs, gc
            FROM tot)
    SELECT source, df, eta2_ppm FROM (
        SELECT 'dow' AS source, (gd - 1)::BIGINT AS df,
               (greatest(x_dow, 0) * 1000000 // d)::BIGINT AS eta2_ppm
        FROM sst WHERE d > 0
        UNION ALL
        SELECT 'segment', (gs - 1)::BIGINT,
               (greatest(x_seg, 0) * 1000000 // d)::BIGINT
        FROM sst WHERE d > 0
        UNION ALL
        SELECT 'interaction', ((gd - 1) * (gs - 1))::BIGINT,
               (greatest(x_cells - x_dow - x_seg, 0) * 1000000 // d)::BIGINT
        FROM sst WHERE d > 0
        UNION ALL
        SELECT 'residual', (n - gc)::BIGINT,
               (greatest(d - x_cells, 0) * 1000000 // d)::BIGINT
        FROM sst WHERE d > 0)
    ORDER BY source
    """,
)
def revenue_twoway_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-WAY variance decomposition of per-order revenue by weekday
    AND customer segment: η² shares for each main effect, their
    interaction (cell SS minus both margins — the unbalanced-design
    cell-means form, clamped at 0 where margin overlap makes it
    negative), and the within-cell residual. revenue_dow_anova asks
    'does the weekday matter'; this asks 'does it matter DIFFERENTLY
    per segment' — the interaction row is what justifies (or kills)
    per-segment forecast models.

    Determinism: the dow_anova n-scaling applied per GROUPING — every
    margin term is (S_g²·10⁶) div n_g on positive integers, summed
    exactly; all four η² rows divide the same scaled SS_total. Weekday
    is epoch-day arithmetic; cents are exact integers end-to-end.

    Scale: ONE dim join labels orders (customer is SF-linear — no
    forced hint, AQE picks broadcast while the 2-column projection
    fits), ONE map-combinable (dow × segment) cell aggregate (≤35
    rows); margins, totals and the four-row close derive from the
    cell frame in exact Python ints (the oracle folds the same cells
    in HUGEINT)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("seg")
    )
    cells = (
        orders.join(
            cust, orders.o_custkey == cust.c_custkey
        )
        .select(
            F.expr(
                "((datediff(to_date(o_orderdate), date '1970-01-01')"
                " % 7) + 7) % 7"
            ).alias("dow"),
            "seg",
            F.round(F.col("o_totalprice") * 100)
            .cast("bigint")
            .alias("cents"),
        )
        .groupBy("dow", "seg")
        .agg(
            F.count("*").cast("bigint").alias("n_g"),
            F.sum("cents").cast("decimal(38,0)").alias("s_g"),
            F.sum(F.expr("cast(cents as decimal(38,0)) * cents")).alias(
                "s2_g"
            ),
        )
    )
    schema = "source STRING, df BIGINT, eta2_ppm BIGINT"
    rows = [
        (int(r.dow), r.seg, int(r.n_g), int(r.s_g), int(r.s2_g))
        for r in cells.collect()
    ]
    if not rows:
        return spark.createDataFrame([], schema)
    n = sum(r[2] for r in rows)
    s = sum(r[3] for r in rows)
    s2t = sum(r[4] for r in rows)
    d = (n * s2t - s * s) * 1000000
    if d <= 0:
        return spark.createDataFrame([], schema)

    def margin_a(key):
        m: dict = {}
        for r in rows:
            k = key(r)
            ng, sg = m.get(k, (0, 0))
            m[k] = (ng + r[2], sg + r[3])
        return (
            sum(sg * sg * 1000000 // ng for ng, sg in m.values()),
            len(m),
        )

    a_dow, gd = margin_a(lambda r: r[0])
    a_seg, gs = margin_a(lambda r: r[1])
    a_cells = sum(r[3] * r[3] * 1000000 // r[2] for r in rows)
    gc = len(rows)
    x_dow = a_dow * n - s * s * 1000000
    x_seg = a_seg * n - s * s * 1000000
    x_cells = a_cells * n - s * s * 1000000
    out = [
        ("dow", gd - 1, max(x_dow, 0) * 1000000 // d),
        ("interaction", (gd - 1) * (gs - 1),
         max(x_cells - x_dow - x_seg, 0) * 1000000 // d),
        ("residual", n - gc, max(d - x_cells, 0) * 1000000 // d),
        ("segment", gs - 1, max(x_seg, 0) * 1000000 // d),
    ]
    return spark.createDataFrame(out, schema).orderBy("source")

# --------------------------------------------------------------------------
# ltv_forecast_backtest — early-signal LTV prediction, GRADED at user
# grain: predict each user's week-4 revenue from weeks 0-1 with the
# ratio fitted on held-out train users.
# --------------------------------------------------------------------------
LTV_BT_WEEKS_EARLY = 1   # 'early signal' = cumulative weeks 0..1
LTV_BT_WEEKS_FULL = 4    # predicted horizon = cumulative weeks 0..4


@query(
    "ltv_forecast_backtest",
    oracle=f"""
    WITH first_seen AS (
        SELECT user_id, min(date_trunc('week', ts)) AS cw
        FROM events GROUP BY user_id),
    u AS (
        SELECT f.user_id,
               ('0x' || substr(md5(f.user_id::VARCHAR), 1, 8))::BIGINT % 10
                   < {NEP_TRAIN_BUCKETS} AS is_train,
               coalesce(sum(CASE WHEN date_diff('week', f.cw,
                        date_trunc('week', e.ts)) <= {LTV_BT_WEEKS_EARLY}
                        THEN round(e.value * 100)::BIGINT END), 0)::BIGINT
                   AS s1,
               coalesce(sum(CASE WHEN date_diff('week', f.cw,
                        date_trunc('week', e.ts)) <= {LTV_BT_WEEKS_FULL}
                        THEN round(e.value * 100)::BIGINT END), 0)::BIGINT
                   AS s4
        FROM first_seen f
        LEFT JOIN events e ON e.user_id = f.user_id
                          AND e.event_type = 'purchase'
        WHERE date_diff('week', f.cw,
                  (SELECT max(date_trunc('week', ts)) FROM events))
              >= {LTV_BT_WEEKS_FULL}
        GROUP BY 1, 2),
    tr AS (
        SELECT sum(s4)::BIGINT AS num, sum(s1)::BIGINT AS den
        FROM u WHERE is_train),
    te AS (
        SELECT floor(log2(greatest(s1, 1)))::BIGINT AS bin,
               s1, s4,
               (s1 * (SELECT num FROM tr)
                   // (SELECT den FROM tr))::BIGINT AS pred
        FROM u WHERE NOT is_train AND (SELECT den FROM tr) > 0)
    SELECT bin,
           count(*)::BIGINT AS n_users,
           sum(s1)::BIGINT AS ltv1_cents,
           sum(s4)::BIGINT AS actual_ltv4_cents,
           sum(pred)::BIGINT AS predicted_ltv4_cents,
           (abs(sum(pred) - sum(s4)) * 1000000 // sum(s4))::BIGINT
               AS abs_err_ppm,
           ((SELECT num FROM tr) * 1000000
               // (SELECT den FROM tr))::BIGINT AS train_ratio_ppm
    FROM te
    GROUP BY bin
    HAVING sum(s4) > 0
    ORDER BY bin
    """,
)
def ltv_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EARLY-SIGNAL LTV prediction, graded: predict each user's
    cumulative week-{LTV_BT_WEEKS_FULL} purchase revenue from their
    weeks 0-{LTV_BT_WEEKS_EARLY}, using the Σltv4/Σltv1 ratio fitted
    on TRAIN users only (the hitrate family's md5 coin — test users
    never touch the ratio), and report accuracy per power-of-two
    early-revenue bucket: where on the spend curve the naive ratio
    model holds and where it breaks. cohort_ltv_curve draws the
    curve; this is the forecasting product run at user grain (this
    corpus has a single signup cohort, so user grain is also the only
    non-degenerate grain — measured, which is why this query exists
    in this form).

    Determinism: integer cents on the shared week conventions;
    per-user predictions are one trunc-div each; buckets are
    floor(log2) (the PSI binning precedent); bucket errors are
    trunc-div ppm on exact sums.

    Scale: one user-keyed aggregate builds (user, s1, s4); the ratio
    is a 2-scalar reduce over train users; grading is one
    map-combinable bucket aggregate over test users."""
    from open_pulsar_spark.operators.curation import _hash_raw_spark

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "value",
        F.date_trunc("week", F.col("ts")).alias("week"),
    )
    first_seen = ev.groupBy("user_id").agg(F.min("week").alias("cw"))
    mw = ev.agg(F.max("week").alias("m")).first()
    schema = (
        "bin BIGINT, n_users BIGINT, ltv1_cents BIGINT,"
        " actual_ltv4_cents BIGINT, predicted_ltv4_cents BIGINT,"
        " abs_err_ppm BIGINT, train_ratio_ppm BIGINT"
    )
    if mw.m is None:
        return spark.createDataFrame([], schema)
    purch = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "week",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    off = (F.datediff(F.col("week"), F.col("cw")) / 7).cast("bigint")
    u = (
        first_seen.where(
            F.expr(
                f"datediff(timestamp'{mw.m}', cw) div 7"
                f" >= {LTV_BT_WEEKS_FULL}"
            )
        )
        .join(purch, "user_id", "left")
        .groupBy(
            "user_id",
            (_hash_raw_spark(F.col("user_id")) % 10 < NEP_TRAIN_BUCKETS)
            .alias("is_train"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(off <= LTV_BT_WEEKS_EARLY, F.col("cents"))
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("s1"),
            F.coalesce(
                F.sum(F.when(off <= LTV_BT_WEEKS_FULL, F.col("cents"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("s4"),
        )
    )

    u = pin("ltv_bt_u", u, fill=False)
    tr = u.where("is_train").agg(
        F.sum("s4").cast("bigint").alias("num"),
        F.sum("s1").cast("bigint").alias("den"),
    ).first()
    if tr.den is None or int(tr.den) <= 0:
        return spark.createDataFrame([], schema)
    num, den = int(tr.num), int(tr.den)
    return (
        u.where(~F.col("is_train"))
        .select(
            F.expr("cast(floor(log2(greatest(s1, 1))) as bigint)").alias(
                "bin"
            ),
            "s1",
            "s4",
            F.expr(f"cast(s1 * {num} div {den} as bigint)").alias("pred"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("s1").cast("bigint").alias("ltv1_cents"),
            F.sum("s4").cast("bigint").alias("actual_ltv4_cents"),
            F.sum("pred").cast("bigint").alias("predicted_ltv4_cents"),
            F.expr(
                "cast(abs(sum(pred) - sum(s4)) * 1000000"
                " div sum(s4) as bigint)"
            ).alias("abs_err_ppm"),
            F.lit(num * 1000000 // den)
            .cast("bigint")
            .alias("train_ratio_ppm"),
        )
        .where(F.col("actual_ltv4_cents") > 0)
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# churn_rule_backtest — recency-rule churn prediction, graded with
# precision/recall/F1 on a time-split holdout.
# --------------------------------------------------------------------------
CHURN_HORIZON_D = 28                # label window: inactive 28 days past T
CHURN_RECENCY_GRID_D = (7, 14, 28)  # rule grid: recency > d ⇒ predict churn


@query(
    "churn_rule_backtest",
    oracle=f"""
    WITH mx AS (SELECT max(ts) AS m FROM events),
    cut AS (SELECT (SELECT m FROM mx)
                - INTERVAL {CHURN_HORIZON_D} DAY AS t FROM mx),
    u AS (
        SELECT user_id,
               date_diff('day', max(CASE WHEN ts <= (SELECT t FROM cut)
                                         THEN ts END),
                         (SELECT t FROM cut))::BIGINT AS recency_d,
               max(CASE WHEN ts > (SELECT t FROM cut)
                        THEN 1 ELSE 0 END)::INT AS active_post
        FROM events
        GROUP BY user_id
        HAVING max(CASE WHEN ts <= (SELECT t FROM cut) THEN ts END)
               IS NOT NULL),
    grid AS (SELECT unnest([{", ".join(str(d) for d in
                                       CHURN_RECENCY_GRID_D)}
                           ])::BIGINT AS thresh_d),
    scored AS (
        SELECT g.thresh_d,
               CASE WHEN u.recency_d > g.thresh_d THEN 1 ELSE 0 END
                   AS pred_churn,
               1 - u.active_post AS churned
        FROM grid g CROSS JOIN u)
    SELECT thresh_d,
           count(*)::BIGINT AS n_users,
           sum(churned)::BIGINT AS n_churned,
           sum(pred_churn * churned)::BIGINT AS tp,
           sum(pred_churn * (1 - churned))::BIGINT AS fp,
           sum((1 - pred_churn) * churned)::BIGINT AS fn,
           (sum(pred_churn * churned) * 1000000
               // greatest(sum(pred_churn), 1))::BIGINT AS precision_ppm,
           (sum(pred_churn * churned) * 1000000
               // greatest(sum(churned), 1))::BIGINT AS recall_ppm,
           (2 * sum(pred_churn * churned) * 1000000
               // greatest(2 * sum(pred_churn * churned)
                   + sum(pred_churn * (1 - churned))
                   + sum((1 - pred_churn) * churned), 1))::BIGINT AS f1_ppm
    FROM scored
    GROUP BY thresh_d
    ORDER BY thresh_d
    """,
)
def churn_rule_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHURN-RULE backtest on a time split: features freeze at
    T = max(ts) − {CHURN_HORIZON_D} days, the label is
    'no activity in the following {CHURN_HORIZON_D} days', and the
    rule 'recency > d ⇒ churn' is graded at
    d ∈ {CHURN_RECENCY_GRID_D} with exact precision/recall/F1
    (F1 via the integer identity 2·tp/(2·tp+fp+fn) — one trunc-div,
    no rational p/r intermediate). user_survival_curve describes the
    population hazard; this grades the simplest actionable predictor
    against a leakage-clean time holdout — the baseline any learned
    churn model must beat, measured the way every model-class query
    here is (hitrate/calibration/backtest contracts).

    Scale: ONE user-keyed aggregate builds (recency, label) — the
    time split is two conditional aggregates in the same pass, so
    features and labels cannot leak across T by construction; the
    rule grid is a map-side 3-literal explode; the readout is a
    3-group rollup."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    mx = ev.agg(F.max("ts").alias("m")).first()
    schema = (
        "thresh_d BIGINT, n_users BIGINT, n_churned BIGINT, tp BIGINT,"
        " fp BIGINT, fn BIGINT, precision_ppm BIGINT, recall_ppm BIGINT,"
        " f1_ppm BIGINT"
    )
    if mx.m is None:
        return spark.createDataFrame([], schema)
    cut = f"timestamp'{mx.m}' - interval {CHURN_HORIZON_D} days"
    u = (
        ev.groupBy("user_id")
        .agg(
            F.expr(
                f"datediff(to_date({cut}),"
                f" to_date(max(CASE WHEN ts <= {cut} THEN ts END)))"
            )
            .cast("bigint")
            .alias("recency_d"),
            F.max(
                F.expr(f"CASE WHEN ts > {cut} THEN 1 ELSE 0 END")
            )
            .cast("int")
            .alias("active_post"),
        )
        .where(F.col("recency_d").isNotNull())
    )
    grid = "array(" + ",".join(
        f"{d}L" for d in CHURN_RECENCY_GRID_D
    ) + ")"
    scored = (
        u.select(
            "recency_d",
            "active_post",
            F.explode(F.expr(grid)).alias("thresh_d"),
        )
        .select(
            "thresh_d",
            F.when(F.col("recency_d") > F.col("thresh_d"), 1)
            .otherwise(0)
            .alias("pred_churn"),
            (F.lit(1) - F.col("active_post")).alias("churned"),
        )
    )
    return (
        scored.groupBy("thresh_d")
        .agg(
            F.count("*").cast("bigint").alias("n_users"),
            F.sum("churned").cast("bigint").alias("n_churned"),
            F.sum(F.col("pred_churn") * F.col("churned"))
            .cast("bigint")
            .alias("tp"),
            F.sum(F.col("pred_churn") * (1 - F.col("churned")))
            .cast("bigint")
            .alias("fp"),
            F.sum((1 - F.col("pred_churn")) * F.col("churned"))
            .cast("bigint")
            .alias("fn"),
            F.expr(
                "cast(sum(pred_churn * churned) * 1000000"
                " div greatest(sum(pred_churn), 1) as bigint)"
            ).alias("precision_ppm"),
            F.expr(
                "cast(sum(pred_churn * churned) * 1000000"
                " div greatest(sum(churned), 1) as bigint)"
            ).alias("recall_ppm"),
            F.expr(
                "cast(2 * sum(pred_churn * churned) * 1000000"
                " div greatest(2 * sum(pred_churn * churned)"
                " + sum(pred_churn * (1 - churned))"
                " + sum((1 - pred_churn) * churned), 1) as bigint)"
            ).alias("f1_ppm"),
        )
        .orderBy("thresh_d")
    )


# --------------------------------------------------------------------------
# shipping_delay_quantiles — per-priority fulfillment latency: exact
# p50/p90/p99 of order-to-ship days.
# --------------------------------------------------------------------------
@query(
    "shipping_delay_quantiles",
    oracle="""
    WITH d AS (
        SELECT o.o_orderpriority AS priority,
               l.l_orderkey * 10 + l.l_linenumber AS line_uid,
               date_diff('day', o.o_orderdate::DATE,
                         l.l_shipdate::DATE)::BIGINT AS delay_d
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    ranked AS (
        SELECT priority, delay_d,
               row_number() OVER (PARTITION BY priority
                                  ORDER BY delay_d, line_uid) AS rn,
               count(*) OVER (PARTITION BY priority)::BIGINT AS n
        FROM d)
    SELECT priority,
           max(n)::BIGINT AS n_lines,
           max(CASE WHEN rn = (n + 1) // 2 THEN delay_d END)::BIGINT
               AS p50_d,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN delay_d END)::BIGINT
               AS p90_d,
           max(CASE WHEN rn = (99 * n + 99) // 100 THEN delay_d END)::BIGINT
               AS p99_d,
           max(delay_d)::BIGINT AS max_d
    FROM ranked
    GROUP BY priority
    ORDER BY priority
    """,
)
def shipping_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority FULFILLMENT latency: exact nearest-rank p50/p90/p99
    of order-date-to-ship-date days for every line item — does paying
    for '1-URGENT' actually buy a faster tail? q4/q12 count LATE
    orders against fixed deadlines; this profiles the whole latency
    DISTRIBUTION per service class, which is what an SLA negotiation
    actually reads (the event_dwell_quantiles pattern pointed at the
    supply chain).

    Determinism: delays are integer days; quantiles are nearest-rank
    with a (delay, line-uid) tie-break — exact order statistics.

    Scale: one fact-to-fact equi-join on the orderkey (both sides
    shuffle on the key — the canonical co-partitioned join, bucketable
    at 100 TB); the per-priority rank window is bounded by the 5
    priority classes — the documented small-group-count posture with
    the keyed bottom-k kernel as the high-cardinality path."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias(
            "line_uid"
        ),
        F.datediff(
            F.to_date("l_shipdate"), F.to_date("o_orderdate")
        )
        .cast("bigint")
        .alias("delay_d"),
    )
    wt = Window.partitionBy("priority").orderBy("delay_d", "line_uid")
    wn = Window.partitionBy("priority")
    ranked = d.select(
        "priority",
        "delay_d",
        F.row_number().over(wt).alias("rn"),
        F.count("*").over(wn).cast("bigint").alias("n"),
    )
    pick = lambda expr: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(expr), F.col("delay_d"))
    ).cast("bigint")
    return (
        ranked.groupBy("priority")
        .agg(
            F.max("n").cast("bigint").alias("n_lines"),
            pick("(n + 1) div 2").alias("p50_d"),
            pick("(9 * n + 9) div 10").alias("p90_d"),
            pick("(99 * n + 99) div 100").alias("p99_d"),
            F.max("delay_d").cast("bigint").alias("max_d"),
        )
        .orderBy("priority")
    )


# --------------------------------------------------------------------------
# orders_asof_snapshot — the AS OF consumer of the SCD2 history: each
# customer's state at a fixed point in time, plus version statistics.
# --------------------------------------------------------------------------
ASOF_TS = "1998-07-01 00:00:00"  # the DiD cutover — one shared epoch


@query(
    "orders_asof_snapshot",
    oracle=f"""
    WITH h AS (
        SELECT o_custkey, o_orderkey,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS valid_to
        FROM orders WHERE o_custkey < 50),
    live AS (
        SELECT o_custkey, o_orderkey, valid_from
        FROM h
        WHERE valid_from <= TIMESTAMP '{ASOF_TS}'
          AND (valid_to IS NULL OR valid_to > TIMESTAMP '{ASOF_TS}')),
    vc AS (
        SELECT o_custkey,
               count(*)::BIGINT AS n_versions_asof
        FROM h WHERE valid_from <= TIMESTAMP '{ASOF_TS}'
        GROUP BY 1)
    SELECT l.o_custkey,
           l.o_orderkey AS live_orderkey,
           strftime(l.valid_from, '%Y-%m-%d') AS live_since,
           date_diff('day', l.valid_from::DATE,
                     DATE '{ASOF_TS.split(" ")[0]}')::BIGINT
               AS live_age_days,
           vc.n_versions_asof
    FROM live l JOIN vc ON vc.o_custkey = l.o_custkey
    ORDER BY l.o_custkey
    """,
)
def orders_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS OF query over the SCD2 history — the read side every
    bitemporal store exists for: reconstruct, at the fixed
    {ASOF_TS} epoch, which version was LIVE for each tracked customer
    (validity interval covering the timestamp), how long it had been
    live, and how many versions existed by then.
    order_history_scd2 BUILDS the intervals (shared scd2_intervals,
    so this snapshot and the streaming CDC twin replay the same
    history); this consumes them the way a time-travel SELECT ... FOR
    TIMESTAMP AS OF does — without a lakehouse format, from plain
    windows.

    Determinism: interval containment on exact timestamps with the
    interval-assembly's own (date, orderkey) tie-break; ages are
    integer days.

    Scale: the SCD2 window keys by customer (the natural partition);
    the snapshot filter and the version count are one more pass over
    the same keyed frame — no new shuffle beyond the history build."""
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey") < 50
    )
    h = scd2_intervals(orders)

    h = pin(
        "asof_h",
        h.where(F.col("valid_from") <= F.lit(ASOF_TS).cast("timestamp")),
        fill=False,
    )
    live = h.where(
        F.col("valid_to").isNull()
        | (F.col("valid_to") > F.lit(ASOF_TS).cast("timestamp"))
    ).select("o_custkey", "o_orderkey", "valid_from")
    vc = h.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_versions_asof")
    )
    asof_date = ASOF_TS.split(" ")[0]
    return (
        live.join(vc, "o_custkey")
        .select(
            "o_custkey",
            F.col("o_orderkey").alias("live_orderkey"),
            F.date_format("valid_from", "yyyy-MM-dd").alias("live_since"),
            F.datediff(
                F.lit(asof_date).cast("date"),
                F.col("valid_from").cast("date"),
            )
            .cast("bigint")
            .alias("live_age_days"),
            "n_versions_asof",
        )
        .orderBy("o_custkey")
    )


# --------------------------------------------------------------------------
# revenue_tail_index — Hill estimator of the order-value tail (is
# revenue heavy-tailed enough that means mislead?).
# --------------------------------------------------------------------------
HILL_K = 100  # tail order statistics used


@query(
    "revenue_tail_index",
    oracle=f"""
    WITH x AS (
        SELECT round(o_totalprice * 100)::BIGINT AS cents, o_orderkey,
               row_number() OVER (ORDER BY round(o_totalprice * 100)::BIGINT
                                  DESC, o_orderkey) AS rn
        FROM orders),
    ref AS (SELECT cents AS xk1 FROM x WHERE rn = {HILL_K} + 1),
    terms AS (
        SELECT CAST(round(ln(cents * 1.0 / (SELECT xk1 FROM ref))
                    * 1000000000) AS BIGINT) AS t_nano
        FROM x WHERE rn <= {HILL_K})
    SELECT {HILL_K}::BIGINT AS k,
           (SELECT xk1 FROM ref)::BIGINT AS x_k1_cents,
           sum(t_nano)::BIGINT AS sum_log_ratio_nano,
           ({HILL_K}::HUGEINT * 1000000000 * 1000000
               // greatest(sum(t_nano), 1))::BIGINT AS alpha_ppm
    FROM terms
    """,
)
def revenue_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HILL ESTIMATOR of the order-value tail index: α̂ = k / Σ ln(x_i
    / x_(k+1)) over the top-{HILL_K} order totals. α ≤ 2 means the
    tail is heavy enough that variance is effectively infinite and
    every mean-based readout (A/B lifts, daily averages) is dominated
    by whales — the diagnostic that says WHETHER to trust the mean,
    sitting upstream of revenue_gini/revenue_pareto (which describe
    concentration but not tail decay). corpus_zipf_fit is the same
    question asked of word frequencies; this asks it of money.

    Determinism: the tail cut is an exact TakeOrdered with an
    (amount, orderkey) tie-break; each log-ratio rounds onto the
    nano grid per term before the order-independent sum; the final α
    is one trunc-div.

    Scale: TakeOrdered({HILL_K}+1) over the fact table — no global
    sort, no window; the close runs on {HILL_K} literal rows."""
    orders = load_table(spark, sf_dir, "orders")
    x = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    top = [
        (int(r.cents), int(r.o_orderkey))
        for r in x.orderBy(F.desc("cents"), "o_orderkey")
        .limit(HILL_K + 1)
        .collect()
    ]
    schema = (
        "k BIGINT, x_k1_cents BIGINT, sum_log_ratio_nano BIGINT,"
        " alpha_ppm BIGINT"
    )
    if len(top) < HILL_K + 1:
        return spark.createDataFrame([], schema)
    xk1 = top[HILL_K][0]
    # per-term nano rounding mirrors the oracle: round-half-away on
    # ln(cents/xk1) — positive domain, so floor(x*1e9 + 0.5) matches
    import math

    s = sum(
        math.floor(math.log(c * 1.0 / xk1) * 1000000000 + 0.5)
        for c, _ in top[:HILL_K]
    )
    alpha_ppm = HILL_K * 1000000000 * 1000000 // max(s, 1)
    return spark.createDataFrame(
        [(HILL_K, xk1, s, alpha_ppm)], schema
    )


# --------------------------------------------------------------------------
# brand_seasonal_demand_index — month-of-year demand index per brand
# (which assortments are seasonal, and when).
# --------------------------------------------------------------------------
@query(
    "brand_seasonal_demand_index",
    oracle="""
    WITH d AS (
        SELECT p.p_brand AS brand,
               month(l.l_shipdate)::INT AS m,
               sum(l.l_quantity)::BIGINT AS qty
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2),
    tot AS (SELECT brand, sum(qty)::BIGINT AS t FROM d GROUP BY 1)
    SELECT d.brand, d.m AS month, d.qty,
           (d.qty * 12 * 1000000 // t.t)::BIGINT AS seasonal_index_ppm,
           (SELECT max(x) FROM (
               SELECT (d2.qty * 12 * 1000000 // t.t) AS x
               FROM d d2 WHERE d2.brand = d.brand))::BIGINT
               AS peak_index_ppm
    FROM d JOIN tot t ON t.brand = d.brand
    ORDER BY d.brand, d.m
    """,
)
def brand_seasonal_demand_index(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MONTH-OF-YEAR demand index per brand: shipped quantity share of
    each calendar month ×12 (10⁶ = perfectly flat; 2·10⁶ = that month
    ships double its fair share), with the brand's peak index
    alongside — the merchandising readout that separates seasonal
    assortments from steady ones before anyone forecasts them.
    revenue_trend_seasonal_split measures the WEEKLY cycle of total
    revenue; this measures the ANNUAL cycle per product line.

    Determinism: integer quantities, trunc-div ppm, calendar month
    from the date both engines extract identically.

    Scale: one dim join (part is SF-linear — unhinted, AQE picks),
    one (brand × month) map-combinable aggregate (≤ |brands|·12
    rows); the peak is a max over the bounded per-brand frame, which
    IS force-broadcast (≤ |brands| rows at any sf)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_shipdate"
    )
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    d = (
        li.join(parts, li.l_partkey == parts.p_partkey)
        .groupBy(
            "brand", F.month("l_shipdate").cast("int").alias("month")
        )
        .agg(F.sum("l_quantity").cast("bigint").alias("qty"))
    )

    idx = pin(
        "brand_season_idx",
        d.join(
            d.groupBy("brand").agg(
                F.sum("qty").cast("bigint").alias("t")
            ),
            "brand",
        ).select(
            "brand",
            "month",
            "qty",
            F.expr(
                "cast(qty * 12 * 1000000 div t as bigint)"
            ).alias("seasonal_index_ppm"),
        ),
        fill=False,
    )
    peak = idx.groupBy("brand").agg(
        F.max("seasonal_index_ppm").cast("bigint").alias("peak_index_ppm")
    )
    return (
        idx.join(F.broadcast(peak), "brand")
        .select(
            "brand", "month", "qty", "seasonal_index_ppm",
            "peak_index_ppm",
        )
        .orderBy("brand", "month")
    )


# --------------------------------------------------------------------------
# customer_reorder_cycle — per-segment replenishment cadence: exact
# quantiles of the gap between consecutive orders.
# --------------------------------------------------------------------------
@query(
    "customer_reorder_cycle",
    oracle="""
    WITH g AS (
        SELECT c.c_mktsegment AS segment,
               o.o_orderkey AS uid,
               date_diff('day',
                   lag(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                       ORDER BY o.o_orderdate, o.o_orderkey)::DATE,
                   o.o_orderdate::DATE)::BIGINT AS gap_d
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    d AS (SELECT segment, uid, gap_d FROM g WHERE gap_d IS NOT NULL),
    ranked AS (
        SELECT segment, gap_d,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY gap_d, uid) AS rn,
               count(*) OVER (PARTITION BY segment)::BIGINT AS n
        FROM d)
    SELECT segment,
           max(n)::BIGINT AS n_gaps,
           max(CASE WHEN rn = (n + 1) // 2 THEN gap_d END)::BIGINT
               AS p50_d,
           max(CASE WHEN rn = (9 * n + 9) // 10 THEN gap_d END)::BIGINT
               AS p90_d,
           max(gap_d)::BIGINT AS max_d
    FROM ranked
    GROUP BY segment
    ORDER BY segment
    """,
)
def customer_reorder_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLENISHMENT cadence per market segment: exact nearest-rank
    p50/p90 of the days between a customer's consecutive orders — the
    number that sizes reorder reminders, subscription pitches and the
    churn rule's recency thresholds (a segment whose p90 cycle is 40
    days should not share churn_rule_backtest's 14-day rule with one
    cycling weekly). RFM's frequency is a count; this is the cadence
    DISTRIBUTION behind it.

    Determinism: gaps are integer days from one customer-keyed lag
    window with the (date, orderkey) tie-break; quantiles are exact
    nearest-rank order statistics.

    Scale: the lag keys by customer (the natural partition); the
    segment label is an unhinted dim join (customer is SF-linear —
    AQE picks broadcast while it fits); the per-segment rank window
    is bounded by the 5 segments — the documented small-group-count
    posture."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    w = Window.partitionBy("o_custkey").orderBy(
        "o_orderdate", "o_orderkey"
    )
    d = (
        orders.join(
            cust, orders.o_custkey == cust.c_custkey
        )
        .select(
            "segment",
            F.col("o_orderkey").alias("uid"),
            F.datediff(
                F.to_date("o_orderdate"),
                F.to_date(F.lag("o_orderdate").over(w)),
            )
            .cast("bigint")
            .alias("gap_d"),
        )
        .where(F.col("gap_d").isNotNull())
    )
    wt = Window.partitionBy("segment").orderBy("gap_d", "uid")
    wn = Window.partitionBy("segment")
    ranked = d.select(
        "segment",
        "gap_d",
        F.row_number().over(wt).alias("rn"),
        F.count("*").over(wn).cast("bigint").alias("n"),
    )
    pick = lambda expr: F.max(  # noqa: E731
        F.when(F.col("rn") == F.expr(expr), F.col("gap_d"))
    ).cast("bigint")
    return (
        ranked.groupBy("segment")
        .agg(
            F.max("n").cast("bigint").alias("n_gaps"),
            pick("(n + 1) div 2").alias("p50_d"),
            pick("(9 * n + 9) div 10").alias("p90_d"),
            F.max("gap_d").cast("bigint").alias("max_d"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# brand_lifecycle_mix — assortment freshness: new / active / retired
# parts per brand from first/last shipment months.
# --------------------------------------------------------------------------
LIFECYCLE_EDGE_MONTHS = 6  # new = first ship within the last 6 months;
                           # retired = last ship more than 6 months ago


@query(
    "brand_lifecycle_mix",
    oracle=f"""
    WITH p AS (
        SELECT l_partkey AS pk,
               min(date_trunc('month', l_shipdate)) AS first_m,
               max(date_trunc('month', l_shipdate)) AS last_m,
               sum(l_quantity)::BIGINT AS qty
        FROM lineitem GROUP BY 1),
    mx AS (SELECT max(last_m) AS m FROM p),
    staged AS (
        SELECT pt.p_brand AS brand, p.qty,
               CASE WHEN date_diff('month', p.first_m,
                        (SELECT m FROM mx)) < {LIFECYCLE_EDGE_MONTHS}
                    THEN 'new'
                    WHEN date_diff('month', p.last_m,
                        (SELECT m FROM mx)) >= {LIFECYCLE_EDGE_MONTHS}
                    THEN 'retired'
                    ELSE 'active' END AS stage
        FROM p JOIN part pt ON pt.p_partkey = p.pk)
    SELECT brand, stage,
           count(*)::BIGINT AS n_parts,
           sum(qty)::BIGINT AS qty,
           (count(*) * 1000000 // sum(count(*)) OVER
               (PARTITION BY brand))::BIGINT AS brand_share_ppm
    FROM staged
    GROUP BY brand, stage
    ORDER BY brand, stage
    """,
)
def brand_lifecycle_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASSORTMENT FRESHNESS per brand: classify every part by its
    shipment lifecycle — `new` (first shipped within the last
    {LIFECYCLE_EDGE_MONTHS} months), `retired` (nothing shipped for
    {LIFECYCLE_EDGE_MONTHS}+ months), `active` otherwise — and report
    each brand's mix with lifetime quantities. The assortment-health
    readout next to copurchase_edge_novelty (which tracks GRAPH
    freshness): a brand whose mix skews retired is aging out of the
    catalog regardless of its current revenue.

    Determinism: month arithmetic on truncated dates, integer counts,
    one trunc-div share per row (window over the bounded brand×stage
    frame).

    Scale: one partkey-keyed min/max/sum aggregate over the fact
    table, an unhinted dim join (part is SF-linear — AQE picks), a
    ≤|brands|×3 rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_shipdate"
    )
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    p = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min(F.date_trunc("month", "l_shipdate")).alias("first_m"),
        F.max(F.date_trunc("month", "l_shipdate")).alias("last_m"),
        F.sum("l_quantity").cast("bigint").alias("qty"),
    )
    mx = p.agg(F.max("last_m").alias("m")).first()
    schema = (
        "brand STRING, stage STRING, n_parts BIGINT, qty BIGINT,"
        " brand_share_ppm BIGINT"
    )
    if mx.m is None:
        return spark.createDataFrame([], schema)
    months_between = (
        lambda a, b: f"(year({a}) - year({b})) * 12"
        f" + (month({a}) - month({b}))"
    )
    m_lit = f"timestamp'{mx.m}'"
    staged = (
        p.join(parts, p.pk == parts.p_partkey)
        .select(
            "brand",
            "qty",
            F.expr(
                f"CASE WHEN {months_between(m_lit, 'first_m')}"
                f" < {LIFECYCLE_EDGE_MONTHS} THEN 'new'"
                f" WHEN {months_between(m_lit, 'last_m')}"
                f" >= {LIFECYCLE_EDGE_MONTHS} THEN 'retired'"
                f" ELSE 'active' END"
            ).alias("stage"),
        )
    )
    wb = Window.partitionBy("brand")
    return (
        staged.groupBy("brand", "stage")
        .agg(
            F.count("*").cast("bigint").alias("n_parts"),
            F.sum("qty").cast("bigint").alias("qty"),
        )
        .select(
            "brand",
            "stage",
            "n_parts",
            "qty",
            F.expr(
                "cast(n_parts * 1000000 div sum(n_parts) over"
                " (partition by brand) as bigint)"
            ).alias("brand_share_ppm"),
        )
        .orderBy("brand", "stage")
    )


# --------------------------------------------------------------------------
# segment_brand_entropy — purchasing-concentration entropy per segment
# (cross-sell headroom: who buys broadly, who buys narrowly).
# --------------------------------------------------------------------------
@query(
    "segment_brand_entropy",
    oracle="""
    WITH cells AS (
        SELECT c.c_mktsegment AS segment, p.p_brand AS brand,
               count(*)::BIGINT AS n
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2),
    terms AS (
        SELECT segment, brand, n,
               CAST(round(n * ln(n) * 1000000000) AS BIGINT) AS t_nano
        FROM cells)
    SELECT segment,
           count(*)::BIGINT AS n_brands,
           sum(n)::BIGINT AS n_lines,
           (CAST(round(ln(sum(n)) * 1000000000) AS BIGINT)
               - sum(t_nano) // sum(n))::BIGINT AS entropy_nano,
           (max(n) * 1000000 // sum(n))::BIGINT AS top_brand_share_ppm
    FROM terms
    GROUP BY segment
    ORDER BY segment
    """,
)
def segment_brand_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRAND-MIX entropy per market segment: Shannon entropy of each
    segment's purchase distribution across brands (nano-nats, the
    doc_char_entropy closing applied to the merchandising grid) plus
    the top-brand share — a low-entropy, high-top-share segment buys
    narrowly (cross-sell headroom), a near-uniform one is already
    diversified. part_supplier_hhi reads supply concentration; this
    reads DEMAND concentration, per segment.

    Determinism: cell n·ln(n) terms round onto the nano grid before
    the order-independent sum; the final subtraction divides exact
    positive integers.

    Scale: the q3/q10 shape — orderkey co-partitioned fact join plus
    two unhinted dim joins (customer and part are SF-linear: AQE
    broadcasts the 2-column projections while they fit); the entropy
    closes over the |segments|×|brands| cell frame."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    cells = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(parts, li.l_partkey == parts.p_partkey)
        .groupBy("segment", "brand")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    terms = cells.select(
        "segment",
        "n",
        F.round(
            F.col("n") * F.log(F.col("n").cast("double"))
            * F.lit(1000000000),
            0,
        )
        .cast("bigint")
        .alias("t_nano"),
    )
    return (
        terms.groupBy("segment")
        .agg(
            F.count("*").cast("bigint").alias("n_brands"),
            F.sum("n").cast("bigint").alias("n_lines"),
            (
                F.round(
                    F.log(F.sum("n").cast("double")) * F.lit(1000000000),
                    0,
                ).cast("bigint")
                - F.expr("sum(t_nano) div sum(n)")
            )
            .cast("bigint")
            .alias("entropy_nano"),
            F.expr(
                "cast(max(n) * 1000000 div sum(n) as bigint)"
            ).alias("top_brand_share_ppm"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# event_type_burstiness — Poisson-or-bursty per traffic class: the
# Goh–Barabási burstiness of interarrival gaps, exactly.
# --------------------------------------------------------------------------
@query(
    "event_type_burstiness",
    oracle="""
    WITH seq AS (
        SELECT event_type, event_id,
               floor(epoch(ts))::BIGINT AS es,
               lag(floor(epoch(ts))::BIGINT)
                   OVER (PARTITION BY event_type ORDER BY ts, event_id)
                   AS prev_es
        FROM events),
    g AS (
        SELECT event_type, (es - prev_es)::BIGINT AS gap_s
        FROM seq WHERE prev_es IS NOT NULL),
    m AS (
        SELECT event_type,
               count(*)::HUGEINT AS n,
               sum(gap_s)::HUGEINT AS s,
               sum(gap_s::HUGEINT * gap_s) AS s2
        FROM g GROUP BY 1),
    q AS (
        SELECT event_type, n, s,
               (SELECT s0
                    + (CASE WHEN (s0+1)*(s0+1) <= n*s2 - s*s
                            THEN 1 ELSE 0 END)
                    - (CASE WHEN s0*s0 > n*s2 - s*s THEN 1 ELSE 0 END)
                FROM (SELECT floor(sqrt((n*s2 - s*s)::DOUBLE))::HUGEINT
                          AS s0)) AS sq
        FROM m)
    SELECT event_type,
           n::BIGINT AS n_gaps,
           (s // n)::BIGINT AS mean_gap_s,
           (sq // n)::BIGINT AS stddev_gap_s,
           (CASE WHEN sq + s = 0 THEN 0
                 WHEN sq >= s THEN (sq - s) * 1000000 // (sq + s)
                 ELSE -((s - sq) * 1000000 // (sq + s)) END)::BIGINT
               AS burstiness_ppm
    FROM q
    ORDER BY event_type
    """,
)
def event_type_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BURSTINESS (Goh–Barabási B = (σ−μ)/(σ+μ)) of each event type's
    interarrival process: B ≈ 0 is Poisson traffic, B → 1 is heavy
    bursting (provision for spikes), B < 0 is pacemaker-regular
    (suspect automation — the traffic-class twin of
    user_bot_regularity's per-user readout). The capacity-planning
    number behind events_peak_concurrency: peaks tell you the worst
    minute seen, B tells you whether worse minutes are coming.

    Determinism — the exact-integer σ contract: n·σ and n·μ share the
    denominator, so B = (√D − S)/(√D + S) with D = n·Σx²−S² — the
    square root is an INTEGER sqrt of an exact moment (math.isqrt vs
    the corrected floor(sqrt), the Neyman/Wilson pattern), and the
    possibly-negative close divides sign-split magnitudes (trunc on
    both engines).

    Scale: one type-keyed lag window (types are the partition), one
    map-combinable moment aggregate, a ≤|types|-row Python close."""
    import math

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    es = F.expr("cast(floor(unix_timestamp(ts)) as bigint)")
    g = (
        ev.select(
            "event_type",
            es.alias("es"),
            F.lag(es).over(w).alias("prev_es"),
        )
        .where(F.col("prev_es").isNotNull())
        .select(
            "event_type",
            (F.col("es") - F.col("prev_es")).cast("bigint").alias("gap_s"),
        )
    )
    m = g.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("gap_s").cast("decimal(38,0)").alias("s"),
        F.sum(F.expr("cast(gap_s as decimal(38,0)) * gap_s")).alias("s2"),
    )
    schema = (
        "event_type STRING, n_gaps BIGINT, mean_gap_s BIGINT,"
        " stddev_gap_s BIGINT, burstiness_ppm BIGINT"
    )
    rows = sorted(
        (r.event_type, int(r.n), int(r.s), int(r.s2))
        for r in m.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    out = []
    for et, n, s, s2 in rows:
        sq = math.isqrt(n * s2 - s * s)
        if sq + s == 0:
            b = 0
        elif sq >= s:
            b = (sq - s) * 1000000 // (sq + s)
        else:
            b = -((s - sq) * 1000000 // (sq + s))
        out.append((et, n, s // n, sq // n, b))
    return spark.createDataFrame(out, schema).orderBy("event_type")


# --------------------------------------------------------------------------
# brand_market_coverage — geographic reach per brand: nations, regions,
# and regional revenue concentration.
# --------------------------------------------------------------------------
@query(
    "brand_market_coverage",
    oracle="""
    WITH cells AS (
        SELECT p.p_brand AS brand, n.n_regionkey AS region,
               c.c_nationkey AS nation,
               sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                   ::BIGINT)::BIGINT AS cents
        FROM lineitem l
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n ON n.n_nationkey = c.c_nationkey
        JOIN part p ON p.p_partkey = l.l_partkey
        GROUP BY 1, 2, 3),
    per_region AS (
        SELECT brand, region, sum(cents)::BIGINT AS rcents
        FROM cells GROUP BY 1, 2)
    SELECT c.brand,
           count(DISTINCT c.nation)::BIGINT AS n_nations,
           count(DISTINCT c.region)::BIGINT AS n_regions,
           sum(c.cents)::BIGINT AS revenue_cents,
           (max(r.mx) * 1000000 // sum(c.cents))::BIGINT
               AS top_region_share_ppm
    FROM cells c
    JOIN (SELECT brand, max(rcents)::BIGINT AS mx
          FROM per_region GROUP BY 1) r ON r.brand = c.brand
    GROUP BY c.brand
    ORDER BY c.brand
    """,
)
def brand_market_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GEOGRAPHIC REACH per brand: how many customer nations and
    regions each brand's revenue comes from, and how concentrated it
    is in its top region — the market-coverage readout between q8's
    single-market share and brand_lifecycle_mix's temporal health
    (a brand with strong revenue but 1-region concentration is an
    expansion candidate AND a geo-risk).

    Determinism: exact integer discounted cents (the q1 expression),
    distinct counts, one trunc-div share.

    Scale: the orderkey fact join plus one schema-bounded broadcast
    dim (nation) and two unhinted SF-linear dims (customer, part —
    AQE picks their strategy); the (brand × region × nation) cell
    frame is bounded by the dimension product and everything closes
    on it (per_region_max stays force-broadcast: ≤ |brands| rows)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_partkey",
        F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        )
        .cast("bigint")
        .alias("cents"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_brand").alias("brand")
    )
    cells = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(parts, li.l_partkey == parts.p_partkey)
        .groupBy(
            "brand",
            F.col("n_regionkey").alias("region"),
            F.col("c_nationkey").alias("nation"),
        )
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )

    cells = pin("brand_coverage_cells", cells, fill=False)
    per_region_max = (
        cells.groupBy("brand", "region")
        .agg(F.sum("cents").cast("bigint").alias("rcents"))
        .groupBy("brand")
        .agg(F.max("rcents").cast("bigint").alias("mx"))
    )
    return (
        cells.join(F.broadcast(per_region_max), "brand")
        .groupBy("brand")
        .agg(
            F.countDistinct("nation").cast("bigint").alias("n_nations"),
            F.countDistinct("region").cast("bigint").alias("n_regions"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.expr(
                "cast(max(mx) * 1000000 div sum(cents) as bigint)"
            ).alias("top_region_share_ppm"),
        )
        .orderBy("brand")
    )


# --------------------------------------------------------------------------
# daily_order_cusum — CUSUM changepoint detection on the daily order
# series. The seasonal/anova family asks "does a cyclic factor explain
# the variance"; CUSUM asks the monitoring question: WHEN did the level
# shift? One-sided cumulative sums of demeaned daily counts, positive
# and negative, with the positive peak flagged as the level-shift
# candidate — the classic SPC drift alarm over an order stream.
# --------------------------------------------------------------------------
@query(
    "daily_order_cusum",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', o_orderdate)::TIMESTAMP AS day,
               count(*)::BIGINT AS n_orders
        FROM orders GROUP BY 1),
    tot AS (SELECT count(*)::BIGINT AS n_days,
                   sum(n_orders)::BIGINT AS t_orders FROM daily),
    pre AS (
        SELECT d.day, d.n_orders,
               sum(t.n_days * d.n_orders - t.t_orders)
                   OVER (ORDER BY d.day)::BIGINT AS p
        FROM daily d CROSS JOIN tot t),
    cu AS (
        SELECT day, n_orders,
               (p - least(0, min(p) OVER (ORDER BY day)))::BIGINT
                   AS cusum_pos,
               (greatest(0, max(p) OVER (ORDER BY day)) - p)::BIGINT
                   AS cusum_neg
        FROM pre)
    SELECT day, n_orders, cusum_pos, cusum_neg,
           CASE WHEN row_number() OVER (ORDER BY cusum_pos DESC, day) = 1
                THEN 1 ELSE 0 END AS is_pos_peak
    FROM cu
    ORDER BY day
    """,
)
def daily_order_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint scan over the daily order-count series: with
    d_i = n·x_i − T (counts demeaned WITHOUT division — everything
    stays integer by scaling through the day count n), the one-sided
    sums are S⁺_i = P_i − min(0, min_{j≤i} P_j) and
    S⁻_i = max(0, max_{j≤i} P_j) − P_i over the prefix sums P — the
    closed form of the max(0, S+x) recursion, so the whole scan is
    two running extrema instead of a sequential fold. The day where
    S⁺ peaks is the level-shift candidate a monitoring pipeline
    alarms on (flagged; ties break to the earliest day).

    Determinism: pure integer arithmetic end to end — counts, the
    n-scaled demeaning, prefix sums, running extrema. No division
    ever happens.

    Scale: one shuffle to O(#days) rows; the calendar spine is
    SCHEMA-bounded (~2.4k days at any SF), so the global ORDER BY
    windows run on a frame that fits one partition at ANY raw data
    scale — the orders_monthly_trend exemption. n·x_i stays far below
    2^63 (n ≤ ~2.4k, x_i ~ 1e12 at 100 TB)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n_orders"))
    tot = daily.agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("n_orders").cast("bigint").alias("t_orders"),
    )
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pre = daily.crossJoin(F.broadcast(tot)).withColumn(
        "p",
        F.sum(
            F.col("n_days") * F.col("n_orders") - F.col("t_orders")
        ).over(w_run).cast("bigint"),
    )
    cu = pre.select(
        "day",
        "n_orders",
        (
            F.col("p")
            - F.least(F.lit(0).cast("bigint"), F.min("p").over(w_run))
        )
        .cast("bigint")
        .alias("cusum_pos"),
        (
            F.greatest(F.lit(0).cast("bigint"), F.max("p").over(w_run))
            - F.col("p")
        )
        .cast("bigint")
        .alias("cusum_neg"),
    )
    w_peak = Window.orderBy(F.desc("cusum_pos"), "day")
    return (
        cu.withColumn(
            "is_pos_peak",
            F.when(F.row_number().over(w_peak) == 1, 1).otherwise(0),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# segment_revenue_mann_kendall — nonparametric TREND test per market
# segment. The ANOVA legs test cyclic factors; Mann-Kendall asks the
# monotone question — is weekly revenue drifting up or down, without
# assuming normality or linearity? S = Σ_{i<j} sign(x_j − x_i) over the
# weekly series, with the exact-integer 5% significance close.
# --------------------------------------------------------------------------
@query(
    "segment_revenue_mann_kendall",
    oracle="""
    WITH weekly AS (
        SELECT c.c_mktsegment AS segment,
               date_trunc('week', o.o_orderdate)::TIMESTAMP AS week,
               sum(round(o.o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY 1, 2),
    s AS (
        SELECT a.segment,
               sum(CASE WHEN b.cents > a.cents THEN 1
                        WHEN b.cents < a.cents THEN -1
                        ELSE 0 END)::BIGINT AS s_stat
        FROM weekly a JOIN weekly b
          ON b.segment = a.segment AND b.week > a.week
        GROUP BY a.segment),
    nw AS (SELECT segment, count(*)::BIGINT AS n_weeks FROM weekly
           GROUP BY segment),
    ties AS (
        SELECT segment,
               coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT
                   AS tie_term
        FROM (SELECT segment, count(*)::BIGINT AS t FROM weekly
              GROUP BY segment, cents)
        WHERE t > 1 GROUP BY segment),
    m AS (
        SELECT nw.segment, nw.n_weeks, s.s_stat,
               (nw.n_weeks * (nw.n_weeks - 1) * (2 * nw.n_weeks + 5)
                - coalesce(t.tie_term, 0))::BIGINT AS var_s_x18
        FROM nw JOIN s ON s.segment = nw.segment
        LEFT JOIN ties t ON t.segment = nw.segment)
    SELECT segment, n_weeks, s_stat, var_s_x18,
           (CASE WHEN s_stat >= 0
                 THEN  s_stat * 1000000 // (n_weeks * (n_weeks - 1) // 2)
                 ELSE -((-s_stat) * 1000000
                        // (n_weeks * (n_weeks - 1) // 2))
            END)::BIGINT AS tau_ppm,
           CASE WHEN abs(s_stat) > 1
                 AND 11250 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
                     > 2401 * var_s_x18
                THEN CASE WHEN s_stat > 0 THEN 'up' ELSE 'down' END
                ELSE 'none' END AS trend
    FROM m
    ORDER BY segment
    """,
)
def segment_revenue_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test on WEEKLY revenue per market
    segment: S = Σ_{i<j} sign(rev_j − rev_i) over the week pairs,
    Kendall-tau-style effect size S/C(n,2) on a ppm grid, and the
    normal-approximation 5% call done in EXACT integers — with
    Var(S)·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5) kept unscaled, the
    two-sided z > 1.96 test is (|S|−1)² · 18 · 625 > 2401 · Var·18
    (1.96² = 2401/625 exactly), i.e. 11250·(|S|−1)² > 2401·var_s_x18 —
    no sqrt, no float, no continuity-correction rounding.

    Determinism: revenue is exact integer CENTS (the q7 contract)
    before any comparison; sign sums, tie terms, and the significance
    inequality are pure integers; tau divides with sign-split
    magnitudes (trunc on both engines).

    Scale: the fact pass is one (segment × week) aggregate after an
    unhinted customer join (AQE broadcasts while it fits); the pair
    self-join runs on the SCHEMA-bounded weekly frame (~5 segments ×
    ~350 weeks → ~3e5 pairs at ANY SF), so the quadratic stage never
    grows with data volume.

    The (segment, week, cents) producer and the pair-sign close are
    split out (attributed_order_cents / mann_kendall_from_weekly) and
    SHARED with the streaming twin (streaming/mk_stream.py), which
    folds the weekly frame as an additive ledger."""
    weekly = (
        attributed_order_cents(spark, sf_dir)
        .groupBy("segment", "week")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    return mann_kendall_from_weekly(spark, weekly)


def attributed_order_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-grain (segment, week, cents) order lines — orders attributed
    to their customer's market segment, the shared input of the batch
    Mann-Kendall query and the streaming weekly ledger's partials."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.date_trunc("week", "o_orderdate").alias("week"),
        F.expr("cast(round(o_totalprice * 100) as bigint)").alias("cents"),
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    return orders.join(cust, "o_custkey").select("segment", "week", "cents")


def mann_kendall_from_weekly(
    spark: SparkSession, weekly: DataFrame, pin_name: str = "mk_weekly"
) -> DataFrame:
    """The Mann-Kendall close over a (segment, week, cents) WEEKLY
    frame — the ONE close shared by the batch
    segment_revenue_mann_kendall and streaming/mk_stream's readout off
    its additive weekly ledger, so batch and stream cannot drift (the
    tail_risk_from_cents_hist contract). ``pin_name``: callers with a
    DIFFERENT input lineage (the streaming readout) must pass their
    own name — app-scoped pins are keyed by name, so two interleaved
    lazy consumers sharing one name would unpersist each other's
    generation mid-plan (ADVICE r11). The pair self-join stays on
    the schema-bounded weekly grid regardless of who feeds it."""

    weekly = pin(pin_name, weekly, fill=False)
    a = weekly.select(
        "segment", F.col("week").alias("wa"), F.col("cents").alias("ca")
    )
    b = weekly.select(
        "segment", F.col("week").alias("wb"), F.col("cents").alias("cb")
    )
    s = (
        a.join(b, "segment")
        .where(F.col("wb") > F.col("wa"))
        .groupBy("segment")
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("s_stat")
        )
    )
    nw = weekly.groupBy("segment").agg(
        F.count("*").cast("bigint").alias("n_weeks")
    )
    ties = (
        weekly.groupBy("segment", "cents")
        .agg(F.count("*").cast("bigint").alias("t"))
        .where(F.col("t") > 1)
        .groupBy("segment")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("bigint")
            .alias("tie_term")
        )
    )
    m = (
        nw.join(s, "segment")
        .join(ties, "segment", "left")
        .select(
            "segment",
            "n_weeks",
            "s_stat",
            (
                F.col("n_weeks")
                * (F.col("n_weeks") - 1)
                * (2 * F.col("n_weeks") + 5)
                - F.coalesce(F.col("tie_term"), F.lit(0))
            )
            .cast("bigint")
            .alias("var_s_x18"),
        )
    )
    return m.select(
        "segment",
        "n_weeks",
        "s_stat",
        "var_s_x18",
        F.expr(
            "cast(CASE WHEN s_stat >= 0"
            " THEN s_stat * 1000000 div (n_weeks * (n_weeks - 1) div 2)"
            " ELSE -((-s_stat) * 1000000"
            "        div (n_weeks * (n_weeks - 1) div 2))"
            " END as bigint)"
        ).alias("tau_ppm"),
        F.expr(
            "CASE WHEN abs(s_stat) > 1"
            " AND 11250 * (abs(s_stat) - 1) * (abs(s_stat) - 1)"
            "     > 2401 * var_s_x18"
            " THEN CASE WHEN s_stat > 0 THEN 'up' ELSE 'down' END"
            " ELSE 'none' END"
        ).alias("trend"),
    ).orderBy("segment")


# --------------------------------------------------------------------------
# user_growth_accounting — the DAU growth-accounting ledger (new /
# retained / resurrected / dormant) per day, with the quick ratio.
# Retention cohorts answer "how does a signup class decay"; growth
# accounting answers the operator's daily question — of today's active
# users, who is new, who came back, who stayed, and how many of
# yesterday's actives went silent. The identity
# DAU(d) = new + retained + resurrected and churn(d) = DAU(d−1) −
# retained(d) makes the four counts a closed ledger.
# --------------------------------------------------------------------------
@query(
    "user_growth_accounting",
    oracle="""
    WITH active AS (
        SELECT DISTINCT user_id, date_trunc('day', ts)::TIMESTAMP AS day
        FROM events),
    seq AS (
        SELECT user_id, day,
               lag(day)  OVER (PARTITION BY user_id ORDER BY day) AS prev,
               lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
        FROM active),
    cls AS (
        SELECT day,
               sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_new,
               sum(CASE WHEN prev = day - INTERVAL 1 DAY THEN 1 ELSE 0
                   END)::BIGINT AS n_retained,
               sum(CASE WHEN prev IS NOT NULL
                         AND prev < day - INTERVAL 1 DAY THEN 1 ELSE 0
                   END)::BIGINT AS n_resurrected
        FROM seq GROUP BY day),
    dor AS (
        SELECT day + INTERVAL 1 DAY AS day, count(*)::BIGINT AS n_dormant
        FROM seq
        WHERE (nxt IS NULL OR nxt > day + INTERVAL 1 DAY)
          AND day + INTERVAL 1 DAY <= (SELECT max(day) FROM active)
        GROUP BY 1)
    SELECT coalesce(c.day, d.day) AS day,
           coalesce(c.n_new, 0)::BIGINT         AS n_new,
           coalesce(c.n_retained, 0)::BIGINT    AS n_retained,
           coalesce(c.n_resurrected, 0)::BIGINT AS n_resurrected,
           coalesce(d.n_dormant, 0)::BIGINT     AS n_dormant,
           (CASE WHEN coalesce(d.n_dormant, 0) = 0 THEN 0
                 ELSE (coalesce(c.n_new, 0) + coalesce(c.n_resurrected, 0))
                      * 1000000 // d.n_dormant END)::BIGINT
               AS quick_ratio_ppm
    FROM cls c FULL JOIN dor d ON d.day = c.day
    ORDER BY day
    """,
)
def user_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting over the event stream: each active
    (user, day) is NEW (first day ever), RETAINED (also active the
    previous day), or RESURRECTED (returning after a gap); a user
    active on d with no activity on d+1 generates one DORMANT event
    at d+1 (clamped to the observed horizon). The quick ratio
    (new + resurrected) / dormant on a ppm grid is the
    one-number health readout: above 1e6, the product backfills its
    churn. Complements user_retention_cohorts (cohort decay curves)
    with the additive day-over-day ledger.

    Determinism: calendar arithmetic on day-truncated timestamps and
    pure integer counts; one trunc-div for the ratio; the full outer
    day spine coalesces both sides identically in both engines.

    Scale: one distinct to (user, day) grain, two user-partitioned
    sequence windows (shuffle keyed by user_id), then aggregates onto
    the SCHEMA-bounded day spine; the final full join runs on
    O(#days) rows at any SF."""
    ev = load_table(spark, sf_dir, "events")
    active = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("day")
    ).distinct()
    return growth_accounting_from_user_days(spark, active)


def growth_accounting_from_user_days(
    spark: SparkSession, active: DataFrame, pin_name: str = "growth_seq"
) -> DataFrame:
    """The ONE growth-accounting close, shared by the batch query above
    and the streaming membership-ledger readout
    (streaming/active_stream.growth_readout) — same sharing contract
    as dau_wau_mau_from_user_days. `active` must be the DISTINCT
    (user_id, day TIMESTAMP) grid. ``pin_name``: callers with a
    DIFFERENT input lineage (the streaming readout) pass their own
    name — interleaved lazy consumers sharing one app-scoped pin name
    unpersist each other's generation (ADVICE r11)."""
    w_u = Window.partitionBy("user_id").orderBy("day")
    seq = active.select(
        "user_id",
        "day",
        F.lag("day").over(w_u).alias("prev"),
        F.lead("day").over(w_u).alias("nxt"),
    )

    seq = pin(pin_name, seq, fill=False)
    cls = seq.groupBy("day").agg(
        F.sum(F.when(F.col("prev").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(
            F.when(
                F.col("prev") == F.expr("day - INTERVAL 1 DAY"), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_retained"),
        F.sum(
            F.when(
                F.col("prev").isNotNull()
                & (F.col("prev") < F.expr("day - INTERVAL 1 DAY")),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_resurrected"),
    )
    max_day = active.agg(F.max("day").alias("max_day"))
    dor = (
        seq.crossJoin(F.broadcast(max_day))
        .where(
            (
                F.col("nxt").isNull()
                | (F.col("nxt") > F.expr("day + INTERVAL 1 DAY"))
            )
            & (F.expr("day + INTERVAL 1 DAY") <= F.col("max_day"))
        )
        .select(F.expr("day + INTERVAL 1 DAY").alias("day"))
        .groupBy("day")
        .agg(F.count("*").cast("bigint").alias("n_dormant"))
    )
    joined = cls.join(dor, "day", "full").select(
        "day",
        F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        F.coalesce("n_retained", F.lit(0))
        .cast("bigint")
        .alias("n_retained"),
        F.coalesce("n_resurrected", F.lit(0))
        .cast("bigint")
        .alias("n_resurrected"),
        F.coalesce("n_dormant", F.lit(0))
        .cast("bigint")
        .alias("n_dormant"),
    )
    return joined.select(
        "*",
        F.expr(
            "cast(CASE WHEN n_dormant = 0 THEN 0"
            " ELSE (n_new + n_resurrected) * 1000000 div n_dormant"
            " END as bigint)"
        ).alias("quick_ratio_ppm"),
    ).orderBy("day")


# --------------------------------------------------------------------------
# user_rfm_segments — the RFM (Recency / Frequency / Monetary) customer
# segmentation grid: exact quintile scores per dimension and the named
# lifecycle segments ops teams act on. The CRM-side complement of
# user_growth_accounting: growth accounting counts state transitions,
# RFM names WHO is in each state and what their wallet looks like.
# --------------------------------------------------------------------------
RFM_LABEL_SQL = """CASE
    WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4 THEN 'champion'
    WHEN r_score >= 4 AND f_score <= 2 THEN 'new'
    WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
    WHEN r_score <= 2 THEN 'at_risk'
    WHEN f_score >= 4 THEN 'loyal'
    WHEN m_score >= 4 THEN 'big_spender'
    ELSE 'regular' END"""


@query(
    "user_rfm_segments",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               datediff('day', max(o_orderdate),
                        (SELECT max(o_orderdate) FROM orders))::BIGINT
                   AS recency_days,
               count(*)::BIGINT AS n_orders,
               sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
        FROM orders GROUP BY o_custkey),
    n AS (SELECT count(*)::BIGINT AS n FROM cust),
    scored AS (
        SELECT o_custkey, recency_days, n_orders, cents,
               (1 + 5 * (row_number() OVER (ORDER BY recency_days DESC,
                                            o_custkey) - 1) // n.n)::INT
                   AS r_score,
               (1 + 5 * (row_number() OVER (ORDER BY n_orders, o_custkey)
                         - 1) // n.n)::INT AS f_score,
               (1 + 5 * (row_number() OVER (ORDER BY cents, o_custkey)
                         - 1) // n.n)::INT AS m_score
        FROM cust CROSS JOIN n)
    SELECT r_score, f_score, m_score,
           {RFM_LABEL_SQL} AS segment,
           count(*)::BIGINT AS n_customers,
           sum(cents)::BIGINT AS total_cents,
           (sum(recency_days) // count(*))::BIGINT AS avg_recency_days
    FROM scored
    GROUP BY r_score, f_score, m_score
    ORDER BY r_score, f_score, m_score
    """,
)
def user_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored 1–5 on Recency (5 =
    bought most recently), Frequency, and Monetary value by EXACT
    global quintile rank (score = 1 + 5·(rank−1)//n with a custkey
    tie-break — a total order, so both engines cut identical
    quintiles), labeled with the standard lifecycle names (champion /
    loyal / big_spender / new / at_risk / hibernating / regular), and
    rolled up to the ≤125-cell (r,f,m) grid with customer counts,
    wallet totals in exact cents, and mean recency.

    Determinism: ranks are total-ordered (metric, custkey); scores,
    cent sums, and the mean's trunc-div are pure integers; the label
    CASE is evaluated in one fixed order in both engines.

    Scale: the customer rollup is one fact aggregate; each of the
    three global ranks uses the RANGE-PARTITIONED prefix scaffold
    (prefix.global_prefix — per-partition row_numbers + broadcast
    exclusive offsets), NOT a single-partition global window, so
    quintile cutting survives an SF-linear customer table; the close
    is a ≤125-row aggregate."""

    orders = load_table(spark, sf_dir, "orders")
    mx = orders.agg(F.max("o_orderdate").alias("mxd"))
    cust = (
        orders.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey")
        .agg(
            F.datediff(F.max("mxd"), F.max("o_orderdate"))
            .cast("bigint")
            .alias("recency_days"),
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("bigint")
            .alias("cents"),
        )
    )
    specs = [
        ("r_score", [F.desc("recency_days"), F.col("o_custkey")]),
        ("f_score", [F.col("n_orders"), F.col("o_custkey")]),
        ("m_score", [F.col("cents"), F.col("o_custkey")]),
    ]
    base = cust
    push_lock = threading.Lock()

    def rank_pass(spec):
        name, order_cols = spec
        # entered in the pool thread (its scaffold collect runs there);
        # its exit joins the shared stack under a lock
        scaffold = global_prefix(spark, base, order_cols)
        aug, totals = scaffold.__enter__()
        with push_lock:
            scaffolds.push(scaffold)
        n = totals["n"]
        scored = aug.select(
            "o_custkey",
            F.expr(f"cast(1 + 5 * (rk - 1) div {n} as int)").alias(name),
        )
        return name, scored

    # The three rank passes are independent scaffold builds (each runs
    # its own range-sampling + per-partition-offsets collect): submit
    # them concurrently (guide §2.6). Ranks over a total order are
    # partition-invariant, so the scores are identical to the
    # sequential build's. All three scaffold caches live until the
    # final collect below and are dropped on exit, exception included.
    from concurrent.futures import ThreadPoolExecutor

    with ExitStack() as scaffolds:
        with ThreadPoolExecutor(max_workers=len(specs)) as pool:
            scores = dict(pool.map(rank_pass, specs))
        joined = (
            cust.join(scores["r_score"], "o_custkey")
            .join(scores["f_score"], "o_custkey")
            .join(scores["m_score"], "o_custkey")
        )
        out = (
            joined.groupBy("r_score", "f_score", "m_score")
            .agg(
                F.count("*").cast("bigint").alias("n_customers"),
                F.sum("cents").cast("bigint").alias("total_cents"),
                F.expr(
                    "cast(sum(recency_days) div count(*) as bigint)"
                ).alias("avg_recency_days"),
            )
            .select(
                "r_score",
                "f_score",
                "m_score",
                F.expr(RFM_LABEL_SQL).alias("segment"),
                "n_customers",
                "total_cents",
                "avg_recency_days",
            )
            .orderBy("r_score", "f_score", "m_score")
        )
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# error_rate_pchart — SPC p-chart over the daily error share of the
# event stream. daily_order_cusum finds LEVEL shifts in volume; the
# p-chart asks the proportion question — is today's error RATE outside
# the 3σ binomial band around the process average? The alarm an SRE
# pipeline wants from its event firehose, in exact integers.
# --------------------------------------------------------------------------
@query(
    "error_rate_pchart",
    oracle="""
    WITH daily AS (
        SELECT date_trunc('day', ts)::TIMESTAMP AS day,
               count(*)::BIGINT AS n_events,
               sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0
                   END)::BIGINT AS n_errors
        FROM events GROUP BY 1),
    tot AS (SELECT sum(n_events)::BIGINT AS nn,
                   sum(n_errors)::BIGINT AS ee FROM daily),
    j AS (
        SELECT d.day, d.n_events, d.n_errors, t.nn, t.ee,
               (d.n_errors::HUGEINT * t.nn - t.ee::HUGEINT * d.n_events)
                   AS dev
        FROM daily d CROSS JOIN tot t)
    SELECT day, n_events, n_errors,
           (n_errors * 1000000 // n_events)::BIGINT AS rate_ppm,
           (ee * 1000000 // nn)::BIGINT AS center_ppm,
           CASE WHEN dev * dev > 9::HUGEINT * ee * (nn - ee) * n_events
                THEN CASE WHEN dev > 0 THEN 1 ELSE -1 END
                ELSE 0 END AS ooc
    FROM j
    ORDER BY day
    """,
)
def error_rate_pchart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p-chart on the daily error share: each day's error proportion
    against the 3σ binomial control band around the process average
    p̄ = E/N. The out-of-control test |p_d − p̄| > 3·√(p̄(1−p̄)/n_d)
    is squared and cross-multiplied into the pure-integer inequality
    (x_d·N − E·n_d)² > 9·E·(N−E)·n_d, signed +1/−1 for
    an error spike vs an error drought (a drought can mean the
    error-reporting path itself broke — both directions are alarms).

    Integer envelope: dev = x_d·N − E·n_d is |dev| ≤ n_d·N, so dev²
    fits decimal(38,0) only while n_d·N < ~1.3e19 (DuckDB's HUGEINT
    has the same ~38-digit ceiling) — comfortably past any daily
    slice of the tested corpora, but NOT unconditional at 10¹² +
    events/day. Beyond it Spark's non-ANSI decimal yields NULL; the
    CASE propagates that NULL into ooc explicitly (an UNKNOWN alarm),
    never a silent in-control 0, while DuckDB errors loudly.

    Determinism: integer counts, one cross-multiplied 128-bit
    comparison, two trunc-div ppm readouts. No sqrt, no float.

    Scale: one (day × is-error) aggregate over the stream; the
    control test runs on the SCHEMA-bounded day spine against a 1-row
    broadcast total."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_errors"),
    )
    return pchart_from_daily(spark, daily)


def pchart_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """The ONE p-chart close, shared by the batch query above and the
    streaming additive day-ledger readout
    (streaming/pchart_stream.pchart_readout) — the
    growth_accounting_from_user_days sharing contract. `daily` must
    carry (day TIMESTAMP, n_events BIGINT, n_errors BIGINT)."""
    tot = daily.agg(
        F.sum("n_events").cast("bigint").alias("nn"),
        F.sum("n_errors").cast("bigint").alias("ee"),
    )
    return (
        daily.crossJoin(F.broadcast(tot))
        .select(
            "day",
            "n_events",
            "n_errors",
            F.expr(
                "cast(n_errors * 1000000 div n_events as bigint)"
            ).alias("rate_ppm"),
            F.expr("cast(ee * 1000000 div nn as bigint)").alias(
                "center_ppm"
            ),
            F.expr(
                # dev² may overflow decimal(38,0) past n_d·N ~ 1.3e19
                # (Spark non-ANSI → NULL); surface that as a NULL ooc
                # (alarm state unknown), never as a silent ELSE 0
                "CASE WHEN (cast(n_errors as decimal(38,0)) * nn"
                "          - cast(ee as decimal(38,0)) * n_events)"
                "        * (cast(n_errors as decimal(38,0)) * nn"
                "          - cast(ee as decimal(38,0)) * n_events)"
                "       IS NULL"
                " THEN cast(NULL as int)"
                " WHEN (cast(n_errors as decimal(38,0)) * nn"
                "          - cast(ee as decimal(38,0)) * n_events)"
                "        * (cast(n_errors as decimal(38,0)) * nn"
                "          - cast(ee as decimal(38,0)) * n_events)"
                "     > cast(9 as decimal(38,0)) * ee * (nn - ee)"
                "       * n_events"
                " THEN CASE WHEN cast(n_errors as decimal(38,0)) * nn"
                "              > cast(ee as decimal(38,0)) * n_events"
                "           THEN 1 ELSE -1 END"
                " ELSE 0 END"
            ).alias("ooc"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# part_abc_xyz_classes — the ABC × XYZ inventory segmentation matrix:
# ABC classes parts by cumulative revenue share (A = the head that
# earns 80%, B to 95%, C the tail) and XYZ by demand VARIABILITY
# (QUARTERLY-demand coefficient of variation — quarterly because the
# per-part demand is sparse at finer grains, where CV degenerates to
# "everything is Z": X steady, Y variable, Z erratic). The cross matrix is the supply-chain planning primitive —
# AX items get tight auto-replenishment, CZ items get make-to-order —
# and neither axis alone supports that decision.
# --------------------------------------------------------------------------
@query(
    "part_abc_xyz_classes",
    oracle="""
    WITH line AS (
        SELECT l_partkey,
               round(l_extendedprice * (1 - l_discount) * 100)::BIGINT
                   AS cents,
               round(l_quantity)::BIGINT AS qty,
               date_trunc('quarter', l_shipdate)::TIMESTAMP AS qtr
        FROM lineitem),
    wk AS (SELECT count(DISTINCT qtr)::BIGINT AS w FROM line),
    pw AS (
        SELECT l_partkey, qtr, sum(qty)::BIGINT AS q
        FROM line GROUP BY 1, 2),
    per_part AS (
        SELECT p.l_partkey, r.cents, p.s, p.s2
        FROM (SELECT l_partkey, sum(q)::BIGINT AS s,
                     sum(q * q)::BIGINT AS s2
              FROM pw GROUP BY 1) p
        JOIN (SELECT l_partkey, sum(cents)::BIGINT AS cents
              FROM line GROUP BY 1) r ON r.l_partkey = p.l_partkey),
    ranked AS (
        SELECT l_partkey, cents, s, s2,
               sum(cents) OVER (ORDER BY cents DESC, l_partkey)
                   ::BIGINT AS cum,
               (SELECT sum(cents)::BIGINT FROM per_part) AS tot
        FROM per_part),
    classed AS (
        SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                    WHEN cum * 20 <= tot * 19 THEN 'B'
                    ELSE 'C' END AS abc,
               CASE WHEN 4 * (wk.w::HUGEINT * s2 - s::HUGEINT * s)
                         <= s::HUGEINT * s THEN 'X'
                    WHEN (wk.w::HUGEINT * s2 - s::HUGEINT * s)
                         <= s::HUGEINT * s THEN 'Y'
                    ELSE 'Z' END AS xyz,
               cents, s
        FROM ranked CROSS JOIN wk)
    SELECT abc, xyz, count(*)::BIGINT AS n_parts,
           sum(cents)::BIGINT AS revenue_cents,
           sum(s)::BIGINT AS total_qty
    FROM classed
    GROUP BY abc, xyz
    ORDER BY abc, xyz
    """,
)
def part_abc_xyz_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC × XYZ part segmentation: ABC from the EXACT cumulative
    revenue rank (A while cum ≤ 80% of total — the integer inequality
    cum·5 ≤ tot·4 — B to 95% via cum·20 ≤ tot·19, else C), XYZ from
    the quarterly-demand CV on the global quarter spine (zero-demand
    quarters count: Var·W² = W·Σq²−S² over ALL W quarters), classed by the exact
    inequalities 4·(W·Σq²−S²) ≤ S² (CV ≤ ½ → X) and W·Σq²−S² ≤ S²
    (CV ≤ 1 → Y), 128-bit-safe. Rolled up to the ≤9-cell matrix with
    part counts, revenue, and quantity mass.

    Determinism: exact per-line cents (the discounted-revenue idiom),
    integer quantity moments, total-ordered cumulative rank
    (cents DESC, partkey), and pure integer class inequalities.

    Scale: one line-grain pass to (part, quarter) then part grain; the
    cumulative revenue rank uses the RANGE-PARTITIONED prefix
    scaffold, not a single-partition window, so the ABC cut survives
    an SF-linear part table; the close is a ≤9-row aggregate."""

    line = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "cast(round(l_extendedprice * (1 - l_discount) * 100)"
            " as bigint)"
        ).alias("cents"),
        F.expr("cast(round(l_quantity) as bigint)").alias("qty"),
        F.date_trunc("quarter", "l_shipdate").alias("qtr"),
    )
    wk = line.agg(F.countDistinct("qtr").cast("bigint").alias("w"))
    pw = line.groupBy("l_partkey", "qtr").agg(
        F.sum("qty").cast("bigint").alias("q")
    )
    moments = pw.groupBy("l_partkey").agg(
        F.sum("q").cast("bigint").alias("s"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("s2"),
    )
    rev = line.groupBy("l_partkey").agg(
        F.sum("cents").cast("bigint").alias("cents")
    )
    per_part = moments.join(rev, "l_partkey")
    with global_prefix(
        spark,
        per_part,
        [F.desc("cents"), F.col("l_partkey")],
        cum_cols=["cents"],
    ) as (aug, totals):
        tot = totals["cents"]
        classed = aug.crossJoin(F.broadcast(wk)).select(
            F.expr(
                # decimal(38,0) operands: cum·20 (and the interpolated total
                # itself) must not rely on bigint headroom — corpus revenue
                # cents can approach 2⁶³/20 long before 100 TB
                f"CASE WHEN cast(cum_cents as decimal(38,0)) * 5"
                f"          <= cast({tot} as decimal(38,0)) * 4 THEN 'A'"
                f" WHEN cast(cum_cents as decimal(38,0)) * 20"
                f"      <= cast({tot} as decimal(38,0)) * 19 THEN 'B'"
                f" ELSE 'C' END"
            ).alias("abc"),
            F.expr(
                "CASE WHEN 4 * (cast(w as decimal(38,0)) * s2"
                "              - cast(s as decimal(38,0)) * s)"
                "          <= cast(s as decimal(38,0)) * s THEN 'X'"
                " WHEN (cast(w as decimal(38,0)) * s2"
                "       - cast(s as decimal(38,0)) * s)"
                "      <= cast(s as decimal(38,0)) * s THEN 'Y'"
                " ELSE 'Z' END"
            ).alias("xyz"),
            "cents",
            "s",
        )
        out = (
            classed.groupBy("abc", "xyz")
            .agg(
                F.count("*").cast("bigint").alias("n_parts"),
                F.sum("cents").cast("bigint").alias("revenue_cents"),
                F.sum("s").cast("bigint").alias("total_qty"),
            )
            .orderBy("abc", "xyz")
        )
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# purchase_survival_km — Kaplan–Meier estimate of the inter-purchase
# interval WITH right censoring. customer_reorder_cycle reports gap
# quantiles over completed gaps only — which biases short, because the
# not-yet-repurchased (the open intervals at the horizon) are exactly
# the long gaps. KM is the standard fix: every last purchase
# contributes a CENSORED observation, and the survival curve weighs
# both. Emitted as ln S(t) on the nano grid (the product of rationals
# becomes a sum of single-rounded ln terms — order-independent and
# engine-exact).
# --------------------------------------------------------------------------
@query(
    "purchase_survival_km",
    oracle="""
    WITH p AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id
        FROM events WHERE event_type = 'purchase'),
    horizon AS (SELECT max(ts::TIMESTAMP) AS h FROM events),
    seq AS (
        SELECT user_id, ts, event_id,
               lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS nxt
        FROM p),
    obs AS (
        SELECT CASE WHEN nxt IS NOT NULL
                    THEN (epoch_us(nxt) - epoch_us(ts)) // 86400000000
                    ELSE (epoch_us(h.h) - epoch_us(ts)) // 86400000000
               END::BIGINT AS t_days,
               CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS event
        FROM seq CROSS JOIN horizon h),
    spine AS (
        SELECT t_days,
               sum(event)::BIGINT AS n_events,
               sum(1 - event)::BIGINT AS n_censored
        FROM obs GROUP BY t_days),
    risk AS (
        SELECT t_days, n_events, n_censored,
               sum(n_events + n_censored) OVER (ORDER BY t_days DESC)
                   ::BIGINT AS n_risk
        FROM spine),
    terms AS (
        SELECT t_days, n_events, n_censored, n_risk,
               CASE WHEN n_events = 0 THEN 0
                    WHEN n_risk > n_events
                    THEN CAST(round(ln(n_risk - n_events) * 1000000000)
                              AS BIGINT)
                         - CAST(round(ln(n_risk) * 1000000000) AS BIGINT)
                    ELSE NULL END AS term_nano
        FROM risk)
    SELECT t_days, n_risk, n_events, n_censored,
           (CASE WHEN count(term_nano) OVER w = count(*) OVER w
                 THEN sum(term_nano) OVER w ELSE NULL END)::BIGINT
               AS ln_surv_nano
    FROM terms
    WINDOW w AS (ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY t_days
    """,
)
def purchase_survival_km(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival of the inter-purchase interval in days:
    consecutive purchases yield EVENT observations (the completed
    gap), each user's last purchase yields a CENSORED observation at
    the stream horizon. Per distinct day t: the risk set (suffix sum),
    events, censorings, and ln S(t) = Σ_{t'≤t} [ln(n−d) − ln(n)] with
    each ln a SINGLE nano-grid rounding of an integer count (the
    keyness contract) — NULL from the first time the risk set is
    wholly consumed by events (S = 0, ln undefined), identically in
    both engines.

    Determinism: integer-µs gap arithmetic with trunc-div days;
    integer counts; the only floats are count-valued ln calls rounded
    once each; the cumulative close is an integer window sum.

    Scale: one user-keyed sequence window over the purchase slice
    (filter pushed to the scan), one aggregate to the day spine —
    HORIZON-bounded, so the suffix-sum and cumulative windows run on
    a frame that fits one partition at any SF."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    horizon = ev.agg(F.max("ts").alias("h"))
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = p.select(
        "user_id", "ts", F.lead("ts").over(w_u).alias("nxt")
    )
    obs = seq.crossJoin(F.broadcast(horizon)).select(
        F.expr(
            "cast(CASE WHEN nxt IS NOT NULL"
            " THEN (unix_micros(nxt) - unix_micros(ts)) div 86400000000"
            " ELSE (unix_micros(h) - unix_micros(ts)) div 86400000000"
            " END as bigint)"
        ).alias("t_days"),
        F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("event"),
    )
    spine = obs.groupBy("t_days").agg(
        F.sum("event").cast("bigint").alias("n_events"),
        F.sum(1 - F.col("event")).cast("bigint").alias("n_censored"),
    )

    spine = pin("km_spine", spine, fill=False)
    w_desc = Window.orderBy(F.desc("t_days")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = spine.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored"))
        .over(w_desc)
        .cast("bigint"),
    )
    terms = risk.withColumn(
        "term_nano",
        F.when(F.col("n_events") == 0, F.lit(0).cast("bigint")).otherwise(
            F.when(
                F.col("n_risk") > F.col("n_events"),
                F.round(
                    F.log(F.col("n_risk") - F.col("n_events"))
                    * 1000000000,
                    0,
                ).cast("bigint")
                - F.round(F.log("n_risk") * 1000000000, 0).cast("bigint"),
            )
        ),
    )
    w_run = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        "t_days",
        "n_risk",
        "n_events",
        "n_censored",
        F.when(
            F.count("term_nano").over(w_run) == F.count("*").over(w_run),
            F.sum("term_nano").over(w_run),
        )
        .cast("bigint")
        .alias("ln_surv_nano"),
    ).orderBy("t_days")


# --------------------------------------------------------------------------
# nation_supplier_hhi — Herfindahl–Hirschman supplier-concentration
# index per nation. brand_market_coverage asks where a brand sells;
# HHI asks the procurement-risk question — within each nation, is
# supply revenue spread across many suppliers or captive to one?
# Σ share² in exact integers, with the antitrust-convention bands.
# --------------------------------------------------------------------------
@query(
    "nation_supplier_hhi",
    oracle="""
    WITH s AS (
        SELECT n.n_name AS nation, l.l_suppkey,
               sum(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                   ::BIGINT)::BIGINT AS cents
        FROM lineitem l
        JOIN supplier su ON su.s_suppkey = l.l_suppkey
        JOIN nation n ON n.n_nationkey = su.s_nationkey
        GROUP BY 1, 2),
    per AS (
        SELECT nation,
               count(*)::BIGINT AS n_suppliers,
               sum(cents)::BIGINT AS t,
               sum(cents::HUGEINT * cents) AS sq,
               max(cents)::BIGINT AS mx
        FROM s GROUP BY nation)
    SELECT nation, n_suppliers,
           t AS revenue_cents,
           (sq * 1000000 // (t::HUGEINT * t))::BIGINT AS hhi_ppm,
           (mx * 1000000 // t)::BIGINT AS top_share_ppm,
           CASE WHEN sq * 1000000 // (t::HUGEINT * t) < 150000
                THEN 'competitive'
                WHEN sq * 1000000 // (t::HUGEINT * t) < 250000
                THEN 'moderate'
                ELSE 'concentrated' END AS band
    FROM per
    ORDER BY nation
    """,
)
def nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-concentration HHI per nation: each supplier's share of
    the nation's discounted line revenue, squared and summed —
    HHI·10⁶ = 10⁶·Σc²/T² as one 128-bit-safe integer division — with
    the top-supplier share and the antitrust bands (HHI < 0.15
    competitive, < 0.25 moderate, else concentrated: the DOJ 1500 /
    2500 thresholds on the ppm grid). The single-point-of-failure
    screen a procurement pipeline runs before committing volume.

    Determinism: exact per-line cents (the discounted-revenue idiom),
    128-bit squared sums, trunc-div ppm, integer band cuts.

    Scale: one fact pass with two unhinted dim joins (supplier is
    SF-linear — AQE picks the strategy; nation is schema-bounded) to
    (nation, supplier) grain, then a ≤|nations|-row close."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        F.expr(
            "cast(round(l_extendedprice * (1 - l_discount) * 100)"
            " as bigint)"
        ).alias("cents"),
    )
    sup = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nationkey"),
        F.col("n_name").alias("nation"),
    )
    s = (
        li.join(sup, "l_suppkey")
        .join(F.broadcast(nat), "s_nationkey")
        .groupBy("nation", "l_suppkey")
        .agg(F.sum("cents").cast("bigint").alias("cents"))
    )
    per = s.groupBy("nation").agg(
        F.count("*").cast("bigint").alias("n_suppliers"),
        F.sum("cents").cast("bigint").alias("t"),
        F.sum(F.expr("cast(cents as decimal(38,0)) * cents")).alias("sq"),
        F.max("cents").cast("bigint").alias("mx"),
    )
    return per.select(
        "nation",
        "n_suppliers",
        F.col("t").alias("revenue_cents"),
        F.expr(
            "cast(sq * 1000000 div (cast(t as decimal(38,0)) * t)"
            " as bigint)"
        ).alias("hhi_ppm"),
        F.expr("cast(mx * 1000000 div t as bigint)").alias(
            "top_share_ppm"
        ),
        F.expr(
            "CASE WHEN sq * 1000000 div (cast(t as decimal(38,0)) * t)"
            " < 150000 THEN 'competitive'"
            " WHEN sq * 1000000 div (cast(t as decimal(38,0)) * t)"
            " < 250000 THEN 'moderate'"
            " ELSE 'concentrated' END"
        ).alias("band"),
    ).orderBy("nation")


# --------------------------------------------------------------------------
# markov_entropy_rate — how PREDICTABLE is the event stream? The
# transition matrix gives the model; this scores it: conditional
# entropy H(next | prev) per state and the empirical entropy rate
# Σ π_i·H_i. Low rate = sessions follow rails (prefetchable, cacheable,
# compressible); a rate drifting up is new behavior arriving — the
# information-theoretic twin of next_event_prediction_hitrate.
# --------------------------------------------------------------------------
@query(
    "markov_entropy_rate",
    oracle="""
    WITH seq AS (
        SELECT event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS next_type
        FROM events),
    c AS (SELECT event_type, next_type, count(*)::BIGINT AS c
          FROM seq WHERE next_type IS NOT NULL GROUP BY 1, 2),
    r AS (SELECT event_type, sum(c)::BIGINT AS r,
                 sum(c * CAST(round(ln(c) * 1000000000) AS BIGINT))
                     ::BIGINT AS sclnc
          FROM c GROUP BY event_type),
    h AS (
        SELECT event_type, r AS n_out,
               (CAST(round(ln(r) * 1000000000) AS BIGINT)
                - sclnc // r)::BIGINT AS h_cond_nano
        FROM r)
    SELECT event_type, n_out, h_cond_nano,
           (SELECT (sum(n_out::HUGEINT * h_cond_nano)
                    // sum(n_out))::BIGINT FROM h) AS entropy_rate_nano
    FROM h
    ORDER BY event_type
    """,
)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional next-event entropy per previous state, H(next|prev=i)
    = ln(r_i) − (Σ_j c_ij·ln c_ij)/r_i in nano-nats (the
    doc_char_entropy identity — every ln is a SINGLE nano-grid
    rounding of an integer count, the weighted sum and trunc-div are
    exact), plus the empirical entropy rate Σ (r_i/N)·H_i folded as
    one 128-bit-safe integer division. ln(5) ≈ 1.609e9 nano is the
    ceiling; the gap to it is the stream's predictability — the
    number that decides whether a next-event prefetcher
    (next_event_prediction_hitrate's consumer) is worth shipping.

    Determinism: integer transition counts; count-valued lns rounded
    once each; integer close.

    Scale: the user-keyed lead window (the sessionize shuffle), a
    |types|²-bounded aggregate, and a ≤|types|-row close."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).where(F.col("next_type").isNotNull())
    c = seq.groupBy("event_type", "next_type").agg(
        F.count("*").cast("bigint").alias("c")
    )
    r = c.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("r"),
        F.sum(
            F.col("c")
            * F.round(F.log("c") * 1000000000, 0).cast("bigint")
        )
        .cast("bigint")
        .alias("sclnc"),
    )
    h = r.select(
        "event_type",
        F.col("r").alias("n_out"),
        (
            F.round(F.log("r") * 1000000000, 0).cast("bigint")
            - F.expr("sclnc div r")
        )
        .cast("bigint")
        .alias("h_cond_nano"),
    )

    h = pin("markov_h", h, fill=False)
    rate = h.agg(
        F.expr(
            "cast(sum(cast(n_out as decimal(38,0)) * h_cond_nano)"
            " div sum(n_out) as bigint)"
        ).alias("entropy_rate_nano")
    )
    return (
        h.crossJoin(F.broadcast(rate))
        .select("event_type", "n_out", "h_cond_nano", "entropy_rate_nano")
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# user_event_gini — inequality of engagement: the Gini coefficient of
# per-user event counts, with the Lorenz tail shares. "DAU is up" can
# mean broad engagement or three whales; Gini is the one-number
# disambiguation (0 = everyone equal, →1 = all activity in one user),
# the same readout quality_token_lorenz gives the curation budget,
# pointed at users. Exact integers on the rank formula
# G = (2·Σ i·x_(i) − (n+1)·ΣX) / (n·ΣX).
# --------------------------------------------------------------------------
@query(
    "user_event_gini",
    oracle="""
    WITH u AS (
        SELECT user_id, count(*)::BIGINT AS x
        FROM events GROUP BY user_id),
    rk AS (
        SELECT x,
               row_number() OVER (ORDER BY x, user_id) AS i,
               count(*) OVER ()::BIGINT AS n,
               sum(x) OVER ()::BIGINT AS t
        FROM u),
    g AS (
        SELECT max(n)::BIGINT AS n_users, max(t)::BIGINT AS total_events,
               ((2 * sum(i::HUGEINT * x) - (max(n) + 1)::HUGEINT * max(t))
                * 1000000 // (max(n)::HUGEINT * max(t)))::BIGINT
                   AS gini_ppm,
               (sum(CASE WHEN i * 10 > n * 9 THEN x ELSE 0 END)
                * 1000000 // max(t))::BIGINT AS top_decile_share_ppm,
               (sum(CASE WHEN i * 100 > n * 99 THEN x ELSE 0 END)
                * 1000000 // max(t))::BIGINT AS top_centile_share_ppm
        FROM rk)
    SELECT n_users, total_events, gini_ppm,
           top_decile_share_ppm, top_centile_share_ppm
    FROM g
    """,
)
def user_event_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-inequality summary: Gini coefficient of per-user
    event counts via the exact rank identity
    G = (2·Σ i·x_(i) − (n+1)·ΣX)/(n·ΣX) (ranks total-ordered by
    (count, user_id)), plus the top-10% and top-1% activity shares
    (the whale readout). All integer: rank products sum in 128-bit,
    one trunc-div onto the ppm grid per statistic.

    Determinism: total-ordered ranks, exact integer products, three
    trunc-divs.

    Scale: one user-grain aggregate, then the global rank rides the
    RANGE-PARTITIONED prefix scaffold (not a single-partition
    window); the close folds per-partition partial sums — O(users)
    work, O(parts) driver state."""

    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("x"))
    with global_prefix(
        spark, u, [F.col("x"), F.col("user_id")]
    ) as (aug, totals):
        n = totals["n"]
        sums = aug.select(
            F.sum(F.expr("cast(rk as decimal(38,0)) * x")).alias("six"),
            F.sum("x").cast("bigint").alias("t"),
            F.sum(
                F.when(F.col("rk") * 10 > F.lit(n) * 9, F.col("x")).otherwise(0)
            )
            .cast("bigint")
            .alias("top10"),
            F.sum(
                F.when(F.col("rk") * 100 > F.lit(n) * 99, F.col("x")).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("top1"),
        )
        row = sums.collect()[0]
    six, t, top10, top1 = int(row.six), int(row.t), int(row.top10), int(
        row.top1
    )
    gini_ppm = (2 * six - (n + 1) * t) * 1000000 // (n * t)
    out = [(
        n,
        t,
        gini_ppm,
        top10 * 1000000 // t,
        top1 * 1000000 // t,
    )]
    return spark.createDataFrame(
        out,
        "n_users BIGINT, total_events BIGINT, gini_ppm BIGINT,"
        " top_decile_share_ppm BIGINT, top_centile_share_ppm BIGINT",
    )


# --------------------------------------------------------------------------
# orders_backlog_depth — the open-order BACKLOG curve: how many orders
# are placed but not yet fully shipped, per day. Order counts say how
# fast work arrives; shipping_delay_quantiles says how long one order
# waits; the backlog is the QUEUE DEPTH those two imply — the
# capacity-planning readout (Little's law: L = λW) and the earliest
# structural signal of a fulfilment stall. Interval-stabbing via the
# +1/−1 sweep, not a per-day interval join.
# --------------------------------------------------------------------------
@query(
    "orders_backlog_depth",
    oracle="""
    WITH span AS (
        SELECT o.o_orderkey,
               date_trunc('day', o.o_orderdate)::TIMESTAMP AS open_day,
               date_trunc('day', max(l.l_shipdate))::TIMESTAMP
                   + INTERVAL 1 DAY AS close_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_orderdate),
    delta AS (
        SELECT open_day AS day, 1 AS d FROM span
        UNION ALL
        SELECT close_day AS day, -1 AS d FROM span),
    daily AS (
        SELECT day,
               sum(CASE WHEN d = 1 THEN 1 ELSE 0 END)::BIGINT AS n_opened,
               sum(CASE WHEN d = -1 THEN 1 ELSE 0 END)::BIGINT
                   AS n_closed,
               sum(sum(d)) OVER (ORDER BY day)::BIGINT AS backlog
        FROM delta GROUP BY day)
    SELECT day, n_opened, n_closed, backlog,
           CASE WHEN row_number() OVER (ORDER BY backlog DESC, day) = 1
                THEN 1 ELSE 0 END AS is_peak
    FROM daily
    ORDER BY day
    """,
)
def orders_backlog_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: each order holds a slot from its
    order day through the day its LAST line ships (close event at
    ship+1 so the shipping day still counts as open), and the curve
    is the running sum of +1/−1 events — the interval-stabbing sweep,
    so no per-day interval join ever materializes. Emits per day the
    openings, the closings, the depth, and the all-time peak flag
    (ties → earliest day).

    Determinism: calendar-truncated integer events, one running
    integer sum, a rank tie-broken by day.

    Scale: one orderkey-keyed aggregate finds each order's last ship
    day (the natural fact-fact shuffle), the sweep deltas are
    map-side, and the running sum executes on the SCHEMA-bounded day
    spine — the orders_monthly_trend single-partition exemption."""
    span = order_spans(spark, sf_dir)

    span = pin("backlog_span", span, fill=False)
    delta = span.select(
        F.col("open_day").alias("day"), F.lit(1).alias("d")
    ).unionAll(
        span.select(F.col("close_day").alias("day"), F.lit(-1).alias("d"))
    )
    daily = delta.groupBy("day").agg(
        F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_opened"),
        F.sum(F.when(F.col("d") == -1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_closed"),
    )
    return backlog_from_daily(spark, daily)


def order_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order open interval (o_orderkey, open_day, close_day): open
    at the order day, closed the day AFTER the last line ships (the
    shipping day still counts as open).  Shared by the batch sweep
    above and the streaming twin's parity test (the stream's input
    contract is exactly these resolved spans)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.date_trunc("day", "o_orderdate").alias("open_day")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_shipdate"
    )
    return (
        orders.join(li, "o_orderkey")
        .groupBy("o_orderkey", "open_day")
        .agg(
            F.expr(
                "date_trunc('day', max(l_shipdate)) + INTERVAL 1 DAY"
            ).alias("close_day")
        )
    )


def backlog_from_daily(spark: SparkSession, daily: DataFrame) -> DataFrame:
    """The ONE backlog close, shared by the batch orders_backlog_depth
    and the streaming additive day-ledger readout
    (streaming/backlog_stream.backlog_readout) — the pchart_from_daily
    sharing contract.  `daily` must carry (day TIMESTAMP,
    n_opened BIGINT, n_closed BIGINT), one row per active day; the
    running sum and the peak rank execute on that SCHEMA-bounded day
    spine — the orders_monthly_trend single-partition exemption."""
    w_run = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    curve = daily.withColumn(
        "backlog",
        F.sum(F.col("n_opened") - F.col("n_closed")).over(w_run).cast("bigint"),
    )
    w_peak = Window.orderBy(F.desc("backlog"), "day")
    return (
        curve.withColumn(
            "is_peak",
            F.when(F.row_number().over(w_peak) == 1, 1).otherwise(0),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# order_flow_littles_law — the L = λ·W queueing readout over the order
# pipeline. orders_backlog_depth draws the depth CURVE; this distills
# it to the three numbers a capacity planner quotes: time-averaged
# open-order depth L, arrival rate λ, and mean days-open W — computed
# INDEPENDENTLY from the same spans, so the pair (avg_depth_ppm,
# lambda_x_w_ppm) doubles as a pipeline-consistency audit (they agree
# up to ppm truncation by Little's identity).
# --------------------------------------------------------------------------
@query(
    "order_flow_littles_law",
    oracle="""
    WITH span AS (
        SELECT o.o_orderkey,
               date_trunc('day', min(o.o_orderdate)) AS open_day,
               date_trunc('day', max(l.l_shipdate)) + INTERVAL 1 DAY
                   AS close_day
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1),
    agg AS (
        SELECT count(*)::BIGINT AS n_orders,
               sum(datediff('day', open_day, close_day))::BIGINT
                   AS open_days,
               datediff('day', min(open_day), max(close_day))::BIGINT
                   AS span_days
        FROM span)
    SELECT n_orders, open_days, span_days,
           (open_days::HUGEINT * 1000000 // span_days)::BIGINT
               AS avg_depth_ppm,
           (n_orders::HUGEINT * 1000000 // span_days)::BIGINT
               AS arrivals_per_day_ppm,
           (open_days::HUGEINT * 1000000 // n_orders)::BIGINT
               AS avg_days_open_ppm
    FROM agg
    """,
)
def order_flow_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's-law summary of the order pipeline: every order holds a
    slot from its order day until the day after its last line ships;
    over the full calendar span, L (mean open orders per day) =
    Σ durations / span, λ = orders / span, W = Σ durations / orders —
    three trunc-div ppm readouts from ONE exact integer triple
    (n_orders, Σ open-days, span days). L = λ·W holds exactly in the
    rationals, so the emitted ppms agree up to truncation — a free
    consistency audit against the backlog sweep.

    Determinism: calendar-truncated integer day arithmetic and three
    trunc-divs on decimal(38,0)/HUGEINT (Σ open-days · 10⁶ outruns
    bigint near 10¹² orders).

    Scale: one orderkey-keyed aggregate (the natural fact-fact
    shuffle) then ONE map-combinable global aggregate to a single
    row. No windows, no joins after the span build."""
    span = order_spans(spark, sf_dir)
    agg = span.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(F.datediff(F.to_date("close_day"), F.to_date("open_day")))
        .cast("bigint")
        .alias("open_days"),
        F.datediff(F.to_date(F.max("close_day")), F.to_date(F.min("open_day")))
        .cast("bigint")
        .alias("span_days"),
    )
    dec = "cast({} as decimal(38,0))"
    return agg.select(
        "n_orders",
        "open_days",
        "span_days",
        F.expr(
            f"cast({dec.format('open_days')} * 1000000 div span_days as bigint)"
        ).alias("avg_depth_ppm"),
        F.expr(
            f"cast({dec.format('n_orders')} * 1000000 div span_days as bigint)"
        ).alias("arrivals_per_day_ppm"),
        F.expr(
            f"cast({dec.format('open_days')} * 1000000 div n_orders as bigint)"
        ).alias("avg_days_open_ppm"),
    )


# --------------------------------------------------------------------------
# nation_trade_matrix — the 25×25 customer-nation × supplier-nation
# revenue flow matrix. q7 reports two nations' bilateral volume; the
# matrix is the full trade table an economist (or a supply-chain
# rebalancer) reads, with each flow's share of its customer-nation row.
# --------------------------------------------------------------------------
@query(
    "nation_trade_matrix",
    oracle="""
    WITH f AS (
        SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
               round(l.l_extendedprice * (1 - l.l_discount) * 100)
                   ::BIGINT AS cents
        FROM lineitem l
        JOIN orders o   ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN nation sn  ON sn.n_nationkey = s.s_nationkey),
    m AS (
        SELECT cust_nation, supp_nation, count(*)::BIGINT AS n_lines,
               sum(cents)::BIGINT AS revenue_cents
        FROM f GROUP BY 1, 2)
    SELECT cust_nation, supp_nation, n_lines, revenue_cents,
           (revenue_cents::HUGEINT * 1000000 //
            sum(revenue_cents) OVER (PARTITION BY cust_nation))::BIGINT
               AS row_share_ppm
    FROM m ORDER BY cust_nation, supp_nation
    """,
)
def nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full nation-to-nation revenue flow matrix in exact cents, with
    each cell's ppm share of its customer-nation row — who each
    nation's customers buy from, normalized. The ≤625-cell superset
    of q7's two-nation slice.

    Determinism: exact per-line cents; integer trunc-div shares on
    decimal(38,0)/HUGEINT (row totals · 10⁶ outrun bigint at corpus
    revenue ≈ 10¹³ dollars).

    Scale: ONE fact pass; nation joins broadcast (schema-bounded, 25
    rows); the customer/supplier joins stay unhinted (SF-linear — AQE
    broadcasts the 2-column projections while they fit); the share
    window partitions by cust_nation over the ≤625-row aggregate."""
    f = attributed_trade_lines(spark, sf_dir)
    m = f.groupBy("cust_nation", "supp_nation").agg(
        F.count("*").cast("bigint").alias("n_lines"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )
    return trade_matrix_from_flows(spark, m)


def attributed_trade_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Each lineitem attributed to its (customer nation, supplier
    nation) pair with exact cents — the flow rows the batch matrix
    aggregates and the streaming twin's parity test feeds through the
    additive ledger (l_orderkey kept for deterministic splitting)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        F.expr(
            "cast(round(l_extendedprice * (1 - l_discount) * 100) as bigint)"
        ).alias("cents"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    f = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("cnk"),
                F.col("n_name").alias("cust_nation"),
            )),
            F.col("c_nationkey") == F.col("cnk"),
        )
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(nation.select(
                F.col("n_nationkey").alias("snk"),
                F.col("n_name").alias("supp_nation"),
            )),
            F.col("s_nationkey") == F.col("snk"),
        )
    )
    return f.select("l_orderkey", "cust_nation", "supp_nation", "cents")


def trade_matrix_from_flows(spark: SparkSession, m: DataFrame) -> DataFrame:
    """The ONE trade-matrix close, shared by the batch query above and
    the streaming additive flow-ledger readout
    (streaming/trade_stream.trade_readout) — the pchart_from_daily
    sharing contract. `m` must carry (cust_nation STRING, supp_nation
    STRING, n_lines BIGINT, revenue_cents BIGINT), one row per flow
    (≤ 625); the row-share window partitions by cust_nation over that
    schema-bounded frame."""
    w_row = Window.partitionBy("cust_nation")
    return (
        m.withColumn(
            "row_tot",
            F.sum("revenue_cents").over(w_row).cast("decimal(38,0)"),
        )
        .select(
            "cust_nation",
            "supp_nation",
            "n_lines",
            "revenue_cents",
            F.expr(
                "cast(cast(revenue_cents as decimal(38,0)) * 1000000"
                " div row_tot as bigint)"
            ).alias("row_share_ppm"),
        )
        .orderBy("cust_nation", "supp_nation")
    )


# --------------------------------------------------------------------------
# order_priority_sla_attainment — fulfilled-within-30-days rate per
# priority class per month. q4/q12 count LATE lines against commit
# windows the slim schema lacks; this is the customer-facing SLA: did
# the whole order ship within 30 days of placement?
# --------------------------------------------------------------------------
SLA_DAYS = 30


@query(
    "order_priority_sla_attainment",
    oracle=f"""
    WITH ship AS (
        SELECT l_orderkey, max(l_shipdate) AS last_ship
        FROM lineitem GROUP BY 1),
    j AS (
        SELECT o.o_orderpriority AS priority,
               date_trunc('month', o.o_orderdate)::TIMESTAMP AS month,
               CASE WHEN datediff('day', date_trunc('day', o.o_orderdate),
                                  date_trunc('day', s.last_ship))
                         <= {SLA_DAYS}
                    THEN 1 ELSE 0 END AS met
        FROM orders o JOIN ship s ON s.l_orderkey = o.o_orderkey)
    SELECT priority, month, count(*)::BIGINT AS n_orders,
           sum(met)::BIGINT AS n_met,
           (sum(met)::HUGEINT * 1000000 // count(*))::BIGINT AS sla_ppm
    FROM j GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def order_priority_sla_attainment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLA attainment: per (order priority × order month), the ppm of
    orders whose LAST line shipped within {SLA_DAYS} days of placement
    — the promise-keeping trend by service class, and the readout that
    says whether 1-URGENT actually ships faster than 5-LOW.

    Determinism: calendar-truncated integer day arithmetic, integer
    counts, one trunc-div ppm (widened — a month-cell count · 10⁶ can
    outrun bigint past ~10¹² orders per cell).

    Scale: one orderkey-keyed last-ship aggregate (the natural
    fact-fact shuffle), the orders join on the same key, then one
    map-combinable rollup to the ≤|priorities|·|months| grid."""
    ship = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.max("l_shipdate").alias("last_ship"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    j = orders.join(ship, "o_orderkey").select(
        F.col("o_orderpriority").alias("priority"),
        F.date_trunc("month", "o_orderdate").alias("month"),
        F.when(
            F.datediff(
                F.to_date(F.date_trunc("day", "last_ship")),
                F.to_date(F.date_trunc("day", "o_orderdate")),
            )
            <= SLA_DAYS,
            1,
        )
        .otherwise(0)
        .alias("met"),
    )
    return (
        j.groupBy("priority", "month")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("met").cast("bigint").alias("n_met"),
            F.expr(
                "cast(cast(sum(met) as decimal(38,0)) * 1000000"
                " div count(*) as bigint)"
            ).alias("sla_ppm"),
        )
        .orderBy("priority", "month")
    )


# --------------------------------------------------------------------------
# weekday_weekend_mix — traffic composition by calendar class. The dow
# forecast/backtest family models per-weekday level; this is the
# simpler product question: which event types are weekend-heavy, as a
# per-day-rate lift so unequal day counts don't masquerade as lift.
# --------------------------------------------------------------------------
@query(
    "weekday_weekend_mix",
    oracle="""
    WITH dcnt AS (
        SELECT sum(CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END)::BIGINT
                   AS we_days,
               sum(CASE WHEN isodow(d) >= 6 THEN 0 ELSE 1 END)::BIGINT
                   AS wd_days
        FROM (SELECT DISTINCT date_trunc('day', ts) AS d FROM events)),
    cnt AS (
        SELECT event_type,
               sum(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END)::BIGINT
                   AS we_cnt,
               sum(CASE WHEN isodow(ts) >= 6 THEN 0 ELSE 1 END)::BIGINT
                   AS wd_cnt
        FROM events GROUP BY 1)
    SELECT event_type, wd_cnt, we_cnt, wd_days, we_days,
           CASE WHEN wd_cnt = 0 OR we_days = 0 OR wd_days = 0 THEN NULL
                ELSE (we_cnt::HUGEINT * wd_days * 1000000 //
                      (wd_cnt::HUGEINT * we_days))::BIGINT
           END AS weekend_lift_ppm
    FROM cnt CROSS JOIN dcnt ORDER BY event_type
    """,
)
def weekday_weekend_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per event type: weekday vs weekend volumes and the PER-DAY-RATE
    weekend lift ((we/we_days) / (wd/wd_days), ppm grid) — computed
    against the observed calendar (distinct event days by class), so a
    span with 21 weekdays and 8 weekend days doesn't fake a weekday
    bias. NULL lift when either class is unobserved.

    Determinism: integer counts and day counts; one cross-multiplied
    trunc-div on decimal(38,0)/HUGEINT (count · days · 10⁶ outruns
    bigint well below 100 TB volumes). Spark's weekday() (Mon=0) ≥ 5
    and DuckDB's isodow (Mon=1) ≥ 6 select the same Sat/Sun set.

    Scale: one map-combinable (type × day) count over the stream, then
    the close runs on that calendar-bounded frame; the day-count
    scalar is a distinct-day aggregate broadcast as a 1-row frame
    (reviewed bounded hint)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.count("*").cast("bigint").alias("n"))
    return weekday_mix_from_daily(spark, daily)


def weekday_mix_from_daily(
    spark: SparkSession, daily: DataFrame, pin_name: str = "weekday_mix_daily"
) -> DataFrame:
    """The ONE weekday/weekend close, shared by the batch query above
    and the streaming hourly-ledger readout
    (streaming/fano_stream.mix_readout — one ledger, two readouts) —
    the pchart_from_daily sharing contract. `daily` must carry
    (event_type STRING, day TIMESTAMP, n BIGINT), one row per (type,
    active day); the observed-calendar day counts come from the
    frame's own distinct days. ``pin_name``: lineage-distinct callers
    (the streaming readout) pass their own name (ADVICE r11)."""

    daily = pin(pin_name, daily, fill=False)
    dcnt = (
        daily.select("day")
        .distinct()
        .agg(
            F.sum(F.when(F.expr("weekday(day) >= 5"), 1).otherwise(0))
            .cast("bigint")
            .alias("we_days"),
            F.sum(F.when(F.expr("weekday(day) >= 5"), 0).otherwise(1))
            .cast("bigint")
            .alias("wd_days"),
        )
    )
    is_we = F.expr("weekday(day) >= 5")
    cnt = daily.groupBy("event_type").agg(
        F.sum(F.when(is_we, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("we_cnt"),
        F.sum(F.when(is_we, 0).otherwise(F.col("n")))
        .cast("bigint")
        .alias("wd_cnt"),
    )
    return (
        cnt.crossJoin(F.broadcast(dcnt))
        .select(
            "event_type",
            "wd_cnt",
            "we_cnt",
            "wd_days",
            "we_days",
            F.expr(
                "CASE WHEN wd_cnt = 0 OR we_days = 0 OR wd_days = 0"
                " THEN cast(NULL as bigint)"
                " ELSE cast(cast(we_cnt as decimal(38,0)) * wd_days"
                "           * 1000000"
                "      div (cast(wd_cnt as decimal(38,0)) * we_days)"
                "      as bigint) END"
            ).alias("weekend_lift_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# events_hourly_fano — dispersion index (variance-to-mean, Fano
# factor) of each type's HOURLY arrival counts over the full hour
# spine. event_type_burstiness classifies the interarrival process;
# Fano classifies the COUNT process — ≈1e6 (ppm) is Poisson, above is
# clumped (autoscaler needs headroom), below is smoothed/rate-limited.
# --------------------------------------------------------------------------
@query(
    "events_hourly_fano",
    oracle="""
    WITH hr AS (
        SELECT event_type, date_trunc('hour', ts) AS h,
               count(*)::BIGINT AS c
        FROM events GROUP BY 1, 2),
    span AS (
        SELECT ((epoch(max(date_trunc('hour', ts)))
                 - epoch(min(date_trunc('hour', ts)))) // 3600 + 1)
                   ::BIGINT AS nh
        FROM events),
    m AS (
        SELECT event_type, sum(c)::BIGINT AS s,
               sum(c::HUGEINT * c) AS s2
        FROM hr GROUP BY 1)
    SELECT event_type, s AS n_events, span.nh AS n_hours,
           ((span.nh::HUGEINT * s2 - s::HUGEINT * s) * 1000000 //
            (span.nh::HUGEINT * s))::BIGINT AS fano_ppm
    FROM m CROSS JOIN span ORDER BY event_type
    """,
)
def events_hourly_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fano factor per event type over the GLOBAL hour spine (hours
    with zero arrivals count: they add nothing to the moments but are
    in the denominator H): F = Var/Mean = (H·Σc² − S²)/(H·S), emitted
    on the ppm grid. The count-process complement of
    event_type_burstiness's interarrival B.

    Determinism: integer hourly counts; the moment Σc² accumulates in
    decimal(38,0)/HUGEINT (an hourly count squared outruns bigint past
    ~3e9 events/hour), as does the cross-multiplied close.

    Scale: one (type × hour) count (map-side combinable) then a
    per-type moment rollup; the hour-span scalar is a 1-row broadcast
    (reviewed bounded hint)."""
    ev = load_table(spark, sf_dir, "events")
    hr = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.count("*").cast("bigint").alias("c"))
    return fano_from_hourly(spark, hr)


def fano_from_hourly(
    spark: SparkSession, hr: DataFrame, pin_name: str = "fano_hourly"
) -> DataFrame:
    """The ONE Fano close, shared by the batch query above and the
    streaming additive hourly-counts readout
    (streaming/fano_stream.fano_readout) — the pchart_from_daily
    sharing contract. `hr` must carry (event_type STRING,
    h TIMESTAMP hour, c BIGINT), one row per (type, active hour); the
    global hour span (zero hours included in the denominator) comes
    from the ledger's own min/max hour. ``pin_name``: lineage-distinct
    callers (the streaming readout) pass their own name (ADVICE r11)."""

    hr = pin(pin_name, hr, fill=False)
    span = hr.agg(
        F.expr(
            "cast((unix_seconds(max(h)) - unix_seconds(min(h)))"
            " div 3600 + 1 as bigint)"
        ).alias("nh")
    )
    m = hr.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.expr("cast(c as decimal(38,0)) * c")).alias("s2"),
    )
    return (
        m.crossJoin(F.broadcast(span))
        .select(
            "event_type",
            F.col("s").alias("n_events"),
            F.col("nh").alias("n_hours"),
            F.expr(
                "cast((cast(nh as decimal(38,0)) * s2"
                "      - cast(s as decimal(38,0)) * s) * 1000000"
                " div (cast(nh as decimal(38,0)) * s) as bigint)"
            ).alias("fano_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# order_linecount_histogram — basket-width profile: how many lines do
# orders carry, and where does the revenue sit? The data-profiling
# primitive behind join-fanout estimates and packing decisions.
# --------------------------------------------------------------------------
@query(
    "order_linecount_histogram",
    oracle="""
    WITH per AS (
        SELECT l_orderkey, count(*)::BIGINT AS n_lines,
               sum(round(l_extendedprice * (1 - l_discount) * 100)
                   ::BIGINT)::BIGINT AS cents
        FROM lineitem GROUP BY 1),
    tot AS (SELECT sum(cents)::BIGINT AS t FROM per)
    SELECT n_lines, count(*)::BIGINT AS n_orders,
           sum(cents)::BIGINT AS revenue_cents,
           (sum(cents)::HUGEINT * 1000000 // tot.t)::BIGINT
               AS revenue_share_ppm
    FROM per CROSS JOIN tot
    GROUP BY n_lines, tot.t ORDER BY n_lines
    """,
)
def order_linecount_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders histogrammed by line count (TPC-H: 1–7), with each
    width's exact revenue and its ppm share of total revenue — the
    basket-width profile that sizes shuffle fanout and shard packing.

    Determinism: exact cents, integer counts, one widened trunc-div.

    Scale: one orderkey aggregate (map-side combinable), a rollup to
    the ≤|max lines| histogram, and a 1-row grand-total broadcast
    (reviewed bounded hint)."""
    per = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.count("*").cast("bigint").alias("n_lines"),
            F.sum(
                F.expr(
                    "cast(round(l_extendedprice * (1 - l_discount) * 100)"
                    " as bigint)"
                )
            )
            .cast("bigint")
            .alias("cents"),
        )
    )

    per = pin("linecount_per", per, fill=False)
    tot = per.agg(F.sum("cents").cast("bigint").alias("t"))
    return (
        per.groupBy("n_lines")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "n_lines",
            "n_orders",
            "revenue_cents",
            F.expr(
                "cast(cast(revenue_cents as decimal(38,0)) * 1000000"
                " div t as bigint)"
            ).alias("revenue_share_ppm"),
        )
        .orderBy("n_lines")
    )


# --------------------------------------------------------------------------
# purchase_value_tail_risk — VaR/CVaR of the purchase-value
# distribution: the exact p95 order statistic and the tail mean above
# it. Quantile queries report the middle; risk teams budget against
# the tail — CVaR is the standard coherent tail measure.
# --------------------------------------------------------------------------
_TAIL_RISK_SCHEMA = (
    "n_purchases BIGINT, var_rank BIGINT, var95_cents BIGINT,"
    " tail_n BIGINT, cvar95_cents BIGINT"
)


def tail_risk_from_cents_hist(spark: SparkSession, hist: DataFrame) -> DataFrame:
    """The VaR95/CVaR95 close over a (cents, w) HISTOGRAM of purchase
    cents — the ONE close shared by the batch purchase_value_tail_risk
    and streaming/risk_stream's readout, so batch and stream cannot
    drift (the fano_from_hourly contract).

    Event-grain equivalence: the batch semantics rank events by
    (cents, event_id) and read rank k = ceil(0.95·n); every reported
    value depends only on the cents MULTISET (the tiebreaker never
    changes which cents value sits at rank k, nor the tail sum), so
    the histogram close is exact. With cum_w/cum_wsum the INCLUSIVE
    prefix count/value-sum at the boundary bucket v* (the smallest
    cents with cum_w ≥ k):

      tail_sum = total − cum_wsum(v*) + v*·(cum_w(v*) − k + 1)

    — the > v* buckets whole, plus the (cum_w(v*) − k + 1) tail copies
    of v* itself.

    Scale: the histogram is already ≤ |distinct cents| rows; ranks and
    running sums come from the RANGE-PARTITIONED prefix scaffold
    (never a single-partition window), the boundary bucket is an
    ascending top-1 (TakeOrderedAndProject) over the ≥ k filter, and
    the close reads ONE row plus the scaffold totals."""

    hist = hist.select(
        "cents",
        F.col("w").cast("bigint").alias("w"),
        (F.col("cents") * F.col("w")).cast("bigint").alias("wsum"),
    )
    with global_prefix(
        spark, hist, [F.col("cents")], cum_cols=["w", "wsum"]
    ) as (aug, totals):
        n, total = totals["w"], totals["wsum"]
        if n == 0:
            return spark.createDataFrame([(0, 0, None, 0, None)], _TAIL_RISK_SCHEMA)
        k = (95 * n + 99) // 100
        row = (
            aug.where(F.col("cum_w") >= k)
            .orderBy("cents")
            .limit(1)
            .select("cents", "cum_w", "cum_wsum")
            .collect()
        )[0]
    v, cum_n, cum_s = int(row["cents"]), int(row["cum_w"]), int(row["cum_wsum"])
    tail_n = n - k + 1
    tail_sum = total - cum_s + v * (cum_n - k + 1)
    return spark.createDataFrame(
        [(n, k, v, tail_n, tail_sum // tail_n)], _TAIL_RISK_SCHEMA
    )


@query(
    "purchase_value_tail_risk",
    oracle="""
    WITH p AS (
        SELECT event_id, round(value * 100)::BIGINT AS cents
        FROM events
        WHERE event_type = 'purchase' AND value IS NOT NULL),
    n AS (SELECT count(*)::BIGINT AS n FROM p),
    k AS (SELECT ((95 * n + 99) // 100)::BIGINT AS k, n FROM n),
    ranked AS (
        SELECT cents, row_number() OVER (ORDER BY cents, event_id) AS rk
        FROM p),
    tail AS (SELECT r.cents FROM ranked r CROSS JOIN k WHERE r.rk >= k.k)
    SELECT k.n AS n_purchases, k.k AS var_rank,
           (SELECT min(cents) FROM tail)::BIGINT AS var95_cents,
           (SELECT count(*) FROM tail)::BIGINT AS tail_n,
           (SELECT sum(cents) // count(*) FROM tail)::BIGINT
               AS cvar95_cents
    FROM k
    """,
)
def purchase_value_tail_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact purchase-value tail risk: VaR95 = the value at the
    nearest-rank ceil(0.95·n) order statistic (ascending, event_id
    tie-break), CVaR95 = the truncated mean of everything at or above
    that rank — both in exact cents (non-negative, so the trunc-div
    equals the oracle's //).

    The purchase slice first collapses to a (cents, w) histogram (one
    map-side-combinable aggregate), then closes via
    tail_risk_from_cents_hist — the SAME close the streaming twin
    (streaming/risk_stream.py) serves off its folded cents ledger, so
    batch and stream cannot drift. The histogram grain is exact: every
    reported value is a function of the cents multiset (see the close's
    docstring for the rank-k equivalence).

    Scale: the SF-linear scan reduces to |distinct cents| rows in one
    aggregate; ranks over the histogram come from the RANGE-PARTITIONED
    prefix scaffold (never a single-partition window); the close reads
    ONE boundary bucket plus the scaffold totals."""
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.where(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .select(F.expr("cast(round(value * 100) as bigint)").alias("cents"))
        .groupBy("cents")
        .agg(F.count("*").cast("bigint").alias("w"))
    )
    return tail_risk_from_cents_hist(spark, hist)


# --------------------------------------------------------------------------
# order_grouping_sets — explicit GROUPING SETS (the third grouping-set
# surface next to order_cube's CUBE and order_priority_rollup's
# ROLLUP): just the two one-dimension margins plus the grand total,
# WITHOUT the cube's cross cells — the shape dashboards actually ask
# for when the cross product is noise.
# --------------------------------------------------------------------------
@query(
    "order_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderstatus, 'ALL')   AS orderstatus,
           coalesce(o_orderpriority, 'ALL') AS orderpriority,
           grouping(o_orderstatus, o_orderpriority) AS gid,
           count(*)::BIGINT                 AS n,
           sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY gid, orderstatus, orderpriority
    """,
)
def order_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status margin + priority margin + grand total via explicit
    GROUPING SETS (Spark's DataFrame.groupingSets — same grouping_id
    bitmask semantics as DuckDB's GROUPING, the order_cube contract),
    in exact cents.

    Scale: ONE scan with map-side partial aggregation per set — the
    whole point of grouping sets over three separate aggregates."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [[F.col("o_orderstatus")], [F.col("o_orderpriority")], []],
            F.col("o_orderstatus"),
            F.col("o_orderpriority"),
        )
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").cast("bigint").alias("n"),
            F.sum(F.expr("cast(round(o_totalprice * 100) as bigint)"))
            .cast("bigint")
            .alias("cents"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("orderstatus"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias(
                "orderpriority"
            ),
            "gid",
            "n",
            "cents",
        )
        .orderBy("gid", "orderstatus", "orderpriority")
    )


# --------------------------------------------------------------------------
# nation_balance_distribution — percent_rank + cume_dist (the two
# §2.5 rank-family members customer_balance_ranks doesn't cover):
# every customer's account balance positioned within its nation.
# --------------------------------------------------------------------------
@query(
    "nation_balance_distribution",
    oracle="""
    WITH r AS (
        SELECT c_nationkey, c_custkey,
               round(c_acctbal, 2) AS acctbal,
               row_number() OVER w AS rn,
               count(*) OVER (PARTITION BY c_nationkey) AS n
        FROM customer
        WINDOW w AS (PARTITION BY c_nationkey
                     ORDER BY round(c_acctbal, 2), c_custkey))
    SELECT c_nationkey, c_custkey, acctbal,
           CASE WHEN n > 1
                THEN ((rn - 1) * 1000000 // (n - 1))::BIGINT END
               AS pct_rank_ppm,
           (rn * 1000000 // n)::BIGINT AS cum_dist_ppm
    FROM r
    ORDER BY c_nationkey, c_custkey
    """,
)
def nation_balance_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank ((rank−1)/(n−1)) and cume_dist (rank/n) of each
    customer's balance within its nation — the §2.5 relative-position
    pair, emitted on the EXACT ppm grid. The (balance, custkey) order
    is total, so rank-with-ties ≡ row_number and both ratios are pure
    integer trunc-divs: the builtins' double output is NOT
    cross-engine-stable at decimal midpoints (measured at sf0.1:
    percent_rank 41/640 = 0.0640625 rounds to 0.064063 under Spark's
    shortest-decimal HALF_UP but 0.064062 under DuckDB's
    binary-double rounding), while the integer grid cannot diverge.
    Single-row nations emit NULL pct_rank_ppm (0/0) in both engines.

    Scale: one customer-keyed window partitioned by nation — 25
    partitions of n/25 rows each, the documented small-group-count
    posture (the same shape as customer_balance_ranks); output is the
    scored customer table, written not collected at scale."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.round("c_acctbal", 2), "c_custkey"
    )
    wn = Window.partitionBy("c_nationkey")
    return (
        cust.select(
            "c_nationkey",
            "c_custkey",
            F.round("c_acctbal", 2).alias("acctbal"),
            F.row_number().over(w).alias("rn"),
            F.count("*").over(wn).alias("n"),
        )
        .select(
            "c_nationkey",
            "c_custkey",
            "acctbal",
            F.expr(
                "CASE WHEN n > 1 THEN cast((rn - 1) * 1000000"
                " div (n - 1) as bigint) END"
            ).alias("pct_rank_ppm"),
            F.expr("cast(rn * 1000000 div n as bigint)").alias(
                "cum_dist_ppm"
            ),
        )
        .orderBy("c_nationkey", "c_custkey")
    )


# --------------------------------------------------------------------------
# supplier_balance_tiers — supplier credit exposure per nation from
# the otherwise-unread s_acctbal column: how many suppliers are in
# debit (negative balance), and how much of the nation's balance mass
# they hold.
# --------------------------------------------------------------------------
@query(
    "supplier_balance_tiers",
    oracle="""
    SELECT n.n_name AS nation,
           count(*)::BIGINT AS n_suppliers,
           sum(CASE WHEN s.s_acctbal < 0 THEN 1 ELSE 0 END)::BIGINT
               AS n_debit,
           sum(round(s.s_acctbal * 100)::BIGINT)::BIGINT AS balance_cents,
           (sum(CASE WHEN s.s_acctbal < 0 THEN 1 ELSE 0 END)::HUGEINT
            * 1000000 // count(*))::BIGINT AS debit_ppm
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY 1 ORDER BY 1
    """,
)
def supplier_balance_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per nation: supplier count, how many carry a NEGATIVE account
    balance (credit risk), the exact-cents balance mass, and the debit
    incidence ppm.

    Scale: one supplier scan, broadcast nation join (schema-bounded),
    one map-combinable rollup to ≤25 rows."""
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    return (
        supp.join(
            F.broadcast(nation),
            supp.s_nationkey == F.col("n_nationkey"),
        )
        .groupBy("nation")
        .agg(
            F.count("*").cast("bigint").alias("n_suppliers"),
            F.sum(F.when(F.col("s_acctbal") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_debit"),
            F.sum(F.expr("cast(round(s_acctbal * 100) as bigint)"))
            .cast("bigint")
            .alias("balance_cents"),
            F.expr(
                "cast(cast(sum(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END)"
                " as decimal(38,0)) * 1000000 div count(*) as bigint)"
            ).alias("debit_ppm"),
        )
        .orderBy("nation")
    )
