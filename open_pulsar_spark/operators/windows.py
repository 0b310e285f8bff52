"""Temporal operators over the events stream table: sessionization,
as-of join, tumbling and session windows.

The reference's only temporal semantics are per-key sessionization and
arrival-order processing (SURVEY.md §2.5 W1/W2, §2.9); the event-time
operators here are the declared north-star gap fill, expressed with
built-in window functions so Catalyst plans them (one shuffle on the
partition key each, no Python).

All durations are emitted as integral microseconds (unix_micros /
epoch_us) — identical in Spark and DuckDB, immune to float noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import pin
from open_pulsar_spark.operators.prefix import global_prefix
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


# --------------------------------------------------------------------------
# user_sessionize — gap-based sessionization via lag + running sum.
# --------------------------------------------------------------------------
def _session_events(ev: DataFrame) -> DataFrame:
    """events → (user_id, ts, event_id, session_seq): THE one 30-min
    inactivity-gap session definition (lag flag → running sum), shared
    by user_sessionize and events_peak_concurrency so the two can
    never silently diverge on what a session is. One shuffle on
    user_id; the two window functions share the partitioning so
    Catalyst reuses the sort."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > SESSION_GAP_US,
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).withColumn("session_seq", F.sum("new_session").over(run))


@query(
    "user_sessionize",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id,
               CASE WHEN epoch_us(ts::TIMESTAMP)
                         - epoch_us(lag(ts::TIMESTAMP) OVER w) > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts, event_id,
               (sum(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 )::BIGINT AS session_seq
        FROM flagged
    )
    SELECT user_id, session_seq,
           count(*)                                   AS n_events,
           epoch_us(max(ts)) - epoch_us(min(ts))      AS duration_us
    FROM numbered
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def user_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionize events per user with a 30-minute inactivity gap.

    The reference's group-sessionization (agent-loop.sh:634-640,
    SURVEY §2.5 W1: segment id = running sum of change flags) applied to
    event time (see _session_events for the shared definition).
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        _session_events(ev)
        .groupBy("user_id", "session_seq")
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "duration_us"
            ),
        )
        .orderBy("user_id", "session_seq")
    )


# --------------------------------------------------------------------------
# click_asof_purchase — as-of join (most recent purchase at click time).
# --------------------------------------------------------------------------
@query(
    "click_asof_purchase",
    oracle="""
    SELECT c.event_id, c.user_id,
           p.event_id            AS purchase_event_id,
           round(p.value, 2)     AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF LEFT JOIN (
        -- unique on (user_id, ts): ASOF picks an ARBITRARY right row
        -- among equal timestamps, so ties are pre-resolved to the
        -- highest event_id — the same winner as the Spark window's
        -- (ts, kind, event_id) ordering
        SELECT user_id, ts, max(event_id) AS event_id,
               arg_max(value, event_id) AS value
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, ts
    ) p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    ORDER BY c.event_id
    """,
)
def click_asof_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click paired with the user's most recent
    purchase at-or-before the click.

    Spark has no native ASOF JOIN; the scalable composition is
    union-tag + `last(..., ignorenulls)` over a per-user time-ordered
    window — ONE shuffle on user_id, no range-join explosion, no
    Python. (The applyInPandas + pd.merge_asof alternative ships
    every row through Arrow; this stays in the JVM.)

    At equal timestamps the purchase sorts before the click (kind 0 <
    kind 1), giving the inclusive `click.ts >= purchase.ts` semantics
    of DuckDB's ASOF JOIN.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
        F.lit(None).cast("long").alias("event_id"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("purchase_event_id"),
        F.lit(None).cast("double").alias("purchase_value"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("event_id", "purchase_event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        purchases.unionByName(clicks)
        .select(
            "event_id",
            "user_id",
            "kind",
            F.last("purchase_event_id", ignorenulls=True).over(w).alias(
                "purchase_event_id"
            ),
            F.round(F.last("purchase_value", ignorenulls=True).over(w), 2).alias(
                "purchase_value"
            ),
        )
        .where(F.col("kind") == 1)
        .drop("kind")
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# events_funnel — ordered conversion funnel per user.
# --------------------------------------------------------------------------
@query(
    "events_funnel",
    oracle="""
    WITH s AS (
        SELECT user_id, min(ts::TIMESTAMP) AS t_signup
        FROM events WHERE event_type = 'signup' GROUP BY user_id),
    c AS (
        SELECT e.user_id, min(e.ts::TIMESTAMP) AS t_click
        FROM events e JOIN s USING (user_id)
        WHERE e.event_type = 'click' AND e.ts::TIMESTAMP > s.t_signup
        GROUP BY e.user_id),
    p AS (
        SELECT e.user_id, min(e.ts::TIMESTAMP) AS t_purchase
        FROM events e JOIN c USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ts::TIMESTAMP > c.t_click
        GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s) AS n_signup,
           (SELECT count(*) FROM c) AS n_clicked_after,
           (SELECT count(*) FROM p) AS n_converted,
           round((SELECT count(*) FROM p) * 1.0
                 / nullif((SELECT count(*) FROM s), 0), 6) AS conversion_rate
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup → FIRST CLICK AFTER the signup → FIRST
    PURCHASE AFTER that click. Each stage's timestamp is the min over
    events after the previous stage's timestamp (a user whose only
    clicks precede their signup does NOT count as clicked-after — the
    first-ever-click shortcut gets that wrong), matching the
    windowed-funnel semantics of analytics.events_funnel_24h without
    the 24h bound.

    Scale: every stage frame is keyed and joined on user_id, so all
    three joins share one partitioning; stage frames shrink
    monotonically. The final counts are a union of three tagged
    per-user frames into one scalar aggregate — no 1-row cross joins.
    """
    ev = load_table(spark, sf_dir, "events")
    s1 = (
        ev.where(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(s1, "user_id")
        .where(F.col("ts") > F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    pch = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    tagged = (
        s1.select(F.lit(0).alias("stage"))
        .unionAll(c.select(F.lit(1).alias("stage")))
        .unionAll(pch.select(F.lit(2).alias("stage")))
    )
    cnt = lambda k: F.sum(F.when(F.col("stage") == k, 1).otherwise(0))
    return tagged.agg(
        cnt(0).alias("n_signup"),
        cnt(1).alias("n_clicked_after"),
        cnt(2).alias("n_converted"),
        F.round(cnt(2) * F.lit(1.0) / F.nullif(cnt(0), F.lit(0)), 6).alias(
            "conversion_rate"
        ),
    )


# --------------------------------------------------------------------------
# retention_cohorts — daily cohort × activity-day retention counts.
# --------------------------------------------------------------------------
@query(
    "retention_cohorts",
    oracle="""
    WITH firsts AS (
        SELECT user_id, min(date_trunc('day', ts::TIMESTAMP)) AS cohort_day
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT user_id, date_trunc('day', ts::TIMESTAMP) AS active_day
        FROM events)
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort_day,
           date_diff('day', f.cohort_day, a.active_day) AS day_offset,
           count(*) AS n_active
    FROM activity a JOIN firsts f USING (user_id)
    WHERE date_diff('day', f.cohort_day, a.active_day) <= 7
    GROUP BY 1, 2
    ORDER BY cohort_day, day_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, distinct
    activity counted per day offset (first week). Two shuffles on
    user_id (first-seen agg + distinct activity) then the cohort join —
    at 100 TB both sides are already partitioned by user_id so the
    join is co-located."""
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    firsts = ev.groupBy("user_id").agg(F.min(day).alias("cohort_day"))
    activity = ev.select("user_id", day.alias("active_day")).distinct()
    offset = F.datediff(F.col("active_day"), F.col("cohort_day"))
    return (
        activity.join(firsts, "user_id")
        .where(offset <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            offset.alias("day_offset"),
        )
        .agg(F.count("*").alias("n_active"))
        .orderBy("cohort_day", "day_offset")
    )


# --------------------------------------------------------------------------
# events_hourly_tumbling — tumbling event-time window (batch form).
# --------------------------------------------------------------------------
@query(
    "events_hourly_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP),
                    '%Y-%m-%d %H:%M') AS hour,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total_value
    FROM events
    GROUP BY 1, 2
    ORDER BY hour, event_type
    """,
)
def events_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling-window aggregate via F.window — the same
    expression works under readStream + withWatermark (see
    open_pulsar_spark.streaming); batch mode here so the oracle can
    check it."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("hour", "event_type")
    )


# --------------------------------------------------------------------------
# events_sliding_window — sliding event-time windows (batch form).
# --------------------------------------------------------------------------
@query(
    "events_sliding_window",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '10 minutes', ts::TIMESTAMP)
                      - u.k * INTERVAL '10 minutes', '%Y-%m-%d %H:%M') AS window_start,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total_value
    FROM events CROSS JOIN unnest(range(0, 3)) AS u(k)
    GROUP BY 1, 2
    ORDER BY window_start, event_type
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding every 10 — each event lands in 3
    overlapping windows (the oracle generates the same 3 epoch-aligned
    buckets explicitly). Streaming form: identical expression under
    withWatermark (streaming/events_stream.sliding_value)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "30 minutes", "10 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "total_value",
        )
        .orderBy("window_start", "event_type")
    )


# --------------------------------------------------------------------------
# events_session_window — native session_window vs manual SQL sessions.
# --------------------------------------------------------------------------
@query(
    "events_session_window",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id,
               CASE WHEN epoch_us(ts::TIMESTAMP)
                         - epoch_us(lag(ts::TIMESTAMP) OVER w) >= {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS session_seq
        FROM flagged
    )
    SELECT user_id,
           strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           count(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_seq
    ORDER BY user_id, session_start
    """,
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window(ts, gap) — Spark's built-in session
    assignment, checked against the lag+cumsum SQL formulation.

    Boundary semantics pinned by the oracle: Spark's session window is
    half-open [ts, ts+gap), so an event arriving EXACTLY gap after the
    previous one starts a NEW session — the oracle's flag is therefore
    `diff >= gap`, not `>`, and both window orderings carry the
    event_id tiebreaker so tied timestamps session identically."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("sw"))
        .agg(F.count("*").alias("n_events"), F.min("ts").alias("first_ts"))
        .select(
            "user_id",
            F.date_format("first_ts", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# user_rolling_7d_purchases — RANGE-frame rolling aggregate (time-based
# window frame, not row-based).
# --------------------------------------------------------------------------
@query(
    "user_rolling_7d_purchases",
    oracle="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN INTERVAL '7 days' PRECEDING AND CURRENT ROW),
                 4) AS rolling_7d_value
    FROM events WHERE event_type = 'purchase'
    ORDER BY user_id, event_id
    """,
)
def user_rolling_7d_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-7-day purchase value at every purchase — a
    RANGE window frame (time interval), not a ROWS frame: the frame
    holds however many events fall in the last 7 days, which is the
    running-LTV / velocity-limit shape fraud and billing systems use.

    Spark's rangeBetween needs a numeric order key, so the frame runs
    over unix MICROSECONDS (the module-wide convention — full timestamp
    precision; unix_timestamp would truncate to seconds and let two
    same-second purchases become frame peers the oracle separates)
    with a ±7-days-in-µs bound — identical inclusive boundary
    semantics to the oracle's INTERVAL frame. One shuffle on user_id;
    the frame is computed in a single pass per partition (Catalyst's
    sliding-frame aggregation), no self-join.
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-7 * 86400 * 1_000_000, 0)
    )
    return (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.round(F.sum("value").over(w), 4).alias("rolling_7d_value"),
        )
        .orderBy("user_id", "event_id")
    )


# --------------------------------------------------------------------------
# user_activity_islands — gaps-and-islands: contiguous active-day runs.
# --------------------------------------------------------------------------
@query(
    "user_activity_islands",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id, date_trunc('day', ts)::TIMESTAMP AS day
        FROM events
    ),
    numbered AS (
        SELECT user_id, day,
               row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        FROM days
    ),
    grouped AS (
        SELECT user_id, day,
               day - to_days((rn)::INTEGER) AS grp
        FROM numbered
    )
    SELECT user_id,
           min(day)  AS island_start,
           max(day)  AS island_end,
           count(*)  AS n_days
    FROM grouped
    GROUP BY user_id, grp
    ORDER BY user_id, island_start
    """,
)
def user_activity_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's runs of CONSECUTIVE active days
    (start, end, length) — the classic streak/churn-gap analysis.

    The day-minus-rownumber trick makes every contiguous run share one
    constant group key, so islands fall out of a plain aggregate: one
    shuffle on user_id for the row_number, then a (user, grp) agg that
    reuses the same partitioning. No self-join, no iteration — the
    naive "join each day to the previous day" formulation is quadratic
    in streak length and shuffles per step.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    grouped = days.withColumn(
        "grp", F.expr("day - make_interval(0, 0, 0, row_number() over "
                      "(partition by user_id order by day))")
    )
    return (
        grouped.groupBy("user_id", "grp")
        .agg(
            F.min("day").alias("island_start"),
            F.max("day").alias("island_end"),
            F.count("*").alias("n_days"),
        )
        .drop("grp")
        .orderBy("user_id", "island_start")
    )


# --------------------------------------------------------------------------
# user_value_sax_blocks — SAX-style time-series similarity blocking.
# --------------------------------------------------------------------------
SAX_EVENTS = 16   # first N events per user form the series
SAX_SEGLEN = 2    # PAA segment length → 8 segments, 2-level alphabet

def _sax_series(ev: DataFrame) -> DataFrame:
    """Shared SAX front half: each user's first SAX_EVENTS event values
    as integer cents with series position and PAA segment — eligibility
    (complete series only) already applied. THE one definition behind
    both user_value_sax_blocks and sax_block_candidate_pairs: the
    block/verify pair must symbolize identically or the blocking
    contract silently breaks."""
    cents = F.expr("cast(floor(value * 100 + 0.5d) as bigint)")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select("user_id", cents.alias("cents"), F.row_number().over(w).alias("rn"))
        .where(F.col("rn") <= SAX_EVENTS)
        .withColumn("seg", F.expr(f"(rn - 1) div {SAX_SEGLEN}"))
        .withColumn("n", F.count("*").over(Window.partitionBy("user_id")))
        .where(F.col("n") == SAX_EVENTS)
    )


def _sax_words(series: DataFrame) -> DataFrame:
    """Shared SAX back half: eligible series → (user_id, sax_word)
    via integer segment sums and the cross-multiplied mean test."""
    segs = series.groupBy("user_id", "seg").agg(F.sum("cents").alias("seg_sum"))
    n_segments = SAX_EVENTS // SAX_SEGLEN
    return (
        segs.withColumn(
            "total", F.sum("seg_sum").over(Window.partitionBy("user_id"))
        )
        .withColumn(
            "sym",
            F.when(F.col("seg_sum") * n_segments >= F.col("total"), "u").otherwise(
                "d"
            ),
        )
        .groupBy("user_id")
        .agg(
            F.concat_ws(
                "", F.array_sort(F.collect_list(F.struct("seg", "sym"))).sym
            ).alias("sax_word")
        )
    )



@query(
    "user_value_sax_blocks",
    oracle=f"""
    WITH ord AS (
        SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
    series AS (
        SELECT user_id, cents, rn, (rn - 1) // {SAX_SEGLEN} AS seg
        FROM ord WHERE rn <= {SAX_EVENTS}),
    eligible AS (
        SELECT user_id FROM series GROUP BY user_id
        HAVING count(*) = {SAX_EVENTS}),
    segs AS (
        SELECT s.user_id, s.seg, sum(s.cents)::BIGINT AS seg_sum
        FROM series s JOIN eligible e ON e.user_id = s.user_id
        GROUP BY s.user_id, s.seg),
    tot AS (SELECT user_id, sum(seg_sum)::BIGINT AS total
            FROM segs GROUP BY user_id),
    words AS (
        SELECT s.user_id,
               string_agg(CASE WHEN s.seg_sum * {SAX_EVENTS // SAX_SEGLEN}
                                    >= t.total
                               THEN 'u' ELSE 'd' END, '' ORDER BY s.seg)
                   AS sax_word
        FROM segs s JOIN tot t ON t.user_id = s.user_id
        GROUP BY s.user_id)
    SELECT sax_word, count(*) AS n_users
    FROM words
    GROUP BY sax_word
    HAVING count(*) >= 2
    ORDER BY n_users DESC, sax_word
    """,
)
def user_value_sax_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series similarity BLOCKING via SAX (symbolic aggregate
    approximation): each user's first {SAX_EVENTS} event values become
    a PAA of {SAX_EVENTS // SAX_SEGLEN} segment means, symbolized
    against the series' own mean ('u'/'d'); users sharing a SAX word
    are shape-similar candidates. This is the distributed blocking
    step of streaming time-series similarity search (cf. the EDBT'19
    line of work): exact DTW/Euclidean comparisons then run only
    WITHIN a block, never all-pairs across users.

    Determinism: values quantize to integer cents (floor(x*100+0.5) —
    identical in both engines, no round() half-cent hazard), segment
    sums are exact integer sums, and the u/d test cross-multiplies
    (seg_sum * n_segments >= total) instead of dividing — the word is
    bit-identical across engines and partitionings. Order within a
    series ties on (ts, event_id), both unique-ing.

    Scale: one shuffle on user_id (the row_number window); the segment
    and word aggregates REUSE that partitioning (AQE keeps the
    exchange); output is one row per word — candidate-pair cost is
    Σ|block|², the same bounded-blocking contract as the LSH families,
    with the alphabet/segment knobs controlling block granularity.
    """
    words = _sax_words(_sax_series(load_table(spark, sf_dir, "events")))
    return (
        words.groupBy("sax_word")
        .agg(F.count("*").alias("n_users"))
        .where(F.col("n_users") >= 2)
        .orderBy(F.desc("n_users"), "sax_word")
    )


@query(
    "sax_block_candidate_pairs",
    oracle=f"""
    WITH ord AS (
        SELECT user_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
    series AS (
        SELECT user_id, cents, rn, (rn - 1) // {SAX_SEGLEN} AS seg
        FROM ord WHERE rn <= {SAX_EVENTS}),
    eligible AS (
        SELECT user_id FROM series GROUP BY user_id
        HAVING count(*) = {SAX_EVENTS}),
    vecs AS (
        SELECT s.user_id, list(s.cents ORDER BY s.rn) AS v
        FROM series s JOIN eligible e ON e.user_id = s.user_id
        GROUP BY s.user_id),
    segs AS (
        SELECT s.user_id, s.seg, sum(s.cents)::BIGINT AS seg_sum
        FROM series s JOIN eligible e ON e.user_id = s.user_id
        GROUP BY s.user_id, s.seg),
    tot AS (SELECT user_id, sum(seg_sum)::BIGINT AS total
            FROM segs GROUP BY user_id),
    words AS (
        SELECT s.user_id,
               string_agg(CASE WHEN s.seg_sum * {SAX_EVENTS // SAX_SEGLEN}
                                    >= t.total
                               THEN 'u' ELSE 'd' END, '' ORDER BY s.seg)
                   AS sax_word
        FROM segs s JOIN tot t ON t.user_id = s.user_id
        GROUP BY s.user_id)
    SELECT a.user_id AS user_a, b.user_id AS user_b, a.sax_word,
           list_sum(list_transform(list_zip(va.v, vb.v),
                    p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS sq_dist
    FROM words a
    JOIN words b ON a.sax_word = b.sax_word AND a.user_id < b.user_id
    JOIN vecs va ON va.user_id = a.user_id
    JOIN vecs vb ON vb.user_id = b.user_id
    ORDER BY sq_dist, user_a, user_b
    """,
)
def sax_block_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The verify half of SAX blocking: EXACT integer squared L2
    between the value series of every same-word user pair — block with
    symbols, verify with arithmetic, the same two-phase contract as
    the LSH → exact-Jaccard dedup family.

    Scale: the pair join is an EQUI-join on sax_word (cost Σ|block|²,
    the blocking knob bounds it — never all-pairs across users); the
    16-value series travel as compact integer arrays; the distance is
    a codegen zip_with/aggregate, bit-exact in both engines.
    """
    series = _sax_series(load_table(spark, sf_dir, "events"))
    vecs = series.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("rn", "cents"))).cents.alias("v")
    )
    words = _sax_words(series)
    wv = words.join(vecs, "user_id")
    a = wv.select(
        F.col("user_id").alias("user_a"), "sax_word", F.col("v").alias("va")
    )
    b = wv.select(
        F.col("user_id").alias("user_b"), "sax_word", F.col("v").alias("vb")
    )
    dist = F.expr(
        "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)),"
        " 0L, (acc, d) -> acc + d)"
    )
    return (
        a.join(b, "sax_word")
        .where(F.col("user_a") < F.col("user_b"))
        .select("user_a", "user_b", "sax_word", dist.alias("sq_dist"))
        .orderBy("sq_dist", "user_a", "user_b")
    )


# --------------------------------------------------------------------------
# events_peak_concurrency — daily peak concurrent sessions via an
# interval-boundary sweep + distributed prefix sum.
# --------------------------------------------------------------------------
@query(
    "events_peak_concurrency",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id,
               CASE WHEN epoch_us(ts::TIMESTAMP)
                         - epoch_us(lag(ts::TIMESTAMP) OVER w) > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        SELECT user_id, ts,
               (sum(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND CURRENT ROW))::BIGINT AS session_seq
        FROM flagged
    ), sess AS (
        SELECT user_id, session_seq, min(ts) AS s, max(ts) AS e
        FROM numbered GROUP BY user_id, session_seq
    ), pts AS (
        SELECT s AS t, 1 AS d FROM sess
        UNION ALL
        SELECT e AS t, -1 AS d FROM sess
    ), run AS (
        SELECT t, d,
               (sum(d) OVER (ORDER BY t, d DESC
                             ROWS UNBOUNDED PRECEDING))::BIGINT AS c
        FROM pts
    )
    SELECT date_trunc('day', t)::TIMESTAMP AS day,
           max(c)::BIGINT AS peak_concurrency,
           count(*) AS n_boundaries
    FROM run GROUP BY 1 ORDER BY day
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak number of simultaneously-active user sessions per day —
    the capacity-planning twin of user_sessionize: sessions (same
    30-min-gap definition) become +1/-1 boundary points, a running sum
    over the boundary timeline is the live concurrency, and the daily
    max of that sweep is the peak (evaluated at boundary instants;
    starts sort before ends at equal timestamps, so back-to-back
    sessions count as concurrent at the touch point).

    Scale: the classic interval-counting sweep needs a GLOBAL
    cumulative sum — Spark's bare `sum().over(orderBy())` runs it in
    one partition, so this rides the engine's shared DISTRIBUTED
    PREFIX SUM (operators/prefix.py::global_prefix, the
    revenue_pareto pattern): range-partition the boundary points on
    the sweep key, per-partition delta totals to the driver (≤ 32
    rows), per-partition windows + broadcast exclusive offsets give
    the exact global running count in parallel. All integer deltas —
    output is bit-identical to the oracle's single-window statement.
    """

    ev = load_table(spark, sf_dir, "events")
    sess = (
        _session_events(ev)
        .groupBy("user_id", "session_seq")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    pts = sess.select(F.col("s").alias("t"), F.lit(1).alias("d")).unionAll(
        sess.select(F.col("e").alias("t"), F.lit(-1).alias("d"))
    )

    with global_prefix(
        spark, pts, [F.asc("t"), F.desc("d")], cum_cols=("d",)
    ) as (aug, _totals):
        out = (
            aug.groupBy(F.date_trunc("day", F.col("t")).alias("day"))
            .agg(
                F.max("cum_d").cast("bigint").alias("peak_concurrency"),
                F.count("*").alias("n_boundaries"),
            )
            .orderBy("day")
        )
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# session_gap_sensitivity — how the session count depends on the gap
# threshold (the parameter audit for every sessionization consumer).
# --------------------------------------------------------------------------
GAP_GRID_S = (900, 1800, 3600, 7200)  # 15m, 30m (the production gap), 1h, 2h


@query(
    "session_gap_sensitivity",
    oracle=f"""
    WITH d AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS delta_us
        FROM events),
    u AS (SELECT count(DISTINCT user_id)::BIGINT AS n_users FROM d),
    t AS (SELECT count(*)::BIGINT AS n_transitions FROM d
          WHERE delta_us IS NOT NULL),
    g AS (SELECT unnest([{", ".join(str(g) for g in GAP_GRID_S)}])::BIGINT
                     AS gap_s),
    b AS (
        SELECT g.gap_s,
               sum(CASE WHEN d.delta_us > g.gap_s * 1000000
                        THEN 1 ELSE 0 END)::BIGINT AS n_breaks
        FROM g, d WHERE d.delta_us IS NOT NULL GROUP BY g.gap_s)
    SELECT b.gap_s,
           ((SELECT n_users FROM u) + b.n_breaks)::BIGINT AS n_sessions,
           b.n_breaks,
           (b.n_breaks * 1000000
               // greatest((SELECT n_transitions FROM t), 1))::BIGINT
               AS break_ppm
    FROM b
    ORDER BY gap_s
    """,
)
def session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-count SENSITIVITY to the inactivity-gap threshold: for
    each gap in {GAP_GRID_S} seconds (bracketing the production
    {SESSION_GAP_US // 60_000_000}-minute gap user_sessionize ships),
    the number of sessions the corpus would split into, the break
    count, and breaks per transition (ppm). Sessions(g) = users +
    breaks(g), so this is the whole parameter curve from ONE pass —
    the audit that says whether downstream session metrics are stable
    or sitting on a cliff of the gap choice (a steep curve between
    two adjacent gaps means inter-event times cluster exactly there —
    pick differently or sessionize twice).

    Determinism: inter-event deltas are exact integer µs (timestamp
    ties break on event_id, the transition-matrix convention); the
    gap grid explodes as a constant array; counts and the ppm rate
    are integer arithmetic end to end.

    Scale: ONE user_id window (the sessionization shuffle every
    consumer already pays — bucket by user_id to make it
    exchange-free) reduces events to deltas; the |grid|× explode is
    map-side on the delta frame and collapses immediately to
    |grid| count rows. No second scan, no join."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        "user_id",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("delta_us"),
    )

    d = pin("gap_deltas", d, fill=False)
    tot = d.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users"),
        F.sum(F.when(F.col("delta_us").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_transitions"),
    ).first()
    if not tot.n_users:
        return spark.createDataFrame(
            [],
            "gap_s BIGINT, n_sessions BIGINT, n_breaks BIGINT,"
            " break_ppm BIGINT",
        )
    n_users, n_trans = int(tot.n_users), int(tot.n_transitions)
    grid = "array(" + ",".join(str(g) for g in GAP_GRID_S) + ")"
    return (
        d.where(F.col("delta_us").isNotNull())
        .select("delta_us", F.explode(F.expr(grid)).alias("gap_i"))
        # cast AFTER the explode: a generator nested in cast() is
        # UNSUPPORTED_GENERATOR in Spark
        .select("delta_us", F.col("gap_i").cast("bigint").alias("gap_s"))
        .groupBy("gap_s")
        .agg(
            F.sum(
                F.when(
                    F.col("delta_us") > F.col("gap_s") * 1000000, 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_breaks")
        )
        .select(
            "gap_s",
            (F.lit(n_users) + F.col("n_breaks")).cast("bigint").alias("n_sessions"),
            "n_breaks",
            F.expr(
                f"cast(n_breaks * 1000000 div greatest({n_trans}, 1)"
                " as bigint)"
            ).alias("break_ppm"),
        )
        .orderBy("gap_s")
    )


# --------------------------------------------------------------------------
# click_asof_tolerance — as-of join with a match-window tolerance (the
# pandas merge_asof(tolerance=...) semantics at scale).
# --------------------------------------------------------------------------
ASOF_TOL_S = 3600  # matches older than 1 h are no match at all


@query(
    "click_asof_tolerance",
    oracle=f"""
    SELECT event_id, user_id,
           CASE WHEN lag_s <= {ASOF_TOL_S} THEN purchase_event_id END
               AS purchase_event_id,
           CASE WHEN lag_s <= {ASOF_TOL_S} THEN purchase_value END
               AS purchase_value,
           CASE WHEN lag_s <= {ASOF_TOL_S} THEN lag_s END AS lag_s
    FROM (
        SELECT c.event_id, c.user_id,
               p.event_id AS purchase_event_id,
               round(p.value, 2) AS purchase_value,
               (epoch_us(c.ts::TIMESTAMP) - epoch_us(p.ts::TIMESTAMP))
                   // 1000000 AS lag_s
        FROM (SELECT * FROM events WHERE event_type = 'click') c
        ASOF LEFT JOIN (
            SELECT user_id, ts, max(event_id) AS event_id,
                   arg_max(value, event_id) AS value
            FROM events WHERE event_type = 'purchase'
            GROUP BY user_id, ts
        ) p ON c.user_id = p.user_id AND c.ts >= p.ts)
    ORDER BY event_id
    """,
)
def click_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join WITH TOLERANCE: each click paired with the user's
    most recent purchase at-or-before it, but only if that purchase
    is within {ASOF_TOL_S} seconds — older matches are no match (the
    pandas merge_asof(tolerance=...) contract, which is what
    attribution actually wants: a purchase from last month does not
    explain today's click). Adds the match lag in whole seconds.

    Same scalable composition as click_asof_purchase (union-tag +
    last-ignorenulls over ONE user_id window — no range join, no
    Python); the tolerance is a post-window integer-µs filter, so the
    plan is identical plus one projection. Ties at equal timestamps
    resolve to the highest purchase event_id on both engines."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("kind"),
        F.col("event_id").alias("purchase_event_id"),
        F.col("value").alias("purchase_value"),
        F.col("ts").alias("purchase_ts"),
        F.lit(None).cast("long").alias("event_id"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("kind"),
        F.lit(None).cast("long").alias("purchase_event_id"),
        F.lit(None).cast("double").alias("purchase_value"),
        F.lit(None).cast("timestamp").alias("purchase_ts"),
        "event_id",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "kind", F.coalesce("event_id", "purchase_event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    joined = (
        purchases.unionByName(clicks)
        .select(
            "event_id",
            "user_id",
            "kind",
            "ts",
            F.last("purchase_event_id", ignorenulls=True)
            .over(w)
            .alias("p_id"),
            F.round(
                F.last("purchase_value", ignorenulls=True).over(w), 2
            ).alias("p_val"),
            F.last("purchase_ts", ignorenulls=True).over(w).alias("p_ts"),
        )
        .where(F.col("kind") == 1)
    )
    lag_s = F.expr("(unix_micros(ts) - unix_micros(p_ts)) div 1000000")
    in_tol = lag_s <= ASOF_TOL_S
    return joined.select(
        "event_id",
        "user_id",
        F.when(in_tol, F.col("p_id")).alias("purchase_event_id"),
        F.when(in_tol, F.col("p_val")).alias("purchase_value"),
        F.when(in_tol, lag_s).cast("bigint").alias("lag_s"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# user_features_point_in_time — leakage-free feature assembly at label
# time (the feature-store training-serving-skew killer).
# --------------------------------------------------------------------------
PIT_SAMPLE = 200


@query(
    "user_features_point_in_time",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_id, event_type, ts::TIMESTAMP AS ts,
               round(value * 100)::BIGINT AS cents
        FROM events),
    feats AS (
        SELECT user_id, event_id, event_type,
               count(*) OVER w - 1 AS n_prior_events,
               sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                   OVER w
                 - CASE WHEN event_type = 'click' THEN 1 ELSE 0 END
                   AS n_prior_clicks,
               sum(CASE WHEN event_type = 'purchase' THEN cents
                        ELSE 0 END) OVER w
                 - CASE WHEN event_type = 'purchase' THEN cents
                        ELSE 0 END AS prior_purchase_cents
        FROM seq
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id,
           n_prior_events::BIGINT AS n_prior_events,
           n_prior_clicks::BIGINT AS n_prior_clicks,
           prior_purchase_cents::BIGINT AS prior_purchase_cents
    FROM feats
    WHERE event_type = 'purchase'
    ORDER BY event_id
    LIMIT {PIT_SAMPLE}
    """,
)
def user_features_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME feature assembly: for every purchase (the label
    event), the user's features as they stood STRICTLY BEFORE it —
    prior event count, prior clicks, prior purchase revenue. This is
    the feature-store join that kills training-serving skew: a model
    trained on user_feature_assembly's whole-history aggregates sees
    the future (the label's own row and everything after), scores
    differently in production, and nobody knows why. The strictly-
    before frame makes the training row identical to what serving
    could have computed at that instant. First {PIT_SAMPLE} label
    events by event_id keep the gate output bounded; the operator
    itself is the unlimited frame.

    Determinism: one total order (ts, event_id) per user (the
    transition-matrix convention); the strictly-before aggregates are
    inclusive running sums minus the current row's own contribution —
    exact integers, and the rewrite avoids a second window frame
    (ROWS ... AND 1 PRECEDING compiles to a separate frame buffer in
    Spark; subtracting the current row reuses the inclusive one).

    Scale: ONE user_id window pass (the sessionization shuffle —
    bucket by user_id to make it exchange-free) computes every
    feature at every label simultaneously; no per-label re-scan, no
    point-in-time range join. At 100 TB this is the entire argument
    for event-sourced feature stores: the window pass is linear, the
    range-join formulation is not."""
    ev = load_table(spark, sf_dir, "events")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_click = F.when(F.col("event_type") == "click", 1).otherwise(0)
    pcents = F.when(
        F.col("event_type") == "purchase", F.col("cents")
    ).otherwise(0)
    feats = seq.select(
        "event_id",
        "user_id",
        "event_type",
        (F.count("*").over(w) - 1).cast("bigint").alias("n_prior_events"),
        (F.sum(is_click).over(w) - is_click)
        .cast("bigint")
        .alias("n_prior_clicks"),
        (F.sum(pcents).over(w) - pcents)
        .cast("bigint")
        .alias("prior_purchase_cents"),
    )
    return (
        feats.where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            "n_prior_events",
            "n_prior_clicks",
            "prior_purchase_cents",
        )
        .orderBy("event_id")
        .limit(PIT_SAMPLE)
    )


# --------------------------------------------------------------------------
# session_conversion_attribution — which entry channel converts?
# user_sessionize counts sessions; the funnel counts step survival; this
# query closes the marketing loop: per event type, how many sessions
# ENTER through it (first event), how many of those convert (contain a
# purchase), and how many conversions it gets credited under LAST-TOUCH
# (the event immediately before the session's first purchase). First- vs
# last-touch disagreement is exactly the signal that entry channels and
# closing channels are different things.
# --------------------------------------------------------------------------
@query(
    "session_conversion_attribution",
    oracle=f"""
    WITH flagged AS (
        SELECT user_id, ts::TIMESTAMP AS ts, event_id, event_type,
               CASE WHEN epoch_us(ts::TIMESTAMP)
                         - epoch_us(lag(ts::TIMESTAMP) OVER w)
                         > {SESSION_GAP_US}
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    numbered AS (
        SELECT user_id, event_id, event_type, ts,
               (sum(new_session) OVER (PARTITION BY user_id ORDER BY ts,
                    event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
                    CURRENT ROW))::BIGINT AS session_seq
        FROM flagged),
    rn AS (
        SELECT user_id, session_seq, event_type,
               row_number() OVER (PARTITION BY user_id, session_seq
                                  ORDER BY ts, event_id) AS pos
        FROM numbered),
    conv AS (
        SELECT user_id, session_seq,
               min(CASE WHEN event_type = 'purchase' THEN pos END) AS p1
        FROM rn GROUP BY user_id, session_seq),
    sess AS (
        SELECT r.user_id, r.session_seq,
               max(CASE WHEN r.pos = 1 THEN r.event_type END)
                   AS entry_type,
               max(c.p1) AS p1,
               max(CASE WHEN c.p1 IS NOT NULL AND r.pos = c.p1 - 1
                        THEN r.event_type END) AS pre_type
        FROM rn r JOIN conv c ON c.user_id = r.user_id
                             AND c.session_seq = r.session_seq
        GROUP BY r.user_id, r.session_seq),
    first_t AS (
        SELECT entry_type AS event_type,
               count(*)::BIGINT AS n_entry_sessions,
               sum(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                   AS n_first_touch_conv
        FROM sess GROUP BY entry_type),
    last_t AS (
        SELECT CASE WHEN p1 = 1 THEN 'direct' ELSE pre_type END
                   AS event_type,
               count(*)::BIGINT AS n_last_touch_conv
        FROM sess WHERE p1 IS NOT NULL
        GROUP BY 1)
    SELECT coalesce(f.event_type, l.event_type) AS event_type,
           coalesce(f.n_entry_sessions, 0)::BIGINT AS n_entry_sessions,
           coalesce(f.n_first_touch_conv, 0)::BIGINT AS n_first_touch_conv,
           (CASE WHEN coalesce(f.n_entry_sessions, 0) = 0 THEN 0
                 ELSE f.n_first_touch_conv * 1000000 // f.n_entry_sessions
            END)::BIGINT AS first_conv_ppm,
           coalesce(l.n_last_touch_conv, 0)::BIGINT AS n_last_touch_conv
    FROM first_t f FULL JOIN last_t l ON l.event_type = f.event_type
    ORDER BY event_type
    """,
)
def session_conversion_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """First-touch vs last-touch conversion attribution over 30-min
    sessions: per event type, sessions ENTERED through it, how many
    of those contain a purchase (first-touch credit, with the ppm
    conversion rate), and how many purchases it sits immediately
    before (last-touch credit; a purchase opening its own session
    credits 'direct'). The two credit columns disagreeing is the
    point — it separates traffic sources from closers.

    Determinism: the session cut is user_sessionize's exact
    integer-µs gap rule; in-session positions are row_number over the
    total (ts, event_id) order; everything downstream is integer
    counts and one trunc-div.

    Scale: two user-keyed window passes (the sessionize shuffle) and
    one (user, session)-keyed aggregate; the attribution close runs
    on the ≤|event types|+1 frame. No new shuffle shape beyond
    user_sessionize itself."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    numbered = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            "event_type",
            F.when(
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
                > SESSION_GAP_US,
                1,
            )
            .otherwise(0)
            .alias("new_session"),
        )
        .withColumn(
            "session_seq", F.sum("new_session").over(run).cast("bigint")
        )
    )
    w_s = Window.partitionBy("user_id", "session_seq").orderBy(
        "ts", "event_id"
    )
    rn = numbered.select(
        "user_id",
        "session_seq",
        "event_type",
        F.row_number().over(w_s).alias("pos"),
    )
    conv = rn.groupBy("user_id", "session_seq").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("pos"))
        ).alias("p1")
    )
    sess = (
        rn.join(conv, ["user_id", "session_seq"])
        .groupBy("user_id", "session_seq")
        .agg(
            F.max(
                F.when(F.col("pos") == 1, F.col("event_type"))
            ).alias("entry_type"),
            F.max("p1").alias("p1"),
            F.max(
                F.when(
                    F.col("p1").isNotNull()
                    & (F.col("pos") == F.col("p1") - 1),
                    F.col("event_type"),
                )
            ).alias("pre_type"),
        )
    )

    sess = pin("attribution_sess", sess, fill=False)
    first_t = sess.groupBy(
        F.col("entry_type").alias("event_type")
    ).agg(
        F.count("*").cast("bigint").alias("n_entry_sessions"),
        F.sum(F.when(F.col("p1").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_first_touch_conv"),
    )
    last_t = (
        sess.where(F.col("p1").isNotNull())
        .groupBy(
            F.when(F.col("p1") == 1, F.lit("direct"))
            .otherwise(F.col("pre_type"))
            .alias("event_type")
        )
        .agg(F.count("*").cast("bigint").alias("n_last_touch_conv"))
    )
    return (
        first_t.join(last_t, "event_type", "full")
        .select(
            "event_type",
            F.coalesce("n_entry_sessions", F.lit(0))
            .cast("bigint")
            .alias("n_entry_sessions"),
            F.coalesce("n_first_touch_conv", F.lit(0))
            .cast("bigint")
            .alias("n_first_touch_conv"),
            F.expr(
                "cast(CASE WHEN coalesce(n_entry_sessions, 0) = 0 THEN 0"
                " ELSE n_first_touch_conv * 1000000 div n_entry_sessions"
                " END as bigint)"
            ).alias("first_conv_ppm"),
            F.coalesce("n_last_touch_conv", F.lit(0))
            .cast("bigint")
            .alias("n_last_touch_conv"),
        )
        .orderBy("event_type")
    )
