"""Skew-mitigation utilities: salted joins and two-stage aggregation.

The synthetic test tables are uniform, so no registered query NEEDS
salting — but at 100 TB skewed keys are the norm (one hot customer,
one viral document). Two mechanisms, in preference order:

1. AQE skew-join splitting (`spark.sql.adaptive.skewJoin.enabled`,
   on in the session factory) — handles sort-merge join skew
   transparently by splitting oversized partitions. Prefer it.
2. Explicit salting (this module) — for aggregations whose single hot
   group overwhelms one reducer even after partial aggregation, and
   for joins where AQE can't help (e.g. a broadcast side too big to
   broadcast and a shuffle key with pathological frequency).

Both transforms preserve row-level semantics (double sums regroup by
ulps — see salted_agg_sum's caveat); tests assert equivalence against
the unsalted plan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_salt(df: DataFrame, buckets: int, col_name: str = "_salt") -> DataFrame:
    """Add a uniform random salt column in [0, buckets)."""
    return df.withColumn(col_name, (F.rand(seed=42) * buckets).cast("int"))


def salted_agg_sum(
    df: DataFrame, key: str, value: str, buckets: int = 16
) -> DataFrame:
    """Two-stage sum: partial aggregate on (key, salt) — spreading one
    hot key over `buckets` reducers — then final aggregate on key.

    Equivalent to `df.groupBy(key).agg(sum(value))` for exact types
    (integers, decimals); for DOUBLE columns the regrouped sum differs
    from the plain plan by ulps (float addition is not associative) —
    sum integer cents / use Decimal when downstream rounding or
    ordering must be bit-stable (see skew_salted_user_totals below).
    Use when a single group's row count dwarfs the rest so even
    map-side partial aggregation leaves one reducer with most of the
    data.
    """
    partial = (
        with_salt(df, buckets)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_partial"))
    )
    return partial.groupBy(key).agg(F.sum("_partial").alias(f"sum_{value}"))


def salted_join(
    skewed: DataFrame, small: DataFrame, key: str, buckets: int = 16
) -> DataFrame:
    """Equi-join a skew-keyed big side against a modest dimension by
    salting the big side and EXPLODING the dimension `buckets`× so each
    salted partition finds its match.

    Use only when the dimension is too big for broadcast but small
    enough to replicate `buckets`× (classic mid-size-dim skew). With a
    broadcastable dim, `F.broadcast` already avoids the skew; with
    sort-merge, prefer AQE skew splitting.
    """
    salted_big = with_salt(skewed, buckets)
    replicated = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(buckets)]))
    )
    return salted_big.join(replicated, [key, "_salt"]).drop("_salt")


def top_frequency_keys(df: DataFrame, key: str, n: int = 10) -> DataFrame:
    """Skew diagnostic: the n heaviest keys with their share of rows."""
    total = df.count()
    return (
        df.groupBy(key)
        .count()
        .withColumn("share", F.round(F.col("count") / F.lit(total), 4))
        .orderBy(F.desc("count"), key)
        .limit(n)
    )


def salt_expr(key: Column, buckets: int) -> Column:
    """Deterministic content-derived salt (hash-based) for cases where
    reproducibility across retries matters more than uniformity."""
    return F.pmod(F.hash(key), F.lit(buckets))


# --------------------------------------------------------------------------
# skew_salted_user_totals — the salted two-stage aggregate, oracle-gated.
# --------------------------------------------------------------------------
from pyspark.sql import SparkSession  # noqa: E402

from open_pulsar_spark.operators.prefix import exclusive_prefix_max, global_prefix  # noqa: E402
from open_pulsar_spark.registry import query  # noqa: E402
from open_pulsar_spark.tables import load_table  # noqa: E402


@query(
    "skew_salted_user_totals",
    oracle="""
    SELECT user_id,
           sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) / 100.0 AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY total_value DESC, user_id
    LIMIT 50
    """,
)
def skew_salted_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 per-user value totals computed through the SALTED
    two-stage aggregate — the hot-key-safe plan — checked against the
    plain GROUP BY oracle, proving the rewrite preserves semantics.

    Values are summed in integer CENTS: salting REGROUPS the sum, and
    a two-stage double sum differs from the oracle's sequential fold
    by ulps — which round(x, 2) then turns into half-cent hash
    mismatches and can flip the rank-50 cut (the q7/q9 lesson in
    relational.py). Integer partials make the salted and plain plans
    bit-identical by construction, so the oracle really does prove the
    rewrite preserves semantics.

    At 100 TB: stage 1 groups on (user_id, salt) so one viral user
    spreads across 16 reducers; stage 2 reduces 16 partials per user.
    Uniform data pays one extra tiny shuffle; skewed data avoids the
    single overwhelmed reducer.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.expr("cast(floor(value * 100 + 0.5d) as bigint)").alias("cents"),
    )
    totals = salted_agg_sum(ev, "user_id", "cents", buckets=16)
    return (
        totals.select("user_id", (F.col("sum_cents") / 100.0).alias("total_value"))
        .orderBy(F.desc("total_value"), "user_id")
        .limit(50)
    )


# --------------------------------------------------------------------------
# events_partition_plan — key-atomic range-partition planning (what
# repartitionByRange decides, surfaced as a graded artifact).
# --------------------------------------------------------------------------
PLAN_PARTS = 32  # target partition count


@query(
    "events_partition_plan",
    oracle=f"""
    WITH c AS (
        SELECT user_id, count(*)::BIGINT AS n FROM events GROUP BY user_id),
    tot AS (SELECT sum(n)::BIGINT AS total FROM c),
    cum AS (
        SELECT user_id, n,
               sum(n) OVER (ORDER BY user_id
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) - n AS start_off
        FROM c),
    asg AS (
        SELECT user_id, n,
               -- HUGEINT before the *P scaling: BIGINT would wrap past
               -- 2^63/P total rows, silently on Spark's side
               (start_off::HUGEINT * {PLAN_PARTS})
                   // (SELECT total FROM tot) AS part
        FROM cum)
    SELECT part::INT AS part,
           min(user_id)::BIGINT AS lo_key,
           max(user_id)::BIGINT AS hi_key,
           count(*)::BIGINT AS n_keys,
           sum(n)::BIGINT AS n_rows,
           (sum(n)::HUGEINT * {PLAN_PARTS} * 1000000
               // (SELECT total FROM tot) - 1000000)::BIGINT AS dev_ppm
    FROM asg
    WHERE (SELECT total FROM tot) > 0
    GROUP BY part
    ORDER BY part
    """,
)
def events_partition_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition PLAN for the events fact on user_id: the
    key-atomic boundary assignment repartitionByRange computes from a
    sample, done exactly — each key's cumulative start offset maps it
    to partition ⌊start·P/N⌋, so keys never split, partitions stay
    contiguous in key order, and the per-partition deviation from the
    ideal N/P (signed ppm) is the skew a layout review reads next to
    events_key_skew_profile (that says WHETHER the key skews; this
    says what the resulting partitions would look like — a single key
    bigger than N/P shows up as one partition's dev_ppm spike that no
    boundary choice can fix, the salting signal).

    Determinism: the cumulative offset is an exact integer prefix sum
    over the per-key counts in user_id order, and the assignment and
    deviations are single integer divisions — bit-identical across
    engines (no sampling, unlike the RangePartitioner it grades).

    Scale: one groupBy reduces the fact to its keys; the prefix sum
    runs distributed (prefix.global_prefix — never a single-partition
    window over the keys frame); the plan aggregate is {PLAN_PARTS}
    rows."""
    ev = load_table(spark, sf_dir, "events").select("user_id")
    c = ev.groupBy("user_id").agg(F.count("*").cast("bigint").alias("cnt"))
    return partition_plan_from_counts(spark, c)


def partition_plan_from_counts(
    spark: SparkSession, counts: DataFrame
) -> DataFrame:
    """(user_id, cnt) per-key counts → the partition plan — THE one
    planning computation, shared by the batch query and the streaming
    statistics ledger's readout (streaming/stats_stream.py maintains
    exactly this count frame for join-size estimation; the same folded
    ledger now also answers 'what should the range boundaries be')."""

    c = counts.select("user_id", F.col("cnt").cast("bigint").alias("cnt"))
    with global_prefix(
        spark, c, [F.asc("user_id")], cum_cols=["cnt"]
    ) as (aug, totals):
        total = int(totals.get("cnt", 0) or 0)
        if total == 0:
            return spark.createDataFrame(
                [],
                "part INT, lo_key BIGINT, hi_key BIGINT, n_keys BIGINT,"
                " n_rows BIGINT, dev_ppm BIGINT",
            )
        asg = aug.select(
            "user_id",
            F.col("cnt").alias("n"),
            # DECIMAL(38,0) before the *P scaling: a BIGINT product
            # wraps (non-ANSI, silently) past 2^63/P total rows while
            # DuckDB raises — exactly the 100 TB divergence to avoid.
            # The quotient itself is < P, so the div result is tiny.
            F.expr(
                f"(cast(cum_cnt - cnt as decimal(38,0)) * {PLAN_PARTS})"
                f" div {total}"
            )
            .cast("int")
            .alias("part"),
        )
        out = (
            asg.groupBy("part")
            .agg(
                F.min("user_id").cast("bigint").alias("lo_key"),
                F.max("user_id").cast("bigint").alias("hi_key"),
                F.count("*").cast("bigint").alias("n_keys"),
                F.sum("n").cast("bigint").alias("n_rows"),
                # same widening: sum(n)*P*1e6 overflows BIGINT past
                # ~2.9e11 total rows; the div quotient is ≤ ~P·1e6 so
                # the final BIGINT cast is always safe
                F.expr(
                    f"cast(cast(sum(n) as decimal(38,0)) * {PLAN_PARTS}"
                    f" * 1000000 div {total} - 1000000 as bigint)"
                ).alias("dev_ppm"),
            )
            .orderBy("part")
        )
        # bounded result: materialize before releasing the rank caches
        return spark.createDataFrame(out.collect(), out.schema)

# --------------------------------------------------------------------------
# events_lateness_profile — the withWatermark() design readout: how late
# would events arrive under each ingest model, and what would each
# candidate delay drop?
# --------------------------------------------------------------------------
WATERMARK_CANDIDATES_S = (0, 3600, 21600, 86400)  # 0s / 1h / 6h / 24h
# Arrival models bracketing real ingests: 'offset' = events arrive in
# event_id order (an ordered broker partition — this corpus measures 0
# lateness, itself a finding); 'daily_batch' = a daily backfill whose
# intra-day order is an ingestion hash (md5-shuffled within each
# event-time day) — the standard worst case for a batch-loaded stream.
LATENESS_MODELS = ("offset", "daily_batch")


@query(
    "events_lateness_profile",
    oracle=f"""
    WITH seq AS (
        SELECT event_id, md5(event_id::VARCHAR) AS h,
               floor(epoch(ts))::BIGINT AS es
        FROM events),
    late AS (
        SELECT 'offset' AS model,
               greatest(coalesce(
                   max(es) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - es, 0), 0)::BIGINT AS lateness_s
        FROM seq
        UNION ALL
        SELECT 'daily_batch',
               greatest(coalesce(
                   max(es) OVER (ORDER BY es // 86400, h, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   - es, 0), 0)::BIGINT
        FROM seq),
    tot AS (SELECT model, count(*)::BIGINT AS n,
                   max(lateness_s)::BIGINT AS mx
            FROM late GROUP BY model),
    grid AS (SELECT unnest([{", ".join(str(s) for s in
                                       WATERMARK_CANDIDATES_S)}
                           ])::BIGINT AS delay_s)
    SELECT l.model, g.delay_s,
           max(t.n) AS n_events,
           sum(CASE WHEN l.lateness_s > g.delay_s THEN 1 ELSE 0 END)::BIGINT
               AS n_dropped,
           (sum(CASE WHEN l.lateness_s > g.delay_s THEN 1 ELSE 0 END)
               * 1000000 // max(t.n))::BIGINT AS dropped_ppm,
           max(t.mx) AS max_lateness_s
    FROM grid g
    CROSS JOIN late l
    JOIN tot t ON t.model = l.model
    GROUP BY l.model, g.delay_s
    ORDER BY l.model, g.delay_s
    """,
)
def events_lateness_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVENT-TIME LATENESS profile — the measurement behind every
    `withWatermark()` delay choice, under two ingest models that
    bracket reality: `offset` (events arrive in event_id order — an
    ordered broker partition; THIS corpus measures zero lateness,
    itself the finding) and `daily_batch` (a daily backfill whose
    intra-day arrival is an ingestion md5 hash — the worst case for a
    batch-loaded stream). For each candidate watermark delay
    ({WATERMARK_CANDIDATES_S} s) the table reports exactly how many
    events a stateful streaming job would DROP as too-late, in ppm:
    pick the first row whose dropped_ppm your pipeline tolerates —
    measured, not guessed. Completes the streaming-design readouts
    next to events_partition_plan (state sizing) and
    session_gap_sensitivity (window sizing).

    Determinism: each model's running max runs over a TOTAL order
    ((event_id) / (day, md5, event_id)); lateness and grid counts are
    exact integers, one trunc-div ppm per row.

    Scale: both running maxima are prefix.exclusive_prefix_max — the
    distributed three-step prefix scaffold, never a single-partition
    window over the fact table; the candidate grid is a map-side
    explode of 4 literals; the result is |models|×|grid| rows,
    materialized before the prefix caches release."""

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.md5(F.col("event_id").cast("string")).alias("h"),
        F.expr("cast(floor(unix_timestamp(ts)) as bigint)").alias("es"),
    )
    orders = {
        "offset": ["event_id"],
        "daily_batch": [F.expr("es div 86400"), F.col("h"), F.col("event_id")],
    }
    schema = (
        "model STRING, delay_s BIGINT, n_events BIGINT, n_dropped BIGINT,"
        " dropped_ppm BIGINT, max_lateness_s BIGINT"
    )
    grid = "array(" + ",".join(f"{s}L" for s in WATERMARK_CANDIDATES_S) + ")"

    def profile_model(model: str) -> list[tuple]:
        # ONE action per model: every late row carries every grid
        # delay, so count(*)/max(lateness) per delay group equal the
        # global n/max — the old separate totals pass was a second full
        # scan of the prefix frame for numbers the grid aggregate
        # already had (guide §1.2: don't compute things twice).
        with exclusive_prefix_max(spark, ev, orders[model], "es") as aug:
            late = aug.select(
                F.greatest(
                    F.coalesce(F.col("prev_max") - F.col("es"), F.lit(0)),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("lateness_s")
            )
            rows = (
                late.select(
                    "lateness_s", F.explode(F.expr(grid)).alias("delay_s")
                )
                .groupBy("delay_s")
                .agg(
                    F.count("*").cast("bigint").alias("n"),
                    F.sum(
                        F.when(F.col("lateness_s") > F.col("delay_s"), 1)
                        .otherwise(0)
                    )
                    .cast("bigint")
                    .alias("n_dropped"),
                    F.max("lateness_s").cast("bigint").alias("mx"),
                )
                .collect()
            )
            return [
                (
                    model,
                    int(r.delay_s),
                    int(r.n),
                    int(r.n_dropped),
                    int(r.n_dropped) * 1000000 // int(r.n),
                    int(r.mx),
                )
                for r in rows
            ]

    # The two ingest models are independent job chains over the same
    # input: submit them concurrently so the second model's range
    # sampling back-fills the first model's stragglers (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    out_rows: list[tuple] = []
    with ThreadPoolExecutor(max_workers=len(LATENESS_MODELS)) as pool:
        for rows in pool.map(profile_model, LATENESS_MODELS):
            out_rows.extend(rows)
    return spark.createDataFrame(out_rows, schema).orderBy(
        "model", "delay_s"
    )
