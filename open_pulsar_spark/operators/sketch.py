"""Distinct-count sketching over the corpus: a KMV (k-minimum-values)
sketch with an exact-count accuracy harness.

The reference has no sketching surface; this is the north-star "novel
sketch" operator the engine needs at 100 TB, where exact per-group
distinct counts of tokens are a full shuffle of the token universe.
KMV ships k doubles per (group, partition) instead:

  - hash every token to u ∈ [0,1) (first 60 bits of md5 / 2^60 —
    deterministic, identical in DuckDB, exact in double);
  - keep the k smallest u per group: done in TWO phases, a
    per-input-partition partial (bounded: k values per group per
    partition, computed map-side) and a merge (k-min of the union of
    k-min lists == global k-min, because any value in the true global
    bottom-k is in its partition's bottom-k);
  - estimate distinct = (k-1) / u_k (the classic KMV estimator,
    Bar-Yossef et al. 2002): u_k is the k-th order statistic of n
    uniform draws, E[u_k] ≈ k/(n+1).

The sketch is MERGEABLE — the merge phase is an ordinary aggregate, so
it composes with partial aggregation, incremental refresh, and
cross-dataset unions; at 100 TB the shuffle is k×8 bytes per group per
map task, independent of corpus size.

The query also computes the exact distinct count and relative error —
the same measured-accuracy pattern as ann_lsh_recall: the approximate
path is only "done" when its error is observable next to ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import pin
from open_pulsar_spark.operators.dedup import _SHINGLE_SQL
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table

KMV_K = 64

# First 15 hex chars of md5 = 60 bits; dividing by 2^60 is exact in
# double (power of two), so Spark and DuckDB produce bit-identical u.
# The templates are the ONE copy of the construction; instantiations
# below bind the hashed column (token / user id).
_U_SPARK_T = "conv(substring(md5({col}), 1, 15), 16, 10) / 1152921504606846976"
_U_SQL_T = (
    "('0x' || substr(md5({col}), 1, 15))::BIGINT / 1152921504606846976.0"
)
_U_SPARK = _U_SPARK_T.format(col="t")
_U_SQL = _U_SQL_T.format(col="t")


# tok/hashed/ranked CTEs: per-source distinct-token hashes u ∈ [0,1)
# with their per-source rank — the ONE SQL copy of the KMV hash/rank
# pipeline shared by the distinct-count and pairwise-overlap oracles
# (their Spark twins share _kmv_sketches).
_KMV_RANK_CTES = f"""tok AS (
        SELECT DISTINCT source, unnest(str_split(text, ' ')) AS t
        FROM documents
    ),
    hashed AS (SELECT source, t, {_U_SQL} AS u FROM tok),
    ranked AS (
        SELECT source, u,
               row_number() OVER (PARTITION BY source ORDER BY u) AS rn
        FROM hashed
    )"""


def _kmv_sketches(tokens: DataFrame) -> DataFrame:
    """(source, mins): the bottom-{KMV_K} distinct token hashes per
    source — the mergeable KMV sketch itself, shared by
    source_kmv_distinct and source_overlap_kmv.

    Phase 1 keeps the k smallest hashes per (source, Arrow batch),
    truncated INSIDE the map task — batch boundaries only shape the
    partials, never the result: the merged bottom-k is
    partitioning-invariant. Phase 2 merges with one aggregate over the
    tiny (source, u) partial rows. The same token seen in two batches
    survives as a duplicate u across partials; the merge dedups with
    array_distinct before slicing — bottom-k of the distinct union of
    per-batch bottom-ks == global distinct bottom-k. (A
    groupBy(source, partition_id) + slice formulation is NOT bounded:
    slice projects AFTER the aggregation, so the exchange and the agg
    buffers still carry every distinct hash.)"""
    return _kmv_merge(_kmv_partial(tokens))


def bottom_k_kernel(key: str, val: str, k: int):
    """Factory for the Arrow bottom-k partial kernel: per batch, the k
    smallest distinct `val`s per `key` — truncation happens INSIDE the
    map task, so no key ever carries more than k values per partial
    whatever the input size. The ONE bottom-k implementation the KMV
    sketch family, kmv_stream, and text.term_posting_index all run."""

    def kernel(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            yield (
                pdf.drop_duplicates([key, val])
                .sort_values(val)
                .groupby(key, sort=False)
                .head(k)[[key, val]]
            )

    return kernel


def bottom_k_merge_expr(val: str, k: int):
    """The matching duplicate-TOLERANT merge aggregate: the same value
    seen in two batches (or a replayed segment) survives as a
    duplicate across partials; array_distinct BEFORE slicing makes
    bottom-k of the distinct union of per-batch bottom-ks == the
    global distinct bottom-k — and makes the streaming fold
    replay-safe with no epoch bookkeeping beyond overwrite."""
    return F.slice(F.array_distinct(F.array_sort(F.collect_list(val))), 1, k)


_bottom_k_kernel = bottom_k_kernel("source", "u", KMV_K)


def _kmv_partial(tokens: DataFrame) -> DataFrame:
    """(source, u) bottom-k partial rows for a token frame — ≤ k rows
    per source per Arrow batch, whatever the input size."""
    hashed = tokens.select("source", F.expr(_U_SPARK).alias("u"))
    return hashed.mapInPandas(_bottom_k_kernel, "source STRING, u DOUBLE")


def _kmv_merge(partial: DataFrame) -> DataFrame:
    """Merge bottom-k partial rows → (source, mins) with the shared
    duplicate-tolerant merge (see bottom_k_merge_expr)."""
    return partial.groupBy("source").agg(
        bottom_k_merge_expr("u", KMV_K).alias("mins")
    )


def _kmv_estimate_col(mins):
    """The KMV estimate from a merged mins array: (k-1)/u_k when the
    sketch saturated, exact size otherwise (a group with fewer than k
    distinct values keeps ALL of them). Shared by the batch query and
    kmv_stream so both report the identical number."""
    u_k = F.try_element_at(mins, F.lit(KMV_K))
    return F.when(
        u_k.isNotNull(), F.round((KMV_K - 1) / u_k).cast("bigint")
    ).otherwise(F.size(mins).cast("bigint"))


@query(
    "source_kmv_distinct",
    oracle=f"""
    WITH {_KMV_RANK_CTES},
    kth AS (SELECT source, u AS u_k FROM ranked WHERE rn = {KMV_K}),
    exact AS (SELECT source, count(DISTINCT t)::BIGINT AS n_exact FROM tok GROUP BY source)
    SELECT e.source, e.n_exact,
           CASE WHEN k.u_k IS NOT NULL
                THEN round(({KMV_K} - 1) / k.u_k)::BIGINT
                ELSE e.n_exact END                            AS n_est,
           round(abs(CASE WHEN k.u_k IS NOT NULL
                          THEN round(({KMV_K} - 1) / k.u_k)::BIGINT
                          ELSE e.n_exact END - e.n_exact)
                 * 1.0 / e.n_exact, 6)                        AS rel_err
    FROM exact e LEFT JOIN kth k USING (source)
    ORDER BY source
    """,
)
def source_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-token estimate via a mergeable KMV sketch,
    next to the exact count and the relative error.

    Phase 1 keeps the k smallest hashes per (source, Arrow batch),
    truncated INSIDE the map task — batch boundaries only shape the
    partials, never the result: the merged bottom-k is
    partitioning-invariant. Phase 2 merges with one aggregate over the
    tiny (source, u) partial rows. The exact count (the harness half)
    is the expensive full distinct — at 100 TB you run the sketch and
    SAMPLE the exact check.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select("source", F.explode(F.split("text", " ")).alias("t"))
    # The sketch half never shuffles tokens: hashing runs in the JVM
    # (bit-identical to the oracle) and the bottom-k partial truncates
    # inside the map task (see _kmv_sketches).
    merged = _kmv_sketches(tokens)
    est = _kmv_estimate_col(F.col("mins"))
    # The exact half (the accuracy harness) is the only token shuffle
    # in the plan — count_distinct plans its own partial dedup, so a
    # separate .distinct() pass would just shuffle the universe twice.
    exact = tokens.groupBy("source").agg(
        F.count_distinct("t").alias("n_exact")
    )
    return (
        exact.join(merged, "source")
        .select(
            "source",
            "n_exact",
            est.alias("n_est"),
            F.round(
                F.abs(est - F.col("n_exact")) * F.lit(1.0) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# source_overlap_kmv — pairwise source vocabulary overlap from the KMV
# sketches (Beyer et al. multiset synopses), with the exact harness.
# --------------------------------------------------------------------------
@query(
    "source_overlap_kmv",
    oracle=f"""
    WITH {_KMV_RANK_CTES},
    sk AS (SELECT source, list(u ORDER BY u) AS mins
           FROM ranked WHERE rn <= {KMV_K} GROUP BY source),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b,
               list_sort(list_distinct(list_concat(a.mins, b.mins))) AS comb,
               a.mins AS mins_a, b.mins AS mins_b
        FROM sk a JOIN sk b ON a.source < b.source
    ),
    est AS (
        SELECT source_a, source_b,
               len(comb[1:{KMV_K}]) AS kk,
               CASE WHEN len(comb) >= {KMV_K}
                    THEN round(({KMV_K} - 1) / comb[{KMV_K}])::BIGINT
                    ELSE len(comb)::BIGINT END AS n_union_est,
               len(list_intersect(list_intersect(comb[1:{KMV_K}], mins_a),
                                  mins_b)) AS n_both
        FROM pairs
    ),
    ex AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*)::BIGINT AS n_exact
        FROM tok a JOIN tok b ON a.t = b.t AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT e.source_a, e.source_b,
           coalesce(x.n_exact, 0) AS n_exact,
           round(n_both * 1.0 / kk * n_union_est)::BIGINT AS n_est,
           round(n_both * 1.0 / kk, 6) AS jaccard_est,
           round(abs(round(n_both * 1.0 / kk * n_union_est)
                     - coalesce(x.n_exact, 0))
                 * 1.0 / greatest(coalesce(x.n_exact, 0), 1), 6) AS rel_err
    FROM est e LEFT JOIN ex x USING (source_a, source_b)
    ORDER BY source_a, source_b
    """,
)
def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise DISTINCT-VOCABULARY overlap between sources, estimated
    from the per-source KMV sketches alone — the "how much do my crawl
    sources duplicate each other" diagnostic, answered WITHOUT ever
    joining two corpora.

    Estimator (Beyer et al. 2007 multiset synopses): the bottom-k of
    the union of two KMV sketches IS the KMV sketch of the union set,
    so |A∪B| gets the standard (k-1)/u_k estimate; the fraction ρ of
    union-sketch members present in BOTH input sketches estimates
    Jaccard, and |A∩B| ≈ ρ·|A∪B|. When the combined sketch holds
    fewer than k values both inputs were exhaustive and every number
    is exact — the estimator degrades to truth on small sets.

    Scale: the corpus collapses to k doubles per source map-side
    (_kmv_sketches — the same partial/merge contract as
    source_kmv_distinct); the pair enumeration is a self-join of the
    |sources|-row sketch table (config-sized by construction — the
    broadcast nested loop is over sketches, never data). The exact
    intersection half is the harness: one token equi-join you SAMPLE
    at 100 TB, run here so the estimator's error stays observable.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select("source", F.explode(F.split("text", " ")).alias("t"))
    sk = _kmv_sketches(tokens)

    a = sk.select(F.col("source").alias("source_a"), F.col("mins").alias("mins_a"))
    b = sk.select(F.col("source").alias("source_b"), F.col("mins").alias("mins_b"))
    comb_full = F.array_sort(F.array_distinct(F.concat("mins_a", "mins_b")))
    pairs = a.join(
        F.broadcast(b), F.col("source_a") < F.col("source_b")
    ).withColumn("comb", F.slice(comb_full, 1, KMV_K))
    # saturation test on the sliced column itself: size(comb) == k iff
    # the unsliced union had >= k values (slice keeps everything when
    # there are fewer), so the unsliced array needn't be re-evaluated
    kk = F.size("comb")
    n_union_est = F.when(
        kk == KMV_K,
        F.round((KMV_K - 1) / F.element_at("comb", KMV_K)).cast("bigint"),
    ).otherwise(kk.cast("bigint"))
    n_both = F.size(
        F.array_intersect(F.array_intersect("comb", "mins_a"), F.col("mins_b"))
    )
    est = pairs.select(
        "source_a",
        "source_b",
        kk.alias("kk"),
        n_union_est.alias("n_union_est"),
        n_both.alias("n_both"),
    )

    # the exact harness half: distinct (source, token) equi-join
    tok = tokens.distinct()
    ta = tok.select(F.col("source").alias("source_a"), "t")
    tb = tok.select(F.col("source").alias("source_b"), "t")
    exact = (
        ta.join(tb, "t")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_exact"))
    )

    n_est = F.round(F.col("n_both") * 1.0 / F.col("kk") * F.col("n_union_est")).cast(
        "bigint"
    )
    n_exact = F.coalesce("n_exact", F.lit(0)).cast("bigint")
    return (
        est.join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            n_exact.alias("n_exact"),
            n_est.alias("n_est"),
            F.round(F.col("n_both") * 1.0 / F.col("kk"), 6).alias("jaccard_est"),
            F.round(
                F.abs(n_est - n_exact) * 1.0 / F.greatest(n_exact, F.lit(1)), 6
            ).alias("rel_err"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# value_quantile_sketch — mergeable hash-sample quantile estimate + exact
# harness (same contract as source_kmv_distinct: the approximate path
# ships with its error observable).
# --------------------------------------------------------------------------
SAMPLE_K = 256
_PS = (0.5, 0.9, 0.99)
_PS_SQL = "[" + ", ".join(str(p) for p in _PS) + "]"
_PS_SPARK = "array(" + ", ".join(f"{p}D" for p in _PS) + ")"  # D: double literals




def _quantile_keyed(events: DataFrame) -> DataFrame:
    """(value, event_id, hk) with NULLs excluded on both engine sides
    (engine default NULL ordering differs; see the oracle comment)."""
    return events.where(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    ).select(
        "value", "event_id", F.md5(F.col("event_id").cast("string")).alias("hk")
    )


def quantile_sample(events: DataFrame) -> DataFrame:
    """THE bottom-k-by-hash sample (k={SAMPLE_K}): the k rows with the
    smallest (md5(event_id), event_id) key. Mergeable like KMV — the
    bottom-k of a union is the bottom-k of the per-part bottom-ks —
    and shared by the batch query and the streaming twin so the two
    cannot sample differently. Executes as TakeOrderedAndProject."""
    return _quantile_keyed(events).orderBy("hk", "event_id").limit(SAMPLE_K)


def quantile_est_from_sample(samp: DataFrame) -> DataFrame:
    """(p, est) nearest-rank quantile picks from a sample frame: one
    sorted-array row, p-list exploded over it — no join. (value,
    event_id) tiebreak keeps both engines on the same row."""
    samp_row = samp.agg(
        F.sort_array(F.collect_list(F.struct("value", "event_id"))).alias("sv")
    ).select("sv", F.size("sv").alias("k"))
    return samp_row.select(
        F.explode(F.expr(_PS_SPARK)).alias("p"), "sv", "k"
    ).select(
        "p",
        F.round(
            F.element_at(
                "sv", (F.floor(F.col("p") * (F.col("k") - 1)) + 1).cast("int")
            )["value"],
            4,
        ).alias("est"),
    )


@query(
    "value_quantile_sketch",
    oracle=f"""
    WITH keyed AS (SELECT value, event_id, md5(event_id::VARCHAR) AS hk
                   FROM events
                   -- NULLs excluded on BOTH sides: Spark sorts NULLS
                   -- FIRST ascending, DuckDB NULLS LAST — one null row
                   -- would shift every rank and move the quantile picks
                   WHERE value IS NOT NULL AND event_id IS NOT NULL),
    samp AS (SELECT value, event_id FROM keyed ORDER BY hk, event_id LIMIT {SAMPLE_K}),
    sr AS (SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
                  count(*) OVER () AS k FROM samp),
    fr AS (SELECT value, row_number() OVER (ORDER BY value, event_id) AS rn,
                  count(*) OVER () AS n FROM keyed),
    ps AS (SELECT unnest({_PS_SQL}::DOUBLE[]) AS p),
    est AS (SELECT p, round(value, 4) AS est
            FROM ps JOIN sr ON sr.rn = floor(p * (sr.k - 1))::BIGINT + 1),
    ex AS (SELECT p, round(value, 4) AS exact
           FROM ps JOIN fr ON fr.rn = floor(p * (fr.n - 1))::BIGINT + 1)
    SELECT p, est, exact, round(abs(est - exact), 4) AS abs_err
    FROM est JOIN ex USING (p)
    ORDER BY p
    """,
)
def value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimates from a deterministic bottom-k-by-hash sample
    (k={SAMPLE_K}) next to the exact quantiles and the absolute error.

    The sample IS a mergeable sketch: the k rows with the smallest
    md5(event_id) — the bottom-k of a union is the bottom-k of the
    per-partition bottom-ks (same property KMV uses), so Spark executes
    it as TakeOrderedAndProject: O(k) state per partition, no full
    sort, no shuffle of the value universe. Quantile picks index into
    the SORTED sample at floor(p·(k−1))+1 (nearest-rank, (value,
    event_id)-tiebroken so both engines pick the same row). The exact
    half is the harness — a full-order row_number, the cost the sketch
    exists to avoid; at 100 TB you run the sketch and sample the exact
    check.
    """
    ev = load_table(spark, sf_dir, "events")
    est = quantile_est_from_sample(quantile_sample(ev))
    # the exact harness needs the full keyed frame, not just the sample
    keyed = _quantile_keyed(ev)

    w = Window.orderBy("value", "event_id")
    fr = keyed.select(
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(Window.partitionBy()).alias("n"),
    )
    # tag each row with every p whose nearest-rank position it is
    # (JVM-side array filter; no non-equi join, no driver collect)
    ex = (
        fr.select(
            "value",
            F.explode(
                F.expr(
                    f"filter({_PS_SPARK}, p -> rn = cast(floor(p * (n - 1)) as bigint) + 1)"
                )
            ).alias("p"),
        )
        .select("p", F.round("value", 4).alias("exact"))
    )
    return (
        est.join(ex, "p")
        .select("p", "est", "exact", F.round(F.abs(F.col("est") - F.col("exact")), 4).alias("abs_err"))
        .orderBy("p")
    )


# --------------------------------------------------------------------------
# shingle_cms_heavy_hitters — count-min sketch + exact-count error harness.
# --------------------------------------------------------------------------
CMS_DEPTH = 4
CMS_WIDTH = 1024
CMS_TOP = 20

# depth-seeded 60-bit md5 slot, identical in Spark and DuckDB: the item
# is salted with its depth index so the d rows are independent hashes.
_CMS_SLOT_SPARK = (
    "cast(conv(substring(md5(concat(cast(d as string), '|', t)), 1, 15), 16, 10)"
    f" as bigint) % {CMS_WIDTH}"
)
_CMS_SLOT_SQL = (
    "('0x' || substr(md5(d::VARCHAR || '|' || {item}), 1, 15))::BIGINT"
    f" % {CMS_WIDTH}"
)


@query(
    "shingle_cms_heavy_hitters",
    oracle=f"""
    WITH shingled AS ({_SHINGLE_SQL}),
    tok AS (SELECT unnest(sh) AS t FROM shingled),
    counts AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    top AS (SELECT t, c FROM counts ORDER BY c DESC, t LIMIT {CMS_TOP}),
    depths AS (SELECT unnest(generate_series(0, {CMS_DEPTH - 1})) AS d),
    slots AS (
        SELECT d, {_CMS_SLOT_SQL.format(item="t")} AS slot, count(*) AS cnt
        FROM tok CROSS JOIN depths
        GROUP BY 1, 2
    ),
    est AS (
        SELECT top.t, top.c, min(s.cnt) AS c_cms
        FROM top CROSS JOIN depths dd
        JOIN slots s ON s.d = dd.d
                    AND s.slot = ('0x' || substr(md5(dd.d::VARCHAR || '|' || top.t), 1, 15))::BIGINT % {CMS_WIDTH}
        GROUP BY top.t, top.c
    )
    SELECT t AS shingle, c AS n_exact, c_cms::BIGINT AS n_cms,
           round((c_cms - c) * 1.0 / c, 6) AS rel_overcount
    FROM est
    ORDER BY n_exact DESC, shingle
    """,
)
def shingle_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus's (per-doc distinct) shingle
    stream, read back at the true top-20 shingles next to their exact
    counts and the sketch's relative overcount.

    KMV (above) answers "how many distinct"; CMS answers "how often" —
    the other mergeable frequency primitive a 100 TB profile layer
    needs. The sketch is a (depth × width) counter grid: each
    occurrence increments one counter per depth row (depth-salted
    hash), a point estimate is the min over its depth counters —
    always an OVERcount (collisions only add), which the harness makes
    observable per item.

    Scale: the counter build is one aggregate whose key space is
    depth × width (4096 cells) regardless of corpus size — classic
    map-side partial aggregation, mergeable across datasets/days by
    plain cell-wise sum. The top-k read-back joins a {CMS_TOP}-row
    broadcast against the 4096-cell grid.
    """
    import pandas as pd

    from open_pulsar_spark.operators.dedup import shingle_stream_kernel
    from open_pulsar_spark.tables import widen_for_kernel

    # Shingle via the SHARED Arrow kernel (dedup.shingle_stream_kernel,
    # also the streaming CMS's kernel) — the interpreted JVM
    # higher-order transform costs seconds per million shingles (see
    # dedup._minhash_sigs), and this query needs the stream TWICE
    # (counter build + exact counts), so it is computed once into a
    # cached string column.

    tok = pin(
        "cms_tok",
        widen_for_kernel(
            load_table(spark, sf_dir, "documents").select("text")
        ).mapInPandas(shingle_stream_kernel, "t string"),
        fill=True,
    )

    depth_col = F.explode(F.array(*[F.lit(d) for d in range(CMS_DEPTH)])).alias("d")
    slots = (
        tok.select("t", depth_col)
        .select("d", F.expr(_CMS_SLOT_SPARK).alias("slot"))
        .groupBy("d", "slot")
        .agg(F.count("*").alias("cnt"))
    )

    counts = tok.groupBy("t").agg(F.count("*").alias("c"))
    top = counts.orderBy(F.desc("c"), "t").limit(CMS_TOP)
    probes = top.select("t", "c", depth_col).select(
        "t", "c", "d", F.expr(_CMS_SLOT_SPARK).alias("slot")
    )
    est = (
        F.broadcast(probes)
        .join(slots, ["d", "slot"])
        .groupBy("t", "c")
        .agg(F.min("cnt").alias("c_cms"))
    )
    return est.select(
        F.col("t").alias("shingle"),
        F.col("c").alias("n_exact"),
        F.col("c_cms").cast("bigint").alias("n_cms"),
        F.round((F.col("c_cms") - F.col("c")) * 1.0 / F.col("c"), 6).alias(
            "rel_overcount"
        ),
    ).orderBy(F.desc("n_exact"), "shingle")


# --------------------------------------------------------------------------
# events_kmv_weekly_rollup — sketch MERGEABILITY across rollup levels.
# --------------------------------------------------------------------------
# The shared 60-bit construction bound to the user id's decimal string.
_UU_SPARK = _U_SPARK_T.format(col="cast(user_id as string)")
_UU_SQL = _U_SQL_T.format(col="user_id::VARCHAR")


@query(
    "events_kmv_weekly_rollup",
    oracle=f"""
    WITH ev AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(date_trunc('week', ts) AS DATE) AS week,
               {_UU_SQL} AS u
        FROM events
    ),
    du AS (SELECT DISTINCT day, week, u FROM ev),
    ranked AS (SELECT day, week, u,
                      row_number() OVER (PARTITION BY day ORDER BY u) AS rn
               FROM du),
    daysk AS (SELECT day, week, u FROM ranked WHERE rn <= {KMV_K}),
    mdist AS (SELECT DISTINCT week, u FROM daysk),
    mranked AS (SELECT week, u,
                       row_number() OVER (PARTITION BY week ORDER BY u) AS rn
                FROM mdist),
    msz AS (SELECT week, count(*) AS sz FROM mranked GROUP BY week),
    kth AS (SELECT week, u FROM mranked WHERE rn = {KMV_K}),
    exact AS (
        SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
               count(DISTINCT date_trunc('day', ts))::BIGINT AS n_days,
               count(DISTINCT user_id)::BIGINT AS n_exact
        FROM events GROUP BY 1
    )
    SELECT e.week, e.n_days, e.n_exact,
           CASE WHEN k.u IS NOT NULL
                THEN round(({KMV_K} - 1) / k.u)::BIGINT
                ELSE m.sz::BIGINT END AS n_est,
           round(abs(CASE WHEN k.u IS NOT NULL
                          THEN round(({KMV_K} - 1) / k.u)::BIGINT
                          ELSE m.sz::BIGINT END - e.n_exact)
                 * 1.0 / e.n_exact, 6) AS rel_err
    FROM exact e
    JOIN msz m USING (week)
    LEFT JOIN kth k USING (week)
    ORDER BY week
    """,
)
def events_kmv_weekly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user rollup that NEVER re-reads the fact table: daily
    KMV sketches of the user-id universe merge into weekly estimates —
    the property that makes a sketch-backed rollup cascade work
    (events_rollup_cascade maintains additive counts; distinct counts
    don't add, but bottom-k sketches MERGE: week sketch = bottom-k of
    the distinct union of its day sketches). The exact weekly distinct
    and the relative error ride along as the accuracy harness, the
    measured-error contract of the sketch family.

    Scale: the daily partial truncates to k hashes per (day, Arrow
    batch) INSIDE the map task (bottom_k_kernel — the one bottom-k
    implementation); the week level consumes the ≤ k×|days| sketch
    rows only. At 100 TB the weekly/monthly/yearly levels are all
    re-merges of the same daily sketch table — this query is the
    day→week edge of that cascade, plus the (sampled-at-scale) exact
    half.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.expr(_UU_SPARK).alias("u"),
    )
    partial = ev.mapInPandas(
        bottom_k_kernel("day", "u", KMV_K), "day DATE, u DOUBLE"
    )
    daysk = partial.groupBy("day").agg(
        bottom_k_merge_expr("u", KMV_K).alias("mins")
    )
    weeksk = (
        daysk.select(
            F.to_date(F.date_trunc("week", "day")).alias("week"),
            F.explode("mins").alias("u"),
        )
        .groupBy("week")
        .agg(bottom_k_merge_expr("u", KMV_K).alias("mins"))
    )
    est = _kmv_estimate_col(F.col("mins"))
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.to_date(F.date_trunc("week", "ts")).alias("week"))
        .agg(
            F.count_distinct(F.date_trunc("day", "ts")).alias("n_days"),
            F.count_distinct("user_id").alias("n_exact"),
        )
    )
    return (
        exact.join(weeksk, "week")
        .select(
            "week",
            "n_days",
            "n_exact",
            est.alias("n_est"),
            F.round(
                F.abs(est - F.col("n_exact")) * F.lit(1.0) / F.col("n_exact"),
                6,
            ).alias("rel_err"),
        )
        .orderBy("week")
    )


# --------------------------------------------------------------------------
# events_hll_distinct — integer-exact HyperLogLog, measured vs exact.
# --------------------------------------------------------------------------
HLL_M = 64          # registers (j = first md5 byte mod 64 — exact, 256 = 4·64)
HLL_RMAX = 25       # register cap: 2^(RMAX)·m²·alpha stays inside int64
HLL_ALPHA_PPM = 709341           # round(1e6 · 0.7213 / (1 + 1.079/64))
HLL_EST_NUM = 97491084694781952  # ALPHA_PPM · m² · 2^RMAX  (< 2^63)

# rho = leading-zero count of the 52-bit suffix + 1, computed from the
# HEX STRING (count leading '0' chars, then a 15-way nibble CASE) —
# never via float log2, whose boundary rounding can disagree between
# engines. The templates are the ONE copy of the construction; the
# Spark/SQL pair below must stay in lockstep.
_HLL_LZ_SQL = (
    "CASE WHEN nib IN ('8','9','a','b','c','d','e','f') THEN 0 "
    "WHEN nib IN ('4','5','6','7') THEN 1 "
    "WHEN nib IN ('2','3') THEN 2 WHEN nib = '1' THEN 3 ELSE 0 END"
)


def _hll_user_day_key():
    """The user-day sketch key (user_id '-' yyyy-MM-dd) — one copy,
    shared by the sketch side, the exact side, and the streaming
    twin, so the three can never hash different keys."""
    return F.concat_ws(
        "-",
        F.col("user_id").cast("string"),
        F.date_format(F.to_date("ts"), "yyyy-MM-dd"),
    )


def hll_partial(keyed: DataFrame, group: str = "event_type") -> DataFrame:
    """(group, key) rows → per-group register maxima (group, j, r):
    the mergeable HLL partial. Register index is the first md5 byte
    mod HLL_M (exact — 256 is a multiple of {HLL_M}); rho is the
    string-derived leading-zero count (module constants). ≤ HLL_M rows
    per group leave this aggregate whatever the input size, and
    re-merging partials is idempotent (max of max)."""
    h = F.md5("key")
    rest = F.expr("substring(h, 3, 13)")
    lz = F.length(F.regexp_extract(rest, "^(0*)", 1))
    parts = keyed.select(group, h.alias("h")).select(
        group,
        F.expr(f"conv(substring(h, 1, 2), 16, 10) % {HLL_M}")
        .cast("bigint")
        .alias("j"),
        lz.alias("lz"),
        F.substring(rest, lz + 1, F.lit(1)).alias("nib"),
    )
    rho = F.least(F.lit(HLL_RMAX), 4 * F.col("lz") + F.expr(_HLL_LZ_SQL) + 1)
    return parts.groupBy(group, "j").agg(F.max(rho).cast("int").alias("r"))


def hll_merge(raw: DataFrame, group: str = "event_type") -> DataFrame:
    """Union of register partials → merged registers: max per
    (group, j). Idempotent — duplicated partials, replays, and
    mid-compaction double-reads cannot move a register."""
    return raw.groupBy(group, "j").agg(F.max("r").alias("r"))


def hll_fold(regs: DataFrame, group: str = "event_type") -> DataFrame:
    """Merged registers → (group, n_registers, s_scaled): the scaled
    harmonic-sum denominator, all integer (module docstring)."""
    return regs.groupBy(group).agg(
        F.count("*").cast("bigint").alias("n_registers"),
        (
            F.sum(F.expr(f"shiftleft(1L, cast({HLL_RMAX} - r AS int))"))
            + (HLL_M - F.count("*")) * F.lit(1 << HLL_RMAX)
        )
        .cast("bigint")
        .alias("s_scaled"),
    )


def hll_estimate_col():
    """The integer HLL estimate from a folded s_scaled column."""
    return F.expr(f"({HLL_EST_NUM} div s_scaled) div 1000000")


@query(
    "events_hll_distinct",
    oracle=f"""
    WITH keyed AS (
        SELECT event_type,
               md5(user_id::VARCHAR || '-' || (ts::DATE)::VARCHAR) AS h
        FROM events),
    parts AS (
        SELECT event_type,
               ('0x' || substr(h, 1, 2))::BIGINT % {HLL_M} AS j,
               length(regexp_extract(substr(h, 3, 13), '^(0*)', 1)) AS lz,
               substr(substr(h, 3, 13),
                      length(regexp_extract(substr(h, 3, 13), '^(0*)', 1)) + 1,
                      1) AS nib
        FROM keyed),
    regs AS (
        SELECT event_type, j,
               max(least({HLL_RMAX}, 4 * lz + {_HLL_LZ_SQL} + 1)) AS r
        FROM parts GROUP BY 1, 2),
    folded AS (
        SELECT event_type,
               count(*)::BIGINT AS n_registers,
               (sum(1::BIGINT << ({HLL_RMAX} - r))
                + ({HLL_M} - count(*)) * (1::BIGINT << {HLL_RMAX}))::BIGINT
                   AS s_scaled
        FROM regs GROUP BY 1),
    exact AS (
        SELECT event_type,
               count(DISTINCT user_id || '-' || (ts::DATE)::VARCHAR)::BIGINT
                   AS exact_keys
        FROM events GROUP BY 1)
    SELECT f.event_type, f.n_registers,
           e.exact_keys,
           ({HLL_EST_NUM} // f.s_scaled) // 1000000 AS hll_keys,
           abs(({HLL_EST_NUM} // f.s_scaled) // 1000000 - e.exact_keys)
               * 1000000 // e.exact_keys AS err_ppm
    FROM folded f JOIN exact e USING (event_type)
    ORDER BY event_type
    """,
)
def events_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active user-days per event type via a {HLL_M}-register
    HyperLogLog, next to the exact count and the measured error — the
    REGISTER-MAX member of the mergeable-sketch family (KMV keeps
    bottom-k order statistics; HLL keeps per-register maxima, which
    makes its merge IDEMPOTENT: max-folding the same partial twice is
    a no-op, so replays and mid-compaction double-reads are safe by
    construction, a strictly stronger contract than the
    duplicate-tolerant bottom-k).

    Integer-exact estimator: the classic alpha·m²/Σ2^(−r_j) is float;
    multiplying through by 2^{HLL_RMAX} turns every term into a bit
    shift — S' = Σ2^({HLL_RMAX}−r_j) over hit registers plus
    2^{HLL_RMAX} per empty register — and the estimate into one BIGINT
    division ({HLL_EST_NUM} // S'), bit-identical across engines and
    partitionings. rho comes from the md5 hex STRING (leading-'0'
    count + nibble CASE), never float log2. Registers cap at
    {HLL_RMAX} (an n ≈ 2^{HLL_RMAX} saturation ceiling — far past any
    per-group cardinality this sketch is pointed at; production sizes
    RMAX to the key domain).

    Scale: the map side emits (group, j, rho); ONE partial-max
    aggregate reduces to ≤{HLL_M} rows per group whatever the input
    size — {HLL_M}·8 B per group per map task on the wire, the same
    shuffle contract as the KMV sketch. No distinct is needed before
    the sketch (max absorbs duplicates). The exact side is the
    accuracy harness, not the scale path (same pattern as
    source_kmv_distinct / ann_lsh_recall).
    """
    ev = load_table(spark, sf_dir, "events")
    regs = hll_partial(ev.select("event_type", _hll_user_day_key().alias("key")))
    folded = hll_fold(regs)
    exact = ev.groupBy("event_type").agg(
        F.count_distinct(_hll_user_day_key())
        .cast("bigint")
        .alias("exact_keys")
    )
    est = hll_estimate_col()
    return (
        folded.join(exact, "event_type")
        .select(
            "event_type",
            "n_registers",
            "exact_keys",
            est.alias("hll_keys"),
            F.expr(
                f"abs(({HLL_EST_NUM} div s_scaled) div 1000000 - exact_keys)"
                " * 1000000 div exact_keys"
            ).alias("err_ppm"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# source_bloom_filter — Bloom membership sketch with a measured-FPR
# harness (the membership sketch next to KMV's distincts, CMS's
# frequencies, HLL's registers and the bottom-k quantile sample).
# --------------------------------------------------------------------------
BLOOM_M = 65536          # filter width in bits
BLOOM_WORD = 32          # bits per stored word (BIGINT-safe shifts in
                         # both engines: DuckDB overflows 1<<63, and a
                         # 32-bit payload keeps every mask positive)
BLOOM_K = 4              # hash functions (k-salted md5, the CMS shape)

_BLOOM_SLOT_SPARK = (
    "cast(conv(substring(md5(concat(cast(k as string), '|', t)), 1, 15), 16, 10)"
    f" as bigint) % {BLOOM_M}"
)
_BLOOM_SLOT_SQL = (
    "('0x' || substr(md5(k::VARCHAR || '|' || t), 1, 15))::BIGINT"
    f" % {BLOOM_M}"
)


def source_shingles(docs: DataFrame) -> DataFrame:
    """(source, text) frame → DISTINCT (source, t) word-3-gram shingle
    memberships — the element universe of the bloom family, shared by
    the batch query and the streaming twin. Arrow kernel (the
    dedup-shingle economics), then one distinct shuffle."""
    import pandas as pd

    from open_pulsar_spark.operators.dedup import _py_shingles

    def fn(batches):
        for pdf in batches:
            srcs: list[str] = []
            toks: list[str] = []
            for source, text in zip(pdf["source"], pdf["text"]):
                sh = _py_shingles(text)
                if sh is None:
                    continue
                srcs.extend([source] * len(sh))
                toks.extend(sh)
            if toks:
                yield pd.DataFrame({"source": srcs, "t": toks})

    return (
        docs.select("source", "text")
        .mapInPandas(fn, "source string, t string")
        .distinct()
    )


def bloom_rows(sh: DataFrame) -> DataFrame:
    """DISTINCT (source, t) memberships → the bloom filter itself:
    (source, word, bits) with bits the OR of the {BLOOM_K} k-salted
    md5 positions, stored as {BLOOM_WORD}-bit words. One aggregate
    whose key space is |sources| × {BLOOM_M // BLOOM_WORD} words
    regardless of corpus size; the OR-merge is IDEMPOTENT (the
    register-max contract, bitwise), which the streaming twin leans
    on."""
    ks = F.explode(F.array(*[F.lit(k) for k in range(BLOOM_K)])).alias("k")
    return (
        sh.select("source", "t", ks)
        .select("source", F.expr(_BLOOM_SLOT_SPARK).alias("slot"))
        .select(
            "source",
            F.expr(f"slot div {BLOOM_WORD}").cast("int").alias("word"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(slot % {BLOOM_WORD} as int))"
            ).alias("m"),
        )
        .groupBy("source", "word")
        .agg(F.expr("bit_or(m)").cast("bigint").alias("bits"))
    )


_BLOOM_CTES = f"""sh AS (
        SELECT DISTINCT source, unnest(sh) AS t
        FROM ({_SHINGLE_SQL.replace("SELECT doc_id,", "SELECT doc_id, source,")})),
    slots AS (
        SELECT source, {_BLOOM_SLOT_SQL} AS slot
        FROM sh CROSS JOIN unnest(range(0, {BLOOM_K})) AS u(k)),
    bloom AS (
        SELECT source, (slot // {BLOOM_WORD})::INT AS word,
               bit_or(1::BIGINT << (slot % {BLOOM_WORD})::INT)::BIGINT AS bits
        FROM slots GROUP BY 1, 2)"""


@query(
    "source_bloom_filter",
    oracle=f"""
    WITH {_BLOOM_CTES},
    universe AS (SELECT DISTINCT t FROM sh),
    probe AS (
        SELECT u.t, {_BLOOM_SLOT_SQL.replace("|| t", "|| u.t")} AS slot
        FROM universe u CROSS JOIN unnest(range(0, {BLOOM_K})) AS u2(k)),
    hits AS (
        SELECT b.source, p.t, count(*)::BIGINT AS k_hits
        FROM probe p
        JOIN bloom b ON b.word = (p.slot // {BLOOM_WORD})::INT
                    AND (b.bits & (1::BIGINT << (p.slot % {BLOOM_WORD})::INT)) != 0
        GROUP BY 1, 2),
    passes AS (SELECT source, t FROM hits WHERE k_hits = {BLOOM_K}),
    per_src AS (
        SELECT b.source,
               sum(bit_count(b.bits))::BIGINT AS n_bits_set,
               (SELECT count(*) FROM universe)::BIGINT AS n_probes
        FROM bloom b GROUP BY 1),
    tm AS (SELECT source, count(*)::BIGINT AS n_true FROM sh GROUP BY 1),
    pc AS (SELECT source, count(*)::BIGINT AS n_pass FROM passes GROUP BY 1)
    SELECT s.source, s.n_bits_set, s.n_probes, t.n_true,
           coalesce(p.n_pass, 0)::BIGINT AS n_bloom_pass,
           (coalesce(p.n_pass, 0) - t.n_true)::BIGINT AS n_false_pos,
           ((coalesce(p.n_pass, 0) - t.n_true) * 1000000
               // (s.n_probes - t.n_true))::BIGINT AS fpr_ppm
    FROM per_src s JOIN tm t USING (source) LEFT JOIN pc p USING (source)
    ORDER BY source
    """,
)
def source_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Bloom membership filter over shingles ({BLOOM_M}
    bits, k={BLOOM_K}) with its false-positive rate MEASURED, not
    assumed: every distinct corpus shingle probes every source's
    filter, true memberships are subtracted (a bloom has no false
    negatives), and the remainder over the true-negative pool is the
    observed FPR — the same ships-with-its-error contract as the
    KMV/CMS/quantile harnesses. n_bits_set is the popcount of the
    filter itself, so the gate also proves both engines built
    BIT-IDENTICAL filters.

    Scale: the filter build is one aggregate with a fixed
    |sources| × {BLOOM_M // BLOOM_WORD}-word key space (map-side OR
    partials) — the classic 'membership test without the data'
    structure for join pruning and RTBF pre-checks; the probe harness
    is a vocab-sized equi-join on the word id. At 100 TB the harness
    samples its probe universe; the filter build is unchanged."""

    from open_pulsar_spark.tables import widen_for_kernel

    docs = widen_for_kernel(load_table(spark, sf_dir, "documents"))
    sh = pin("bloom_sh", source_shingles(docs), fill=False)
    bloom = pin("bloom_rows", bloom_rows(sh), fill=False)
    # ONE eager action: the universe count is the only scalar the plan
    # needs, and computing it materializes the pinned `sh` en route;
    # `bloom`'s cache fills lazily inside the final job (its first
    # consumer computes each partition once, the second reads the
    # cache) — the old sh.count()/bloom.count() were two extra full
    # jobs whose output was discarded (guide §1.2).
    # r13 audit (VERDICT r12 item 3, racing-consumer hazard): an eager
    # bloom.count() barrier was A/B'd same-session at sf0.1 and
    # measured ~2x WORSE (min 6.4 s vs 3.5 s) — the bloom build IS the
    # expensive slot-explode aggregate, so a dedicated serialized pass
    # costs more than the worst-case race (one redundant aggregate
    # over the already-cached sh, bounded). Lazy fill stays.
    universe = sh.select("t").distinct()
    n_universe = universe.count()
    ks = F.explode(F.array(*[F.lit(k) for k in range(BLOOM_K)])).alias("k")
    probe = universe.select("t", ks).select(
        "t", F.expr(_BLOOM_SLOT_SPARK).alias("slot")
    )
    hits = (
        probe.withColumn("word", F.expr(f"slot div {BLOOM_WORD}").cast("int"))
        .withColumn(
            "m",
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(slot % {BLOOM_WORD} as int))"
            ),
        )
        .join(bloom, "word")
        .where(F.expr("(bits & m) != 0"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("k_hits"))
    )
    passes = hits.where(F.col("k_hits") == BLOOM_K)
    per_src = bloom.groupBy("source").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_bits_set")
    )
    tm = sh.groupBy("source").agg(F.count("*").cast("bigint").alias("n_true"))
    pc = passes.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_pass")
    )
    return (
        per_src.join(tm, "source")
        .join(pc, "source", "left")
        .select(
            "source",
            "n_bits_set",
            F.lit(n_universe).cast("bigint").alias("n_probes"),
            "n_true",
            F.coalesce("n_pass", F.lit(0)).cast("bigint").alias("n_bloom_pass"),
            (F.coalesce("n_pass", F.lit(0)) - F.col("n_true"))
            .cast("bigint")
            .alias("n_false_pos"),
            F.expr(
                f"cast((coalesce(n_pass, 0) - n_true) * 1000000"
                f" div ({n_universe} - n_true) as bigint)"
            ).alias("fpr_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# event_value_quantiles_by_type — per-GROUP quantile sketch + exact
# harness (the per-segment latency-percentile readout).
# --------------------------------------------------------------------------
GQ_K = 64  # sample size per group


@query(
    "event_value_quantiles_by_type",
    oracle=f"""
    WITH keyed AS (
        SELECT event_type, value, event_id,
               md5(event_id::VARCHAR) AS hk
        FROM events
        WHERE value IS NOT NULL AND event_id IS NOT NULL),
    samp AS (
        SELECT event_type, value, event_id FROM (
            SELECT *, row_number() OVER (PARTITION BY event_type
                                         ORDER BY hk, event_id) AS rn
            FROM keyed) WHERE rn <= {GQ_K}),
    sr AS (SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS k
           FROM samp),
    fr AS (SELECT event_type, value,
                  row_number() OVER (PARTITION BY event_type
                                     ORDER BY value, event_id) AS rn,
                  count(*) OVER (PARTITION BY event_type) AS n
           FROM keyed),
    ps AS (SELECT unnest({_PS_SQL}::DOUBLE[]) AS p),
    est AS (SELECT sr.event_type, ps.p, round(sr.value, 4) AS est
            FROM ps JOIN sr ON sr.rn = floor(ps.p * (sr.k - 1))::BIGINT + 1),
    ex AS (SELECT fr.event_type, ps.p, round(fr.value, 4) AS exact
           FROM ps JOIN fr ON fr.rn = floor(ps.p * (fr.n - 1))::BIGINT + 1)
    SELECT est.event_type, est.p, est.est, ex.exact,
           round(abs(est.est - ex.exact), 4) AS abs_err
    FROM est JOIN ex ON ex.event_type = est.event_type AND ex.p = est.p
    ORDER BY est.event_type, est.p
    """,
)
def event_value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP quantile estimates: a {GQ_K}-row bottom-k-by-hash
    sample PER EVENT TYPE with exact quantiles and absolute error —
    the per-segment percentile readout a monitoring layer quotes
    ('p99 by endpoint'), where value_quantile_sketch answers only the
    global question. Same deterministic sample law, keyed: the
    bottom-k of a union is the bottom-k of per-partition bottom-ks
    WITHIN each group, so per-type samples merge exactly like the
    global one.

    Scale: the sample cut here is one window over (type)-partitioned
    rows — fine while the group count is bounded (event types); for
    high-cardinality groups the map-side form is the keyed bottom-k
    Arrow kernel (sketch.bottom_k_kernel, already the posting-index
    path) with the value carried alongside the hash. The exact half is
    the harness (full per-group order), priced accordingly — at 100 TB
    you run the sample and audit a slice."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.where(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    ).select(
        "event_type",
        "value",
        "event_id",
        F.md5(F.col("event_id").cast("string")).alias("hk"),
    )
    w_s = Window.partitionBy("event_type").orderBy("hk", "event_id")
    samp = (
        keyed.withColumn("rn", F.row_number().over(w_s))
        .where(F.col("rn") <= GQ_K)
        .select("event_type", "value", "event_id")
    )
    samp_row = samp.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("value", "event_id"))).alias("sv")
    ).select("event_type", "sv", F.size("sv").alias("k"))
    est = samp_row.select(
        "event_type", F.explode(F.expr(_PS_SPARK)).alias("p"), "sv", "k"
    ).select(
        "event_type",
        "p",
        F.round(
            F.element_at(
                "sv", (F.floor(F.col("p") * (F.col("k") - 1)) + 1).cast("int")
            )["value"],
            4,
        ).alias("est"),
    )
    w_f = Window.partitionBy("event_type").orderBy("value", "event_id")
    fr = keyed.select(
        "event_type",
        "value",
        F.row_number().over(w_f).alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    ex = fr.select(
        "event_type",
        "value",
        F.explode(
            F.expr(
                f"filter({_PS_SPARK}, p -> rn = cast(floor(p * (n - 1)) as bigint) + 1)"
            )
        ).alias("p"),
    ).select("event_type", "p", F.round("value", 4).alias("exact"))
    return (
        est.join(ex, ["event_type", "p"])
        .select(
            "event_type",
            "p",
            "est",
            "exact",
            F.round(F.abs(F.col("est") - F.col("exact")), 4).alias("abs_err"),
        )
        .orderBy("event_type", "p")
    )


# --------------------------------------------------------------------------
# bloom_join_pruning — runtime-filter join pruning, with the savings
# MEASURED (the optimizer story the bloom filter exists for).
# --------------------------------------------------------------------------
BJP_PRICE_MIN = 490000  # selective build-side predicate (~1.5% of orders)


@query(
    "bloom_join_pruning",
    oracle=f"""
    WITH build AS (
        SELECT DISTINCT o_orderkey::VARCHAR AS t
        FROM orders WHERE o_totalprice > {BJP_PRICE_MIN}),
    slots AS (
        SELECT {_BLOOM_SLOT_SQL} AS slot
        FROM build CROSS JOIN unnest(range(0, {BLOOM_K})) AS u(k)),
    bloom AS (
        SELECT (slot // {BLOOM_WORD})::INT AS word,
               bit_or(1::BIGINT << (slot % {BLOOM_WORD})::INT)::BIGINT AS bits
        FROM slots GROUP BY 1),
    lk AS (
        SELECT l_orderkey, l_orderkey::VARCHAR AS t, count(*)::BIGINT AS n
        FROM lineitem GROUP BY 1, 2),
    hits AS (
        SELECT p.l_orderkey, count(*)::BIGINT AS k_hits
        FROM (SELECT lk.l_orderkey, {_BLOOM_SLOT_SQL.replace("|| t", "|| lk.t")} AS slot
              FROM lk CROSS JOIN unnest(range(0, {BLOOM_K})) AS u(k)) p
        JOIN bloom b ON b.word = (p.slot // {BLOOM_WORD})::INT
                    AND (b.bits & (1::BIGINT << (p.slot % {BLOOM_WORD})::INT)) != 0
        GROUP BY 1),
    flagged AS (
        SELECT lk.l_orderkey, lk.n,
               coalesce(h.k_hits, 0) = {BLOOM_K} AS pass,
               EXISTS (SELECT 1 FROM build b WHERE b.t = lk.t) AS truly
        FROM lk LEFT JOIN hits h USING (l_orderkey)),
    agg AS (
        SELECT (SELECT count(*) FROM build)::BIGINT AS n_build_keys,
               sum(n)::BIGINT AS n_probe_rows,
               sum(CASE WHEN pass THEN n ELSE 0 END)::BIGINT AS n_pass_rows,
               sum(CASE WHEN truly THEN n ELSE 0 END)::BIGINT AS n_match_rows
        FROM flagged)
    SELECT n_build_keys, n_probe_rows, n_pass_rows, n_match_rows,
           ((n_probe_rows - n_pass_rows) * 1000000
               // n_probe_rows)::BIGINT AS pruned_ppm,
           (n_pass_rows - n_match_rows)::BIGINT AS false_pass_rows
    FROM agg
    """,
)
def bloom_join_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join pruning, MEASURED: a Bloom filter built from
    the selective side of orders⋈lineitem (orders with totalprice >
    {BJP_PRICE_MIN}, ~1.5%) pre-filters the probe side, and the query
    reports exactly what the filter buys — the fraction of probe ROWS
    skipped before the join (pruned_ppm) and the false-pass overhead
    the join must still reject. This is Spark's own runtime-filtering /
    bloom-pruned-scan story with the effectiveness quantified instead
    of assumed, and the join-side consumer the bloom family exists for
    (the shingle query measures FPR; this one measures the I/O win).

    Scale: the build side is the filtered key set (one aggregate into
    a fixed {BLOOM_M // BLOOM_WORD}-word filter — broadcast-sized by
    construction, which is WHY blooms are the runtime-filter format);
    the probe side reduces lineitem to per-key row counts (one
    shuffle), probes map-side against the filter words, and the truth
    column is the exact left-semi the filter would normally replace —
    kept here as the harness. All counts integer."""

    orders = load_table(spark, sf_dir, "orders")
    build = pin(
        "bjp_build",
        orders.where(F.col("o_totalprice") > BJP_PRICE_MIN)
        .select(F.col("o_orderkey").cast("string").alias("t"))
        .distinct(),
        fill=False,
    )
    n_build = build.count()
    bloom = bloom_rows(build.select(F.lit("build").alias("source"), "t")).select(
        "word", "bits"
    )
    li = load_table(spark, sf_dir, "lineitem")
    lk = pin(
        "bjp_lk",
        li.groupBy(
            F.col("l_orderkey"),
            F.col("l_orderkey").cast("string").alias("t"),
        ).agg(F.count("*").cast("bigint").alias("n")),
        fill=True,
    )
    ks = F.explode(F.array(*[F.lit(k) for k in range(BLOOM_K)])).alias("k")
    probe = lk.select("l_orderkey", "t", ks).select(
        "l_orderkey", F.expr(_BLOOM_SLOT_SPARK).alias("slot")
    ).select(
        "l_orderkey",
        F.expr(f"slot div {BLOOM_WORD}").cast("int").alias("word"),
        F.expr(
            f"shiftleft(cast(1 as bigint), cast(slot % {BLOOM_WORD} as int))"
        ).alias("m"),
    )
    hits = (
        probe.join(F.broadcast(bloom), "word")
        .where(F.expr("(bits & m) != 0"))
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("k_hits"))
    )
    truly = lk.join(
        build.withColumnRenamed("t", "t"), "t", "left_semi"
    ).select("l_orderkey")
    flagged = (
        lk.join(hits, "l_orderkey", "left")
        .join(truly.withColumn("truly", F.lit(1)), "l_orderkey", "left")
        .select(
            "n",
            (F.coalesce("k_hits", F.lit(0)) == BLOOM_K).alias("pass"),
            F.coalesce("truly", F.lit(0)).alias("truly"),
        )
    )
    return flagged.agg(
        F.lit(n_build).cast("bigint").alias("n_build_keys"),
        F.sum("n").cast("bigint").alias("n_probe_rows"),
        F.sum(F.when(F.col("pass"), F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_pass_rows"),
        F.sum(F.when(F.col("truly") == 1, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_match_rows"),
    ).select(
        "*",
        F.expr(
            "cast((n_probe_rows - n_pass_rows) * 1000000"
            " div n_probe_rows as bigint)"
        ).alias("pruned_ppm"),
        (F.col("n_pass_rows") - F.col("n_match_rows"))
        .cast("bigint")
        .alias("false_pass_rows"),
    )


# --------------------------------------------------------------------------
# sketch_accuracy_matrix — KMV and HLL graded SIDE BY SIDE on the same
# key and grouping (the sketch-selection table).
# --------------------------------------------------------------------------
@query(
    "sketch_accuracy_matrix",
    oracle=f"""
    WITH keyed AS (
        SELECT event_type AS g,
               user_id::VARCHAR || '-' || (ts::DATE)::VARCHAR AS key
        FROM events),
    kh AS (SELECT DISTINCT g,
                  {_U_SQL_T.format(col="key")} AS u
           FROM keyed),
    rk AS (SELECT g, u, row_number() OVER (PARTITION BY g ORDER BY u)
                      AS rn
           FROM kh),
    kth AS (SELECT g, u AS u_k FROM rk WHERE rn = {KMV_K}),
    ksz AS (SELECT g, count(*)::BIGINT AS n_hashes FROM kh GROUP BY g),
    hk AS (SELECT g, md5(key) AS h FROM keyed),
    parts AS (
        SELECT g,
               ('0x' || substr(h, 1, 2))::BIGINT % {HLL_M} AS j,
               length(regexp_extract(substr(h, 3, 13), '^(0*)', 1)) AS lz,
               substr(substr(h, 3, 13),
                      length(regexp_extract(substr(h, 3, 13), '^(0*)', 1)) + 1,
                      1) AS nib
        FROM hk),
    regs AS (
        SELECT g, j,
               max(least({HLL_RMAX}, 4 * lz + {_HLL_LZ_SQL} + 1)) AS r
        FROM parts GROUP BY 1, 2),
    folded AS (
        SELECT g,
               (sum(1::BIGINT << ({HLL_RMAX} - r))
                + ({HLL_M} - count(*)) * (1::BIGINT << {HLL_RMAX}))::BIGINT
                   AS s_scaled
        FROM regs GROUP BY 1),
    exact AS (SELECT g, count(DISTINCT key)::BIGINT AS exact_keys
              FROM keyed GROUP BY g),
    est AS (
        SELECT e.g, e.exact_keys,
               CASE WHEN k.u_k IS NOT NULL
                    THEN round(({KMV_K} - 1) / k.u_k)::BIGINT
                    ELSE s.n_hashes END AS kmv_keys,
               ({HLL_EST_NUM} // f.s_scaled) // 1000000 AS hll_keys
        FROM exact e
        LEFT JOIN kth k USING (g)
        JOIN ksz s USING (g)
        JOIN folded f USING (g))
    SELECT g AS event_type, exact_keys, kmv_keys,
           (abs(kmv_keys - exact_keys) * 1000000 // exact_keys)::BIGINT
               AS kmv_err_ppm,
           hll_keys,
           (abs(hll_keys - exact_keys) * 1000000 // exact_keys)::BIGINT
               AS hll_err_ppm
    FROM est
    ORDER BY event_type
    """,
)
def sketch_accuracy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV vs HLL on the SAME problem — distinct active user-days per
    event type — with the exact count as harness: estimate and error
    (ppm) for both sketches side by side. The engine ships both
    mergeable-sketch families; this is the table that says which to
    spend memory on for a given group-cardinality regime (KMV-64 is
    near-exact below k distinct and ~12% RMSE above; HLL-64 holds
    ~13% everywhere but its register merge is idempotent — the
    stronger streaming contract). Grading both on one key/grouping
    removes every confound the separate per-sketch queries leave
    (different domains, different groupings).

    Determinism: both constructions are the module's shared template
    pairs (bit-identical md5-derived u / register rho on both
    engines); both estimates close as single integer expressions; the
    error columns are integer ppm trunc-divs.

    Scale: ONE scan feeds both sketch partials (map-side bounded: ≤ k
    rows per group per batch for KMV, ≤ m registers per group for
    HLL) plus the exact harness (the one real shuffle — at 100 TB you
    sample the exact check, the per-sketch queries' documented
    posture)."""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.col("event_type").alias("g"), _hll_user_day_key().alias("key")
    )

    keyed = pin("sketch_matrix_keyed", keyed, fill=False)
    hashed = keyed.select(
        "g", F.expr(_U_SPARK_T.format(col="key")).alias("u")
    )
    kp = hashed.mapInPandas(
        bottom_k_kernel("g", "u", KMV_K), "g STRING, u DOUBLE"
    )
    kmv = kp.groupBy("g").agg(bottom_k_merge_expr("u", KMV_K).alias("mins"))
    hll = hll_fold(
        hll_merge(hll_partial(keyed, group="g"), group="g"), group="g"
    )
    exact = keyed.groupBy("g").agg(
        F.count_distinct("key").cast("bigint").alias("exact_keys")
    )
    kmv_est = _kmv_estimate_col(F.col("mins"))
    hll_est = hll_estimate_col()
    return (
        exact.join(kmv, "g")
        .join(hll, "g")
        .select(
            F.col("g").alias("event_type"),
            "exact_keys",
            kmv_est.alias("kmv_keys"),
            F.expr(
                "cast(abs(kmv_keys - exact_keys) * 1000000"
                " div exact_keys as bigint)"
            ).alias("kmv_err_ppm"),
            hll_est.alias("hll_keys"),
            F.expr(
                "cast(abs(hll_keys - exact_keys) * 1000000"
                " div exact_keys as bigint)"
            ).alias("hll_err_ppm"),
        )
        .orderBy("event_type")
    )
