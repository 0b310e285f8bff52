"""Semantic clustering over the embeddings table — fixed-point k-means.

The curation operator the similarity family was missing: dedup and ANN
find NEAR-dups; clustering partitions the WHOLE corpus into semantic
groups (topic balancing, per-cluster sampling quotas, IVF coarse
centroids that are actually learned instead of arithmetic — see
similarity.ann_ivf_coarse's docstring hook).

Determinism design (the part worth reading): Lloyd's algorithm over
floats is NOT reproducible across engines, partitionings, or retries —
every centroid mean is an order-dependent float sum, and one ulp moves
an argmin at a cluster boundary, which cascades through later rounds.
At 100 TB reproducibility beats the last ulp of centroid precision, so
this k-means runs on a fixed-point grid:

  - components quantize to integers: floor(x * 4096 + 0.5) (12-bit
    grid; the driver's embeddings are unit-norm with |x| < 0.6, so
    |q| < 2500 and a 64-dim squared distance < 2^31 — exact int64);
  - every distance is an integer sum of integer squares →
    order-independent, bit-identical in Spark, DuckDB, and any
    partitioning;
  - centroid update rounds the mean BACK to the grid
    (floor(sum/count + 0.5)): integer sums are exact, the one IEEE
    division is deterministic, so new centroids are integers again;
  - argmin ties break toward the smaller centroid id in both engines.

Iteration runs driver-coordinated: K centroids are driver-scale BY
CONSTRUCTION (like a broadcast join's build side), so each round is one
map-only assignment pass + one (cid, dim) aggregate of K×64 rows
collected to the driver and re-emitted as literal arrays. The corpus is
never shuffled, never collected, and the assignment expression is pure
Catalyst (zip_with/aggregate over array literals — no Python UDF, no
join). Reference parity: none — the reference has no vector surface;
this extends SURVEY.md §2.10's LLM-operator family.
"""

from __future__ import annotations

import math
import threading

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import held, pin
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table

SCALE = 4096
K = 10
DIM = 64
UPDATE_ROUNDS = 2

_Q_EXPR = (
    f"transform(embedding, x -> cast(floor(cast(x as double) * {SCALE} + 0.5d) as bigint))"
)


def _quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(_Q_EXPR).alias("q")
    )


def _dist_structs_sql(cents: list[tuple[int, list[int]]]) -> str:
    """The ONE copy of the per-centroid (dist, cid) struct-array
    codegen template — array_min of it is the assignment argmin
    (min-cid tie-break), array_sort of it exposes the runner-up for
    the silhouette's b term; both consumers share the identical
    distance expression and tie-break by construction."""
    structs = []
    for cid, vec in cents:
        arr = "array(" + ",".join(f"{int(v)}L" for v in vec) + ")"
        dist = f"aggregate(zip_with(q, {arr}, (x, c) -> (x - c) * (x - c)), 0L, (a, v) -> a + v)"
        structs.append(f"struct({dist} as dist, {int(cid)} as cid)")
    return "array(" + ",".join(structs) + ")"


def _assign_col(cents: list[tuple[int, list[int]]]):
    """array_min over (dist, cid) structs == integer argmin with
    min-cid tie-break, all in whole-stage codegen."""
    return F.expr(f"array_min({_dist_structs_sql(cents)})")


def _update(qdf: DataFrame, cents: list[tuple[int, list[int]]]):
    """One Lloyd round: assign (map-only) → grid-rounded mean per
    (cid, dim) → K×64 rows to the driver."""
    rows = (
        qdf.withColumn("asg", _assign_col(cents))
        .select(F.col("asg.cid").alias("cid"), F.posexplode("q"))
        .groupBy("cid", "pos")
        .agg(F.sum("col").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    acc: dict[int, dict[int, int]] = {}
    for r in rows:
        acc.setdefault(r.cid, {})[r.pos] = math.floor(r.s / r.n + 0.5)
    return sorted((cid, [dims[i] for i in range(DIM)]) for cid, dims in acc.items())


def _seeds(qdf: DataFrame) -> list[tuple[int, list[int]]]:
    """Seed centroids: the first K quantized vectors (id-sorted).

    The seed contract requires vec_ids 0..K-1 to exist; fail fast
    rather than silently training with fewer (or zero) centroids and
    emitting null assignments downstream."""
    seeds = sorted(
        (r.vec_id, list(r.q)) for r in qdf.where(F.col("vec_id") < K).collect()
    )
    if len(seeds) != K:
        raise ValueError(
            f"k-means seeding needs vec_ids 0..{K - 1} present; "
            f"found {len(seeds)} of {K} ({[s[0] for s in seeds]})"
        )
    return seeds


_FIT_CACHE: dict[tuple[str, str], list[tuple[int, list[int]]]] = {}
_FIT_LOCK = threading.Lock()


def _evict_other_apps(cache: dict, app_id: str) -> None:
    """Drop entries from stopped applications (one-generation cap,
    the materialize.pin idiom): a restarted session may see regenerated data at
    the same path, and dead-app plan objects would otherwise leak."""
    for k in [k for k in cache if k[0] != app_id]:
        del cache[k]


def _fit(spark: SparkSession, sf_dir: str):
    """(quantized frame, trained centroids): seeds = first K vectors,
    UPDATE_ROUNDS grid-rounded Lloyd updates.

    The trained centroids are MEMOIZED per (Spark application,
    sf_dir) — six registry queries (kmeans, outliers, the IVF family)
    consume the same model, and training is replay-DETERMINISTIC by
    the fixed-point contract, so the cache is bit-identical to
    retraining and only skips repeated work ("train once, serve
    many", the production shape). Keying by applicationId bounds
    staleness: a harness that stops Spark, regenerates the table at
    the same path, and starts a new session retrains, and insertions
    evict dead-app entries. The single lock is HELD across training
    (driver-coordinated collects), so concurrent FAIR-scheduler
    consumers serialize into one training run instead of racing to
    train twice; K×DIM ints per live entry."""
    qdf = _quantized(spark, sf_dir)
    key = (spark.sparkContext.applicationId, sf_dir)
    with _FIT_LOCK:
        cached = _FIT_CACHE.get(key)
        if cached is not None:
            return qdf, cached
        cents = _seeds(qdf)
        for _ in range(UPDATE_ROUNDS):
            cents = _update(qdf, cents)
        _evict_other_apps(_FIT_CACHE, key[0])
        _FIT_CACHE[key] = cents
    return qdf, cents


def _zip_dist_sql(left: str = "v") -> str:
    """The ONE SQL copy of the quantized squared distance between a
    vector alias and a centroid alias c (assignment CTEs bind v, the
    silhouette's b-term binds a)."""
    return (
        f"list_sum(list_transform(list_zip({left}.q, c.c),"
        " p -> (p[1]-p[2])*(p[1]-p[2])))"
    )


_ZIP_DIST = _zip_dist_sql("v")


def _assign_cte(name: str, cent: str, src: str = "q") -> str:
    return f"""
    {name} AS (
        SELECT vec_id, q, cid, CAST(dist AS BIGINT) AS sq_dist FROM (
            SELECT v.vec_id, v.q, c.cid, {_ZIP_DIST} AS dist,
                row_number() OVER (PARTITION BY v.vec_id
                                   ORDER BY {_ZIP_DIST}, c.cid) AS rn
            FROM {src} v CROSS JOIN {cent} c) WHERE rn = 1
    )"""


def _update_cte(name: str, assigned: str) -> str:
    return f"""
    {name} AS (
        SELECT cid, list(cval ORDER BY dim) AS c FROM (
            SELECT a.cid, dims.dim,
                   CAST(floor(CAST(sum(a.q[dims.dim]) AS DOUBLE) / count(*) + 0.5)
                        AS BIGINT) AS cval
            FROM {assigned} a
            CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS dim) dims
            GROUP BY a.cid, dims.dim)
        GROUP BY cid
    )"""


# The CTE chain (quantize → seed → 2 Lloyd rounds → final assign a2)
# shared by the kmeans oracle and the IVF oracle below.
_QUANT_C0 = f"""q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ),
    c0 AS (SELECT vec_id AS cid, q AS c FROM q WHERE vec_id < {K})"""

_KMEANS_CTES = f"""{_QUANT_C0},
    {_assign_cte("a0", "c0")},
    {_update_cte("c1", "a0")},
    {_assign_cte("a1", "c1")},
    {_update_cte("c2", "a1")},
    {_assign_cte("a2", "c2")}"""


def _kmeans_oracle() -> str:
    return f"""
    WITH {_KMEANS_CTES}
    SELECT vec_id, cid::BIGINT AS cluster, sq_dist FROM a2 ORDER BY vec_id
    """


@query("kmeans_embeddings", oracle=_kmeans_oracle())
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K=10 fixed-point k-means over the embedding corpus: seeds are
    the first K vectors, two grid-rounded Lloyd updates, output is the
    final (vec_id, cluster, sq_dist) assignment.

    Scale: each round is one map-only pass over the corpus plus a K×DIM
    aggregate; the corpus is never shuffled (the groupBy key space is
    K×DIM = 640 rows) and never collected. Round count is fixed, so the
    job graph is static — at 100 TB this is UPDATE_ROUNDS+1 scans, all
    whole-stage-codegen arithmetic.
    """
    qdf, cents = _fit(spark, sf_dir)
    return (
        qdf.withColumn("asg", _assign_col(cents))
        .select(
            "vec_id",
            F.col("asg.cid").cast("bigint").alias("cluster"),
            F.col("asg.dist").alias("sq_dist"),
        )
        .orderBy("vec_id")
    )


@query(
    "kmeans_cluster_sizes",
    oracle=f"""
    WITH {_QUANT_C0},
    {_assign_cte("a0", "c0")}
    SELECT cid::BIGINT AS cluster, count(*) AS n_members
    FROM a0 GROUP BY cid ORDER BY cluster
    """,
)
def kmeans_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-round cluster occupancy (assignment against the K seed
    vectors, no update rounds) — the balance diagnostic a curation
    pipeline reads before committing to per-cluster sampling quotas.

    Scale: one map-only assignment pass + a K-row aggregate.
    """
    qdf = _quantized(spark, sf_dir)
    return (
        qdf.withColumn("asg", _assign_col(_seeds(qdf)))
        .groupBy(F.col("asg.cid").cast("bigint").alias("cluster"))
        .agg(F.count("*").alias("n_members"))
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# embedding_norm_stats — per-label vector-norm audit (the third leg of
# the vector-quality triad: coverage / outliers / norms).
# --------------------------------------------------------------------------
@query(
    "embedding_norm_stats",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ),
    n AS (
        SELECT label,
               list_sum(list_transform(q, x -> x * x))::BIGINT AS sq_norm,
               len(list_filter(q, x -> x = 0))::BIGINT AS zero_dims
        FROM q
    )
    SELECT label::BIGINT AS label,
           count(*)::BIGINT AS n_vecs,
           (sum(sq_norm)::BIGINT // count(*))::BIGINT AS avg_sq_norm,
           min(sq_norm) AS min_sq_norm,
           max(sq_norm) AS max_sq_norm,
           sum(zero_dims)::BIGINT AS zero_dims_total
    FROM n
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-NORM audit: count, mean/min/max squared norm,
    and the total number of exactly-zero components — the cheap
    distribution check a vector pipeline runs before normalizing
    (norm collapse, dead dimensions, and all-zero vectors from failed
    encoders show up here before they poison cosine math downstream;
    embedding_outliers catches the per-vector stragglers, this
    catches the systematic shifts).

    Determinism: norms are computed on the engine's fixed-point grid
    (clustering.SCALE), so every statistic is exact integer
    arithmetic — the mean is an integer division, never a float sum.

    Scale: map-only norm computation in codegen, one |labels|-row
    aggregate; the embedding payload never shuffles.
    """
    embs = load_table(spark, sf_dir, "embeddings")
    sq_norm = F.expr(
        f"aggregate(transform({_Q_EXPR}, x -> x * x), 0L, (a, v) -> a + v)"
    )
    zero_dims = F.expr(f"size(filter({_Q_EXPR}, x -> x = 0))").cast("long")
    per_vec = embs.select(
        "label", sq_norm.alias("sq_norm"), zero_dims.alias("zero_dims")
    )
    return (
        per_vec.groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count("*").alias("n_vecs"),
            # `div`, not `/`+floor: the double division loses integer
            # exactness once a label's norm sum passes 2^53 — integral
            # long division stays exact at any count, like the oracle's //
            F.expr("sum(sq_norm) div count(*)").cast("bigint").alias(
                "avg_sq_norm"
            ),
            F.min("sq_norm").alias("min_sq_norm"),
            F.max("sq_norm").alias("max_sq_norm"),
            F.sum("zero_dims").cast("bigint").alias("zero_dims_total"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# embedding_outliers — per-cluster robust outlier flags over the trained
# assignment (the corrupt-embedding filter before training).
# --------------------------------------------------------------------------
@query(
    "embedding_outliers",
    oracle=f"""
    WITH {_KMEANS_CTES},
    med AS (
        SELECT cid, sq_dist AS med FROM (
            SELECT cid, sq_dist, vec_id,
                   row_number() OVER (PARTITION BY cid
                                      ORDER BY sq_dist, vec_id) AS rn,
                   count(*) OVER (PARTITION BY cid) AS n
            FROM a2) WHERE rn = (n + 1) // 2
    ),
    dev AS (
        SELECT a.vec_id, a.cid, a.sq_dist, m.med,
               abs(a.sq_dist - m.med) AS d
        FROM a2 a JOIN med m USING (cid)
    ),
    mad AS (
        SELECT cid, d AS mad FROM (
            SELECT cid, d, vec_id,
                   row_number() OVER (PARTITION BY cid
                                      ORDER BY d, vec_id) AS rn,
                   count(*) OVER (PARTITION BY cid) AS n
            FROM dev) WHERE rn = (n + 1) // 2
    )
    SELECT v.vec_id, v.cid::BIGINT AS cluster, v.sq_dist, v.med, x.mad
    FROM dev v JOIN mad x USING (cid)
    WHERE v.sq_dist > v.med + 3 * x.mad
    ORDER BY v.vec_id
    """,
)
def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings anomalously FAR from their own cluster's centroid —
    the corrupt-vector filter a training pipeline runs before the
    corpus ships (truncated downloads, encoder failures, and mislabeled
    modalities land far from every semantic cluster). Assignment is the
    trained fixed-point k-means (same _fit as kmeans_embeddings); the
    flag is a robust median/MAD rule in the same spirit as
    events_anomaly_mad but deliberately NOT its formula: distances here
    are SQUARED (integer grid), so the Gaussian 1.4826 consistency
    factor that rule applies has no meaning, and the plain
    sq_dist > median + 3·MAD cut is used instead — within the vector's
    OWN cluster, so a genuinely diffuse cluster doesn't flag its whole
    membership.

    Determinism: distances are integer (the fixed-point grid), and both
    medians are rank-picked LOWER medians (row_number with a vec_id
    tie-break, element at (n+1) div 2) — no float interpolation, so
    both engines pick the identical element.

    Scale: the trained assign is map-only; the two median passes are
    windows over the SAME cluster-keyed shuffle (K partitions); the
    med/mad tables are K rows broadcast back. At 100 TB swap the exact
    in-cluster median for value_quantile_sketch's mergeable sample —
    the flag rule is unchanged.
    """
    qdf, cents = _fit(spark, sf_dir)

    # The assigned frame feeds THREE plan branches (the med aggregate,
    # dev inside the mad subtree, dev in the final projection) and its
    # K×DIM distance expression is the expensive map — pin it so the
    # quantize + argmin pass runs once, not three times (guide §1.2).
    assigned = pin(
        "outliers_assigned",
        qdf.withColumn("asg", _assign_col(cents)).select(
            "vec_id",
            F.col("asg.cid").alias("cid"),
            F.col("asg.dist").alias("sq_dist"),
        ),
        fill=False,
    )

    def lower_median(df: DataFrame, col: str, out: str) -> DataFrame:
        w_rank = Window.partitionBy("cid").orderBy(col, "vec_id")
        w_all = Window.partitionBy("cid")
        # exactly one row survives per cid; the closing min-agg is an
        # identity that makes the ≤K-row bound STRUCTURAL in the plan
        # (an Aggregate node), so the broadcast hint downstream is
        # provably over a bounded frame (plan_hints rule)
        return (
            df.withColumn("rn", F.row_number().over(w_rank))
            .withColumn("n", F.count("*").over(w_all))
            .where(F.col("rn") == F.floor((F.col("n") + 1) / 2))
            .groupBy("cid")
            .agg(F.min(col).alias(out))
        )

    med = lower_median(assigned, "sq_dist", "med")
    dev = assigned.join(F.broadcast(med), "cid").withColumn(
        "d", F.abs(F.col("sq_dist") - F.col("med"))
    )
    mad = lower_median(dev, "d", "mad")
    return (
        dev.join(F.broadcast(mad), "cid")
        .where(F.col("sq_dist") > F.col("med") + 3 * F.col("mad"))
        .select(
            "vec_id",
            F.col("cid").cast("bigint").alias("cluster"),
            "sq_dist",
            "med",
            "mad",
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# embedding_hbos_outliers — histogram-based outlier score (the
# DENSITY-based detector next to embedding_outliers' distance-based one).
# --------------------------------------------------------------------------
HBOS_BIN_GRID = 512   # bin width on the fixed-point grid: 512/4096 = 0.125
HBOS_TOP_N = 20       # outliers reported


@query(
    "embedding_hbos_outliers",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5)
                             AS BIGINT)) AS q
        FROM embeddings),
    ex AS (
        SELECT vec_id, dims.dim AS pos,
               ((q[dims.dim] + {SCALE}) // {HBOS_BIN_GRID})::BIGINT AS bin
        FROM q
        CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS dim) dims),
    tot AS (SELECT count(*)::BIGINT AS n FROM q),
    cells AS (
        SELECT pos, bin, count(*)::BIGINT AS cnt,
               CAST(round(ln((SELECT n FROM tot) * 1.0 / count(*))
                          * 1000000000) AS BIGINT) AS term_nano
        FROM ex GROUP BY pos, bin),
    scored AS (
        SELECT e.vec_id, sum(c.term_nano)::BIGINT AS hbos_nano
        FROM ex e JOIN cells c ON c.pos = e.pos AND c.bin = e.bin
        GROUP BY e.vec_id)
    SELECT s.vec_id, q.label::BIGINT AS label, s.hbos_nano
    FROM scored s JOIN q ON q.vec_id = s.vec_id
    ORDER BY s.hbos_nano DESC, s.vec_id
    LIMIT {HBOS_TOP_N}
    """,
)
def embedding_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HBOS outliers (Goldstein & Dengel): score each vector by
    Σ_dims ln(n / count(dim-bin)) over FIXED-width histograms of the
    fixed-point grid — vectors living in sparse bins across many
    dimensions score high. The density-based detector next to
    embedding_outliers' cluster-distance MAD flags: HBOS needs no
    trained model, treats dimensions independently (which is what
    makes it O(n·d) and shuffle-light), and catches a different
    failure mode — a vector can sit at a normal distance from its
    centroid while occupying tail bins dimension-by-dimension.

    Determinism: bins are fixed-width on the integer grid with a
    +SCALE offset so the div operand is never negative (trunc == floor);
    each ln term is computed once per (dim, bin) CELL with the same
    double expression shape in both engines and rounded onto a
    nano-unit integer grid (the events_value_psi closing), so
    per-vector scores are order-independent integer sums; top-k ties
    break on vec_id.

    Scale: one map-side posexplode (n×DIM rows, the documented
    payload-entropy cost) feeds a (dim, bin) cell aggregate BOUNDED at
    DIM×(2·SCALE/width) rows; scoring is a broadcast equi-join of the
    exploded frame against that cell frame, then one vec_id-keyed sum
    and a TakeOrdered top-{HBOS_TOP_N} — no self-join, no window over
    the corpus."""
    embs = load_table(spark, sf_dir, "embeddings")
    qdf = embs.select(
        "vec_id",
        F.col("label").cast("bigint").alias("label"),
        F.expr(_Q_EXPR).alias("q"),
    )

    ex = pin(
        "hbos_ex",
        qdf.select("vec_id", F.posexplode("q").alias("pos", "qv")).select(
            "vec_id",
            "pos",
            F.expr(f"(qv + {SCALE}) div {HBOS_BIN_GRID}")
            .cast("bigint")
            .alias("bin"),
        ),
        fill=False,
    )
    n = qdf.count()
    cells = ex.groupBy("pos", "bin").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    term = (
        F.round(
            F.log(F.lit(n) * F.lit(1.0) / F.col("cnt"))
            * F.lit(1000000000),
            0,
        )
        .cast("bigint")
        .alias("term_nano")
    )
    scored = (
        ex.join(F.broadcast(cells.select("pos", "bin", term)), ["pos", "bin"])
        .groupBy("vec_id")
        .agg(F.sum("term_nano").cast("bigint").alias("hbos_nano"))
    )
    return (
        scored.join(qdf.select("vec_id", "label"), "vec_id")
        .orderBy(F.desc("hbos_nano"), "vec_id")
        .limit(HBOS_TOP_N)
        .select("vec_id", "label", "hbos_nano")
    )


# --------------------------------------------------------------------------
# ann_ivf_kmeans — IVF with the LEARNED coarse quantizer.
# --------------------------------------------------------------------------
_DOT_SELF = (
    "aggregate(zip_with(embedding, embedding,"
    " (x, y) -> cast(x as double) * cast(y as double)), 0d, (a, b) -> a + b)"
)
_DOT_QV = (
    "aggregate(zip_with(qv, embedding,"
    " (x, y) -> cast(x as double) * cast(y as double)), 0d, (a, b) -> a + b)"
)


def _ivf_kmeans_oracle() -> str:
    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    return f"""
    WITH {_KMEANS_CTES},
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings),
    qs AS (SELECT a.vec_id AS query_id, e.v AS qv, e.nrm AS qn, a.cid
           FROM a2 a JOIN e ON e.vec_id = a.vec_id
           WHERE a.vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, c.vec_id AS neighbor_id,
               list_dot_product(q.qv, e2.v) / (q.qn * e2.nrm) AS cos
        FROM qs q
        JOIN a2 c ON c.cid = q.cid AND c.vec_id <> q.query_id
        JOIN e e2 ON e2.vec_id = c.vec_id
    ),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored
    )
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """


@query("ann_ivf_kmeans", oracle=_ivf_kmeans_oracle())
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with the trained k-means coarse quantizer — the
    production form similarity.ann_ivf_coarse's docstring points at
    ("swap the arithmetic centroid choice for k-means centroids").

    Two properties the arithmetic version can't give:
      - the inverted lists are LEARNED, so list sizes track the data's
        cluster structure instead of id arithmetic;
      - list assignment is the fixed-point integer argmin — replaying
        a stage, changing partitioning, or running the oracle engine
        CANNOT flip a vector into a different list (the float-centroid
        caveat similarity.py documents as measure-zero is simply gone
        for the bucketing step; only the in-list cosine stays float).

    Scale: assignment is the map-only codegen expression; the probe
    joins an 8-row broadcast query set against its own list (equi-join
    on cid — each query scores ~|corpus|/K candidates); exact cosine +
    top-k rank run on that sliver only.
    """
    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    qdf, cents = _fit(spark, sf_dir)
    assigned = qdf.withColumn("asg", _assign_col(cents)).select(
        "vec_id", F.col("asg.cid").alias("cid")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "embedding", F.expr(f"sqrt({_DOT_SELF})").alias("nrm")
    ).join(assigned, "vec_id")
    # the key filter already bounds qs to N_QUERIES rows; the explicit
    # limit makes that bound structural (GlobalLimit node) so the
    # broadcast hint is provably over a bounded frame (plan_hints rule)
    qs = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
            "cid",
        )
        .limit(N_QUERIES)
    )
    scored = (
        e.join(F.broadcast(qs), "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos", F.expr(_DOT_QV) / (F.col("qn") * F.col("nrm")))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos", 6).alias("cosine"),
            "rk",
        )
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# ann_ivf_pq — IVF-PQ with asymmetric distance computation (ADC): the
# production 100 TB ANN shape (coarse cells bound the candidate set,
# product-quantized codes bound the BYTES — M codes ≈ 8 B/vector
# instead of 256 B of floats — and ADC scores candidates from a
# per-query lookup table without ever touching the original vectors).
# --------------------------------------------------------------------------
PQ_M = 32         # subspaces (2-dim: the measured ADC-noise lever, see below)
PQ_SUBDIM = DIM // PQ_M
PQ_NCODES = 256   # codes per subspace, 8-bit (seeded from vec_ids 0..255)
PQ_TRAIN_ROUNDS = 2
PQ_NPROBE = 3     # coarse cells probed per query (multi-probe recall knob)
PQ_RERANK = 25    # ADC shortlist size exact-scored by ann_ivf_pq_refined


def _pq_assign_cte(name: str, cbname: str) -> str:
    """Per-(vector, subspace) integer code argmin vs a codebook CTE —
    carries the subvector so the update CTE can aggregate it."""
    sub = f"list_slice(res.r, cb.m * {PQ_SUBDIM} + 1, cb.m * {PQ_SUBDIM} + {PQ_SUBDIM})"
    dist = (
        f"list_sum(list_transform(list_zip({sub}, cb.cvec),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
    {name} AS (
        SELECT vec_id, cid, m, code, sub FROM (
            SELECT res.vec_id, res.cid, cb.m, cb.code, {sub} AS sub,
                   row_number() OVER (
                       PARTITION BY res.vec_id, cb.m
                       ORDER BY {dist}, cb.code) AS rn
            FROM res CROSS JOIN {cbname} cb) WHERE rn = 1)"""


def _pq_update_cte(name: str, assigned: str) -> str:
    """Grid-rounded mean subvector per (m, code) — the subspace twin of
    _update_cte; codes that attracted no vectors vanish (as in the
    coarse k-means)."""
    return f"""
    {name} AS (
        SELECT m, code, list(cval ORDER BY dim) AS cvec FROM (
            SELECT a.m, a.code, dims.dim,
                   CAST(floor(CAST(sum(a.sub[dims.dim]) AS DOUBLE) / count(*)
                              + 0.5) AS BIGINT) AS cval
            FROM {assigned} a
            CROSS JOIN (SELECT unnest(generate_series(1, {PQ_SUBDIM})) AS dim) dims
            GROUP BY a.m, a.code, dims.dim)
        GROUP BY m, code)"""


def _pq_ranked_ctes() -> str:
    """The WITH-body shared by the ADC oracle and the refined oracle:
    quantize → coarse fit → residuals → codebook train → encode →
    per-(query, probed cell) LUTs → ADC scores → rank."""
    from open_pulsar_spark.operators.similarity import N_QUERIES

    return f"""{_KMEANS_CTES},
    res AS (
        SELECT a.vec_id, a.cid,
               list_transform(list_zip(a.q, c.c), p -> p[1] - p[2]) AS r
        FROM a2 a JOIN c2 c ON c.cid = a.cid),
    ms AS (SELECT unnest(generate_series(0, {PQ_M - 1})) AS m),
    cb0 AS (
        SELECT m.m, res.vec_id AS code,
               list_slice(res.r, m.m * {PQ_SUBDIM} + 1,
                          m.m * {PQ_SUBDIM} + {PQ_SUBDIM}) AS cvec
        FROM res CROSS JOIN ms m WHERE res.vec_id < {PQ_NCODES}),
    {"".join(
        _pq_assign_cte(f"pa{i}", f"cb{i}") + ","
        + _pq_update_cte(f"cb{i + 1}", f"pa{i}") + ","
        for i in range(PQ_TRAIN_ROUNDS)
    )}
    {_pq_assign_cte("codes", f"cb{PQ_TRAIN_ROUNDS}")},
    qprobe AS (
        SELECT vec_id AS query_id, cid, r FROM (
            SELECT v.vec_id, c.cid,
                   list_transform(list_zip(v.q, c.c), p -> p[1] - p[2]) AS r,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY {_ZIP_DIST}, c.cid) AS rn
            FROM q v CROSS JOIN c2 c
            WHERE v.vec_id < {N_QUERIES}) WHERE rn <= {PQ_NPROBE}),
    lut AS (
        SELECT qp.query_id, qp.cid AS qcid, cb.m, cb.code,
               list_sum(list_transform(
                   list_zip(list_slice(qp.r, cb.m * {PQ_SUBDIM} + 1,
                                       cb.m * {PQ_SUBDIM} + {PQ_SUBDIM}), cb.cvec),
                   p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS pdist
        FROM qprobe qp CROSS JOIN cb{PQ_TRAIN_ROUNDS} cb),
    scored AS (
        SELECT l.query_id, c.vec_id AS neighbor_id,
               sum(l.pdist)::BIGINT AS adc_dist
        FROM codes c
        JOIN lut l ON l.qcid = c.cid AND l.m = c.m AND l.code = c.code
        WHERE c.vec_id <> l.query_id
        GROUP BY l.query_id, c.vec_id),
    ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, neighbor_id) AS rk
        FROM scored)"""


def _pq_oracle() -> str:
    from open_pulsar_spark.operators.similarity import TOP_K

    return f"""
    WITH {_pq_ranked_ctes()}
    SELECT query_id, neighbor_id, adc_dist, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """


def _pq_refined_oracle() -> str:
    from open_pulsar_spark.operators.similarity import TOP_K

    return f"""
    WITH {_pq_ranked_ctes()},
    short AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= {PQ_RERANK}),
    exact AS (
        SELECT s.query_id, s.neighbor_id,
               list_sum(list_transform(list_zip(qq.q, nn.q),
                   p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS sq_dist
        FROM short s
        JOIN q qq ON qq.vec_id = s.query_id
        JOIN q nn ON nn.vec_id = s.neighbor_id),
    refined AS (
        SELECT query_id, neighbor_id, sq_dist,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY sq_dist, neighbor_id) AS rk
        FROM exact)
    SELECT query_id, neighbor_id, sq_dist, rk
    FROM refined WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """


def _residual_from(qdf: DataFrame, cents: list[tuple[int, list[int]]]):
    """(vec_id, cid, r): fixed-point residual vs the TRAINED coarse
    centroid — shared by encode, codebook, and query sides."""
    entries = ", ".join(
        f"{int(cid)}, array({','.join(str(int(v)) + 'L' for v in vec)})"
        for cid, vec in cents
    )
    return qdf.withColumn("asg", _assign_col(cents)).select(
        "vec_id",
        F.col("asg.cid").alias("cid"),
        F.expr(f"zip_with(q, map({entries})[asg.cid], (x, c) -> x - c)").alias("r"),
    )


def _residual_frame(spark: SparkSession, sf_dir: str):
    """Convenience: fit then residual (kept for tests/backfill)."""
    qdf, cents = _fit(spark, sf_dir)
    return _residual_from(qdf, cents)


def _pq_encode(res: DataFrame, cb: list[list[tuple[int, list[int]]]]) -> DataFrame:
    """Arrow-batched PQ encoder: (vec_id, cid, r) → + code_0..code_{M-1},
    `r` carried through for the training aggregate.

    The 16-code era encoded with a literal-argmin codegen expression;
    at 256 codes/8-bit that expression is ~2k structs per subspace —
    past the JVM method/constant-pool limits whole-stage codegen can
    inline, and interpreted HOF-lambda eval at 256×M codes/vector is
    seconds per million rows. numpy int64 is EXACT for this range
    (|r| < 1e4 ⇒ dot terms < 2e8, norms < 2e9 — no 2^63 anywhere near),
    so the fixed-point replay-determinism contract holds; argmin's
    first-minimum rule equals the engines' low-code tie-break because
    each codebook is code-sorted. Map-only, embarrassingly parallel —
    the same 100 TB posture as the codegen encode, ~10× cheaper.
    """
    import numpy as np
    import pandas as pd

    code_ids = [
        np.asarray([c for c, _ in cb[m]], dtype=np.int64) for m in range(PQ_M)
    ]
    mats = [
        np.asarray([v for _, v in cb[m]], dtype=np.int64) for m in range(PQ_M)
    ]
    # decomposed distance: ||sub-c||² = ||sub||² - 2·sub·c + ||c||²;
    # the per-row ||sub||² addend can't change an argmin, so rank on
    # (||c||² - 2·sub·c) — same ties, (n×codes) ints instead of a
    # (n×codes×subdim) broadcast temp
    cnorms = [(m * m).sum(axis=1) for m in mats]
    schema = (
        "vec_id long, cid int, r array<bigint>, "
        + ", ".join(f"code_{m} int" for m in range(PQ_M))
    )

    def fn(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            R = np.asarray(pdf["r"].tolist(), dtype=np.int64)
            data = {"vec_id": pdf["vec_id"], "cid": pdf["cid"], "r": pdf["r"]}
            for m in range(PQ_M):
                sub = R[:, m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]
                d = cnorms[m][None, :] - 2 * (sub @ mats[m].T)
                data[f"code_{m}"] = code_ids[m][d.argmin(axis=1)].astype("int32")
            yield pd.DataFrame(data)

    return res.select("vec_id", "cid", "r").mapInPandas(fn, schema)


def _pq_train_round(res: DataFrame, cb: list[list[tuple[int, list[int]]]]):
    """One integer Lloyd round over ALL subspaces in one job: assign
    (Arrow argmin kernel) → grid-rounded mean per (m, code, dim) →
    ≤ M×NCODES×SUBDIM rows to the driver (the subspace twin of
    _update). Codes that attracted no vectors vanish, as in the coarse
    k-means."""
    pairs = _pq_encode(res, cb).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.col(f"code_{m}").alias("code"),
                        F.expr(
                            f"slice(r, {m * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
                        ).alias("sub"),
                    )
                    for m in range(PQ_M)
                ]
            )
        ).alias("p")
    )
    rows = (
        pairs.select("p.m", "p.code", F.posexplode("p.sub"))
        .groupBy("m", "code", "pos")
        .agg(F.sum("col").alias("s"), F.count("*").alias("n"))
        .collect()
    )
    acc: dict[tuple[int, int], dict[int, int]] = {}
    for r in rows:
        acc.setdefault((r.m, r.code), {})[r.pos] = math.floor(r.s / r.n + 0.5)
    return [
        sorted(
            (code, [dims[i] for i in range(PQ_SUBDIM)])
            for (mm, code), dims in acc.items()
            if mm == m
        )
        for m in range(PQ_M)
    ]


_PQ_CACHE: dict[tuple[str, str], tuple] = {}
_PQ_LOCK = threading.Lock()  # distinct from _FIT_LOCK: the build calls _fit


def _pq_scored(spark: SparkSession, sf_dir: str):
    """The shared IVF-PQ pipeline: fit coarse cells, train codebooks,
    encode the corpus, build per-(query, probed-cell) ADC tables, and
    return (scored frame of (vec_id, cid, query_id, adc_dist) rows,
    quantized frame) — ann_ivf_pq windows it directly; the refined
    variant re-ranks an ADC shortlist with exact integer distances.

    MEMOIZED per (Spark application, sf_dir): both PQ variants consume
    the identical trained index, training is replay-deterministic, so
    the cached plan is bit-identical to rebuilding — train once,
    serve both. Keyed by applicationId so a plan from a stopped
    session can never leak into a new one; insertions evict dead-app
    entries (whose plans reference a dead gateway) so the cache holds
    one application's generation. _PQ_LOCK is HELD across the build —
    concurrent FAIR-scheduler consumers (both PQ variants) serialize
    into one training run; it must stay distinct from _FIT_LOCK,
    which the build acquires via _fit."""
    key = (spark.sparkContext.applicationId, sf_dir)
    with _PQ_LOCK:
        hit = _PQ_CACHE.get(key)
        if hit is None:
            hit = _pq_build(spark, sf_dir)
            _evict_other_apps(_PQ_CACHE, key[0])
            _PQ_CACHE[key] = hit
    return hit


def _pq_build(spark: SparkSession, sf_dir: str):
    """Uncached IVF-PQ pipeline build — see _pq_scored."""
    from open_pulsar_spark.operators.similarity import N_QUERIES

    qdf, cents = _fit(spark, sf_dir)
    res = _residual_from(qdf, cents)

    cb_rows = sorted(
        (r.vec_id, list(r.r))
        for r in res.where(F.col("vec_id") < PQ_NCODES).collect()
    )
    if len(cb_rows) != PQ_NCODES:
        raise ValueError(
            f"PQ codebook needs vec_ids 0..{PQ_NCODES - 1}; got {len(cb_rows)}"
        )
    cb = [
        [(code, rvec[m * PQ_SUBDIM : (m + 1) * PQ_SUBDIM]) for code, rvec in cb_rows]
        for m in range(PQ_M)
    ]
    with held(res, fill=False) as res:
        for _ in range(PQ_TRAIN_ROUNDS):
            cb = _pq_train_round(res, cb)

    encoded = _pq_encode(res, cb).select(
        "vec_id", "cid", *[f"code_{m}" for m in range(PQ_M)]
    )

    # bounded probe side (same contract as similarity.py's probe
    # collects: the pushed vec_id predicate makes this N_QUERIES rows).
    # Multi-probe: each query visits its PQ_NPROBE nearest trained
    # cells; the residual — and therefore the ADC table — is computed
    # PER PROBED CELL (q - that cell's centroid), in Python integer
    # math identical to the engines' (same argmin tie-break: low cid).
    cent_by_cid = {cid: vec for cid, vec in cents}
    q_rows: list[tuple[int, int, list[int]]] = []  # (query_id, cell, residual)
    for qr in sorted(
        (r.vec_id, list(r.q))
        for r in qdf.where(F.col("vec_id") < N_QUERIES).collect()
    ):
        qid, qv = qr
        ranked_cells = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, vec)), cid)
            for cid, vec in cent_by_cid.items()
        )[:PQ_NPROBE]
        for _, cid in ranked_cells:
            cvec = cent_by_cid[cid]
            q_rows.append((qid, cid, [a - b for a, b in zip(qv, cvec)]))
    # per-query ADC tables, Python integer math == engine integer math.
    # Each table is (M, NCODES) indexed BY CODE VALUE; training can
    # drop codes that attracted no vectors, so vacated slots hold a
    # sentinel. The sentinel is unreachable (encode only ever emits
    # codes present in cb[m]) but keeps every REACHABLE code's slot
    # aligned; 2^40 dwarfs any real pdist (< 2^31) without risking
    # int64 overflow in the M-term ADC sum the way 2^62 would.
    #
    # The tables ship to executors INSIDE the scoring kernel's closure
    # (~{M}×{NCODES} ints — broadcast-sized by construction), and
    # scoring is M fancy-indexed lookups per candidate in numpy int64.
    # NOT inlined literal expressions: at 256 codes that is ~65k
    # Column constructions — ~40 s of driver py4j round-trips for the
    # same arithmetic the kernel does in milliseconds (measured).
    import numpy as np

    probes: list[tuple[int, int, "np.ndarray"]] = []
    for qid, qcid, rvec in q_rows:
        lut = np.full((PQ_M, PQ_NCODES), 2**40, dtype=np.int64)
        for m in range(PQ_M):
            for code, cvec in cb[m]:
                lut[m, code] = sum(
                    (rvec[m * PQ_SUBDIM + i] - cvec[i]) ** 2
                    for i in range(PQ_SUBDIM)
                )
        probes.append((qid, qcid, lut))

    def score(batches):
        import numpy as np
        import pandas as pd

        m_idx = np.arange(PQ_M)[None, :]
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(
                [pdf[f"code_{m}"].to_numpy() for m in range(PQ_M)], axis=1
            )
            cid = pdf["cid"].to_numpy()
            vid = pdf["vec_id"].to_numpy()
            for qid, qcid, lut in probes:
                mask = (cid == qcid) & (vid != qid)
                if not mask.any():
                    continue
                adc = lut[m_idx, codes[mask]].sum(axis=1)
                yield pd.DataFrame(
                    {
                        "query_id": np.int64(qid),
                        "neighbor_id": vid[mask],
                        "adc_dist": adc,
                    }
                )

    scored = encoded.mapInPandas(
        score, "query_id long, neighbor_id long, adc_dist long"
    )
    return scored, qdf


@query("ann_ivf_pq", oracle=_pq_oracle())
def ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN with asymmetric distance computation: trained coarse
    cells (ann_ivf_kmeans's quantizer) + {PQ_M}-subspace 8-bit product
    codes over the integer RESIDUALS, scored by a per-query ADC lookup
    table.

    Everything is fixed-point: residuals, codebooks (seeded from
    vec_ids 0..255's residual subvectors, then PQ_TRAIN_ROUNDS integer
    Lloyd rounds per subspace), code assignment (integer argmin,
    low-code tie-break), and ADC partial distances — so codes, LUTs
    and the final ranking are bit-identical across engines and
    partitionings (the same replay-proof property as the coarse
    quantizer; rank ties break on neighbor_id).

    Multi-probe: each query visits its PQ_NPROBE nearest coarse cells
    with a PER-CELL residual/ADC table — the per-cell ADC estimates
    all target ||q - x||² (the decomposition shares the cell centroid
    on both sides), so cross-cell candidates rank on one scale.
    Measured against FULL-corpus brute-force truth (recall@5): 0.25 at
    the round-4 config (16 codes/4-bit, M=8) → 0.35 at 256 codes/8-bit
    M=8 → 0.60-0.675 at M=16 → **0.925 at the current config (M=32
    2-dim subspaces, nprobe=3, 2 Lloyd rounds; codes are 32 B/vector —
    still 8× under raw floats)**. Round-6 config sweep (numpy replica
    of this exact pipeline, per-knob): M=16→32 is the dominant lever
    (0.675→0.80 at nprobe=2 — ADC noise scales with subspace WIDTH on
    this corpus), nprobe 2→3 raises the exact-in-cell ceiling 0.875→
    0.95 and ADC to 0.875, a second Lloyd round adds 0.05. An
    OPQ-style rotation was tried and MEASURED COUNTERPRODUCTIVE: PCA
    rotation with eigenvalue allocation 0.60, plain PCA rotation 0.55,
    variance-balanced serpentine dim permutation 0.60 — all BELOW the
    0.675 identity baseline, because these embeddings are near
    isotropic (no cross-dim correlation for a rotation to remove) and
    the fixed-point rotation adds grid-rounding noise; OPQ pays on
    PCA-skewed real embeddings, not here. ann_ivf_pq_refined still
    adds the production exact-re-rank stage on top (0.95 ceiling).

    Scale — the plan IS the production shape:
      - encode is a MAP-ONLY Arrow argmin kernel (numpy int64 — see
        _pq_encode for why codegen stops at ~16 codes); at 100 TB the
        corpus persists as (vec_id, cid, {PQ_M} codes) ≈ 16 B/vector —
        the index users scan instead of raw embeddings;
      - the ADC LUT is driver-built from {PQ_NCODES}×{PQ_M} codebook
        rows + the bounded probe set and SHIPPED IN THE SCORING
        KERNEL's closure (a few hundred KB) — scoring a candidate is
        {PQ_M} integer lookups, no join, no shuffle, exactly how ADC
        runs in real ANN engines (table-in-registers);
      - the only shuffle is the per-query top-k window over each
        query's OWN cell (candidates ≈ |corpus|/K per query).
    """
    from pyspark.sql import Window

    from open_pulsar_spark.operators.similarity import TOP_K

    scored, _ = _pq_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "adc_dist", "rk")
        .orderBy("query_id", "rk")
    )


@query("ann_ivf_pq_refined", oracle=_pq_refined_oracle())
def ann_ivf_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ **with exact re-ranking** — the production refinement
    stage (FAISS's IVFPQ+refine shape): the ADC pass shortlists the
    top-{PQ_RERANK} candidates per query, then ONLY those are scored
    with the exact fixed-point distance over the full quantized
    vectors and the top-{TOP_K} re-ranked on that.

    Why it exists: ADC is an approximation of the exact in-cell score
    (pure-ADC recall@5 0.925 at the round-6 config, see ann_ivf_pq);
    the refine stage closes the remaining gap to the probed-cell
    ceiling — **measured 0.95 vs full brute force** — while still
    reading original vectors for only PQ_RERANK candidates per query.
    Exact distances are global (||q - x||² over the shared grid), so
    cross-cell candidates compare on one scale with no centroid terms.

    Scale: the shortlist is N_QUERIES × {PQ_RERANK} rows — it and the
    8 query vectors broadcast against the corpus scan, so the refine
    join is one map-side lookup pass (at 100 TB: a point-lookup join
    against the vector store, the standard refine I/O pattern); the
    re-rank window partitions by query over ≤{PQ_RERANK} rows each.
    """
    from pyspark.sql import Window

    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    scored, qdf = _pq_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    # rk ≤ PQ_RERANK over N_QUERIES queries already bounds the
    # shortlist; the explicit limit makes the bound structural
    # (GlobalLimit node) for the broadcast hint below (plan_hints rule)
    short = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= PQ_RERANK)
        .select("query_id", "neighbor_id")
        .limit(N_QUERIES * PQ_RERANK)
    )
    # the filter keeps ≤ N_QUERIES rows; the explicit limit makes that
    # bound STRUCTURAL (GlobalLimit) on this scan path too — the
    # broadcast below must be bounded on EVERY path, not vouched for
    # by the shortlist's limit alone (plan_hints per-scan-path rule)
    qq = (
        qdf.where(F.col("vec_id") < N_QUERIES)
        .limit(N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), F.col("q").alias("qq"))
    )
    nn = qdf.select(F.col("vec_id").alias("neighbor_id"), F.col("q").alias("nq"))
    exact = nn.join(
        F.broadcast(short.join(qq, "query_id")), "neighbor_id"
    ).withColumn(
        "sq_dist",
        F.expr("aggregate(zip_with(qq, nq, (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)"),
    )
    w2 = Window.partitionBy("query_id").orderBy("sq_dist", "neighbor_id")
    return (
        exact.withColumn("rk", F.row_number().over(w2))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", "sq_dist", "rk")
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# ann_hard_negatives — nearest cross-cluster vectors (contrastive mining).
# --------------------------------------------------------------------------
HARD_NEG_CELLS = 2  # nearest FOREIGN coarse cells probed per query


def _hard_negatives_oracle() -> str:
    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    return f"""
    WITH {_KMEANS_CTES},
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                 sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
          FROM embeddings),
    qs AS (SELECT a.vec_id AS query_id, a.q AS qq, e.v AS qv, e.nrm AS qn, a.cid
           FROM a2 a JOIN e ON e.vec_id = a.vec_id
           WHERE a.vec_id < {N_QUERIES}),
    fcells AS (
        SELECT query_id, cid FROM (
            SELECT q.query_id, c.cid,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_sum(list_transform(list_zip(q.qq, c.c),
                                    p -> (p[1]-p[2])*(p[1]-p[2]))), c.cid) AS rn
            FROM qs q CROSS JOIN c2 c WHERE c.cid <> q.cid
        ) WHERE rn <= {HARD_NEG_CELLS}),
    scored AS (
        SELECT q.query_id, a.vec_id AS negative_id,
               list_dot_product(q.qv, e2.v) / (q.qn * e2.nrm) AS cos
        FROM qs q
        JOIN fcells f ON f.query_id = q.query_id
        JOIN a2 a ON a.cid = f.cid
        JOIN e e2 ON e2.vec_id = a.vec_id
    ),
    ranked AS (
        SELECT query_id, negative_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, negative_id) AS rk
        FROM scored
    )
    SELECT query_id, negative_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """


@query("ann_hard_negatives", oracle=_hard_negatives_oracle())
def ann_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HARD-NEGATIVE MINING for contrastive training: for each query
    vector, the top-k most-similar vectors from a DIFFERENT semantic
    cluster — the near-boundary non-matches an embedding model learns
    the most from (random negatives are trivially far; same-cluster
    vectors are presumptive positives, not negatives).

    Candidates come from the query's {HARD_NEG_CELLS} nearest FOREIGN
    coarse cells (trained fixed-point quantizer — cell ranking is
    integer math, replay-deterministic), then exact cosine ranks them.
    That is the production mining shape: the nearest foreign cells
    contain the globally-hardest negatives with overwhelming
    probability, and the candidate set is ≈ {HARD_NEG_CELLS}·|corpus|/K
    per query instead of the full corpus — the same IVF economics as
    ann_ivf_kmeans, reused for a training-data task.

    Scale: cell assignment is the map-only codegen argmin; the probe
    set (queries × foreign cells) is broadcast; exact cosine + top-k
    run on the candidate sliver only. One shuffle (the per-query
    window).
    """
    from pyspark.sql import Window

    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    qdf, cents = _fit(spark, sf_dir)
    assigned = qdf.withColumn("asg", _assign_col(cents)).select(
        "vec_id", F.col("asg.cid").alias("cid")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "embedding", F.expr(f"sqrt({_DOT_SELF})").alias("nrm")
    ).join(assigned, "vec_id")

    # driver-side probe build (bounded: N_QUERIES × K integer rows):
    # rank every foreign cell by integer distance to the query vector,
    # keep the nearest HARD_NEG_CELLS — same Python-int == engine-int
    # contract as ann_ivf_pq's multi-probe.
    cent_by_cid = {cid: vec for cid, vec in cents}
    q_assign = {
        r.vec_id: r.cid
        for r in assigned.where(F.col("vec_id") < N_QUERIES).collect()
    }
    q_rows = sorted(
        (r.vec_id, list(r.q))
        for r in qdf.where(F.col("vec_id") < N_QUERIES).collect()
    )
    probe_cells = []
    for qid, qv in q_rows:
        own = q_assign[qid]
        ranked_cells = sorted(
            (sum((a - b) ** 2 for a, b in zip(qv, vec)), cid)
            for cid, vec in cent_by_cid.items()
            if cid != own
        )[:HARD_NEG_CELLS]
        probe_cells.extend((qid, cid) for _, cid in ranked_cells)
    probes = spark.createDataFrame(probe_cells, "query_id LONG, cid INT")

    # key filter bounds qs to N_QUERIES rows; the limit makes the
    # bound structural for the broadcast hint (plan_hints rule)
    qs = (
        e.where(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        .limit(N_QUERIES)
    )
    probe_side = probes.join(qs, "query_id")
    scored = (
        e.join(F.broadcast(probe_side), "cid")
        .withColumn("cos", F.expr(_DOT_QV) / (F.col("qn") * F.col("nrm")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "vec_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("negative_id"),
            F.round("cos", 6).alias("cosine"),
            "rk",
        )
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# embedding_centroid_drift — per-label centroid shift between snapshots.
# --------------------------------------------------------------------------
@query(
    "embedding_centroid_drift",
    oracle=f"""
    WITH q AS (
        SELECT vec_id, label, vec_id % 2 AS half,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5)
                             AS BIGINT)) AS q
        FROM embeddings
    ),
    cents AS (
        SELECT label, half, dims.dim,
               CAST(floor(CAST(sum(q[dims.dim]) AS DOUBLE)
                          / count(q[dims.dim]) + 0.5) AS BIGINT) AS cval,
               count(q[dims.dim]) AS n
        FROM q
        CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS dim) dims
        GROUP BY label, half, dims.dim
    ),
    counts AS (
        -- derived from the centroid aggregate at dim 1, mirroring the
        -- engine's single-scan shape: a null/empty-embedding vector
        -- contributes to neither engine's counts
        SELECT label,
               sum(CASE WHEN half = 0 THEN n ELSE 0 END)::BIGINT AS n_old,
               sum(CASE WHEN half = 1 THEN n ELSE 0 END)::BIGINT AS n_new
        FROM cents WHERE dim = 1 GROUP BY label
    ),
    shift AS (
        SELECT o.label,
               sum((o.cval - n.cval) * (o.cval - n.cval))::BIGINT AS sq_shift
        FROM cents o JOIN cents n
          ON o.label = n.label AND o.dim = n.dim
         AND o.half = 0 AND n.half = 1
        GROUP BY o.label
    )
    SELECT s.label::BIGINT AS label, c.n_old, c.n_new, s.sq_shift
    FROM shift s JOIN counts c USING (label)
    ORDER BY sq_shift DESC, label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label EMBEDDING DRIFT between two corpus snapshots (even
    vec_ids = prior snapshot, odd = new — the same parity convention
    as snapshot_incremental_dedup): the integer centroid of each label
    is computed per snapshot on the fixed-point grid, and the squared
    L2 shift between the two centroids is the drift. The
    embedding-side twin of corpus_source_drift (which watches the
    text/lang mix): a retrained or silently-swapped embedding model,
    or a content shift inside a label, moves centroids long before
    any text statistic notices. Labels present in only one snapshot
    drop out (inner join) — they are birth/death events for
    corpus_snapshot_diff, not drift.

    Determinism: grid quantization + integer sums + the one rounded
    division per (label, half, dim) — the k-means _update contract —
    so the drift is bit-identical across engines and partitionings.

    Scale: one map-only quantize pass, one (label × 2 × {DIM})-group
    aggregate (partial map-side — the shuffle carries ~K·2·{DIM}
    rows), then label-scale joins. The corpus is never shuffled.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.expr(_Q_EXPR).alias("q"),
    )
    cents = (
        q.select("label", "half", F.posexplode("q"))
        .groupBy("label", "half", "pos")
        .agg(
            F.expr(
                "cast(floor(cast(sum(col) as double) / count(*) + 0.5d)"
                " as bigint)"
            ).alias("cval"),
            F.count("*").alias("n"),
        )
    )
    # materialize the centroid table (|labels|×2×DIM rows — driver-scale
    # by construction, like the k-means rounds): three consumers below
    # would otherwise re-run the corpus scan + explode per branch
    cents = spark.createDataFrame(cents.collect(), cents.schema)
    # member counts ride the cents aggregate for free (every dim of a
    # (label, half) group has the same n — read it at pos 0) instead of
    # a second scan of the corpus
    counts = (
        cents.where(F.col("pos") == 0)
        .groupBy("label")
        .agg(
            F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_old"),
            F.sum(F.when(F.col("half") == 1, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
        )
    )
    old = cents.where(F.col("half") == 0).select(
        "label", "pos", F.col("cval").alias("o")
    )
    new = cents.where(F.col("half") == 1).select(
        "label", "pos", F.col("cval").alias("n")
    )
    shift = (
        old.join(new, ["label", "pos"])
        .groupBy("label")
        .agg(
            F.sum((F.col("o") - F.col("n")) * (F.col("o") - F.col("n")))
            .cast("bigint")
            .alias("sq_shift")
        )
    )
    return (
        shift.join(counts, "label")
        .select(
            F.col("label").cast("bigint").alias("label"),
            "n_old",
            "n_new",
            "sq_shift",
        )
        .orderBy(F.desc("sq_shift"), "label")
    )


# --------------------------------------------------------------------------
# ivf_assignment_churn — index staleness: how many vectors change cells
# when a half-corpus codebook is warm-start-refreshed on the full corpus.
# --------------------------------------------------------------------------
_CHURN_CTES = f"""q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ),
    qh AS (SELECT vec_id, q FROM q WHERE vec_id % 2 = 0),
    c0h AS (SELECT vec_id AS cid, q AS c FROM qh ORDER BY vec_id LIMIT {K}),
    {_assign_cte("a0h", "c0h", src="qh")},
    {_update_cte("c1h", "a0h")},
    {_assign_cte("a1h", "c1h", src="qh")},
    {_update_cte("c2h", "a1h")},
    {_assign_cte("af0", "c2h")},
    {_update_cte("cf1", "af0")},
    {_assign_cte("af1", "cf1")},
    {_update_cte("cf2", "af1")},
    {_assign_cte("sa", "c2h")},
    {_assign_cte("fa", "cf2")}"""


@query(
    "ivf_assignment_churn",
    oracle=f"""
    WITH {_CHURN_CTES},
    j AS (
        SELECT sa.vec_id, sa.cid AS scid, fa.cid AS fcid
        FROM sa JOIN fa ON fa.vec_id = sa.vec_id),
    tot AS (
        SELECT (sum(CASE WHEN scid <> fcid THEN 1 ELSE 0 END) * 1000000
                // count(*))::BIGINT AS total_churn_ppm
        FROM j)
    SELECT scid::INT AS cell,
           count(*)::BIGINT AS n_vecs,
           sum(CASE WHEN scid <> fcid THEN 1 ELSE 0 END)::BIGINT
               AS n_churned,
           (sum(CASE WHEN scid <> fcid THEN 1 ELSE 0 END) * 1000000
               // count(*))::BIGINT AS churn_ppm,
           (SELECT total_churn_ppm FROM tot) AS total_churn_ppm
    FROM j
    GROUP BY scid
    ORDER BY cell
    """,
)
def ivf_assignment_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index STALENESS, measured: train the coarse codebook on the
    even-id HALF of the corpus (the index you built last month), then
    warm-start {UPDATE_ROUNDS} Lloyd rounds on the FULL corpus (the
    refresh you are pricing) — the warm start preserves cell identity,
    so per-cell churn (vectors whose nearest centroid changed) is
    well-defined. total_churn_ppm is the fraction of the corpus whose
    inverted-list home is stale; per-cell rows show WHICH lists to
    rebuild first. The maintenance readout between
    embedding_centroid_drift (how far centroids moved) and
    ivf_nprobe_recall_curve (what probing more lists buys): this one
    prices the rebuild itself.

    Determinism: both codebooks and all four assignment passes run on
    the fixed-point grid (integer distances, min-cid tie-break) — the
    kmeans replay contract — so churn is bit-identical across engines
    and partitionings.

    Scale: each Lloyd round and each assignment pass is map-only
    codegen against K literal centroids + one K×DIM driver aggregate
    (the _fit contract); the final double assignment runs in ONE scan
    (two literal-array argmins side by side) feeding a ≤K-row cell
    aggregate closed in Python ints. The corpus never shuffles."""
    qdf = _quantized(spark, sf_dir)
    qh = qdf.where(F.col("vec_id") % 2 == 0)
    seeds = sorted(
        (int(r.vec_id), list(r.q))
        for r in qh.orderBy("vec_id").limit(K).collect()
    )
    if len(seeds) < K:
        raise ValueError(
            f"ivf_assignment_churn: need {K} even-id seed vectors,"
            f" found {len(seeds)}"
        )
    stale = seeds
    for _ in range(UPDATE_ROUNDS):
        stale = _update(qh, stale)
    fresh = stale
    for _ in range(UPDATE_ROUNDS):
        fresh = _update(qdf, fresh)
    both = (
        qdf.withColumn("_asg_s", _assign_col(stale))
        .withColumn("_asg_f", _assign_col(fresh))
        .select(
            F.col("_asg_s.cid").alias("scid"),
            F.col("_asg_f.cid").alias("fcid"),
        )
    )
    cells = (
        both.groupBy("scid")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(
                F.when(F.col("scid") != F.col("fcid"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_churned"),
        )
        .collect()
    )
    schema = (
        "cell INT, n_vecs BIGINT, n_churned BIGINT, churn_ppm BIGINT,"
        " total_churn_ppm BIGINT"
    )
    rows = sorted(
        (int(r.scid), int(r.n_vecs), int(r.n_churned)) for r in cells
    )
    if not rows:
        return spark.createDataFrame([], schema)
    n_all = sum(r[1] for r in rows)
    ch_all = sum(r[2] for r in rows)
    total_ppm = ch_all * 1000000 // n_all
    out = [
        (cell, n, ch, ch * 1000000 // n, total_ppm)
        for cell, n, ch in rows
    ]
    return spark.createDataFrame(out, schema).orderBy("cell")


# --------------------------------------------------------------------------
# embedding_quantization_error — int8 compression-loss audit.
# --------------------------------------------------------------------------
@query(
    "embedding_quantization_error",
    oracle=f"""
    WITH q AS (
        SELECT label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5) AS BIGINT)) AS q
        FROM embeddings
    ),
    s AS (
        SELECT label, q,
               list_aggregate(list_transform(q, v -> abs(v)), 'max') AS mx
        FROM q
    ),
    e AS (
        SELECT label, len(q)::BIGINT AS dims,
               list_sum(list_transform(q,
                   v -> CASE WHEN mx = 0 THEN 0
                        ELSE abs(127 * v
                                 - CAST(floor(v * 127.0 / mx + 0.5) AS BIGINT)
                                   * mx) END))::BIGINT AS sum_err,
               list_aggregate(list_transform(q,
                   v -> CASE WHEN mx = 0 THEN 0
                        ELSE abs(127 * v
                                 - CAST(floor(v * 127.0 / mx + 0.5) AS BIGINT)
                                   * mx) END), 'max')::BIGINT AS max_err
        FROM s
    )
    SELECT label::BIGINT AS label,
           count(*)::BIGINT AS n_vecs,
           round(sum(sum_err) * 1.0 / (127.0 * {SCALE} * sum(dims)), 9)
               AS mean_abs_err,
           round(max(max_err) / (127.0 * {SCALE}), 9) AS max_abs_err
    FROM e
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconstruction-error audit of symmetric per-vector INT8
    quantization (scale = max|x|/127, the faiss/bitsandbytes absmax
    scheme) — the number that decides whether the 4× embedding-store
    compression is safe for retrieval, read per label so a single
    degenerate class can't hide in the corpus mean. Errors are
    computed exactly: on the engine's fixed-point grid (SCALE), the
    residual 127·v − q8·mx is pure integer arithmetic, so the
    per-label sums are bit-identical across engines and the only
    float ops are the shared floor(x+0.5) rounding rule and the final
    two divisions.

    Scale: map-only per-vector codegen (no Python boundary, payload
    never shuffles) followed by a |labels|-row aggregate — the
    embedding_norm_stats posture applied to compression loss.
    """
    embs = load_table(spark, sf_dir, "embeddings")
    q = embs.select("label", F.expr(_Q_EXPR).alias("q"))
    s = q.withColumn(
        "mx", F.expr("aggregate(q, 0L, (a, v) -> greatest(a, abs(v)))")
    )
    err_list = (
        "transform(q, v -> CASE WHEN mx = 0 THEN 0L "
        "ELSE abs(127 * v - cast(floor(v * 127.0d / mx + 0.5d) as bigint) * mx) "
        "END)"
    )
    e = s.select(
        "label",
        F.size("q").cast("bigint").alias("dims"),
        F.expr(f"aggregate({err_list}, 0L, (a, v) -> a + v)").alias("sum_err"),
        F.expr(f"aggregate({err_list}, 0L, (a, v) -> greatest(a, v))").alias(
            "max_err"
        ),
    )
    return (
        e.groupBy(F.col("label").cast("bigint").alias("label"))
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(
                F.sum("sum_err") * 1.0 / (127.0 * SCALE * F.sum("dims")), 9
            ).alias("mean_abs_err"),
            F.round(F.max("max_err") / (127.0 * SCALE), 9).alias("max_abs_err"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# label_embedding_affinity — class-level similarity structure.
# --------------------------------------------------------------------------
@query(
    "label_embedding_affinity",
    oracle=f"""
    WITH q AS (
        SELECT label,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * {SCALE} + 0.5)
                             AS BIGINT)) AS q
        FROM embeddings
    ),
    s AS (
        SELECT label, dims.dim, sum(q[dims.dim])::BIGINT AS s
        FROM q
        CROSS JOIN (SELECT unnest(generate_series(1, {DIM})) AS dim) dims
        GROUP BY label, dims.dim
    ),
    n AS (SELECT label, sum(s * s)::BIGINT AS nrm FROM s GROUP BY label),
    p AS (
        SELECT a.label AS label_a, b.label AS label_b,
               sum(a.s * b.s)::BIGINT AS dot
        FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
        GROUP BY a.label, b.label
    )
    SELECT p.label_a::BIGINT AS label_a,
           p.label_b::BIGINT AS label_b,
           CASE WHEN na.nrm = 0 OR nb.nrm = 0 THEN NULL
                ELSE round(p.dot / (sqrt(na.nrm * 1.0) * sqrt(nb.nrm * 1.0)), 6)
           END AS cos_sim
    FROM p JOIN n na ON na.label = p.label_a
           JOIN n nb ON nb.label = p.label_b
    ORDER BY label_a, label_b
    """,
)
def label_embedding_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine similarity between per-label CENTROIDS — the
    class-affinity matrix read before choosing contrastive negatives
    (ann_hard_negatives mines within the high-affinity pairs this
    surfaces), before merging near-identical classes, and as the
    embedding-side answer to source_crossentropy_matrix's token-level
    domain similarity. cos(mean_i, mean_j) = cos(sum_i, sum_j) — the
    member counts cancel — so the statistic is computed on exact
    integer dimension-sums on the fixed-point grid; the only float
    ops are the final sqrt/divide, identical in both engines.

    Scale: one map-only quantize + posexplode feeds a |labels|×DIM
    integer-sum aggregate (map-side partials; the corpus never
    shuffles); the sums frame is materialized (driver-scale by
    construction, the centroid-drift idiom) because three frames —
    both join sides and the norms — derive from it. Everything after
    is |labels|²-sized. Integer dot products of dimension-sums
    overflow int64 past ~3e9 summed fixed-point units per dimension;
    at that corpus scale carry rounded integer MEANS instead (the
    k-means _update contract) — same plan, same parity argument.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.select("label", F.expr(_Q_EXPR).alias("q"))
    sums = (
        q.select("label", F.posexplode("q"))
        .groupBy("label", "pos")
        .agg(F.sum("col").alias("s"))
    )
    sums = spark.createDataFrame(sums.collect(), sums.schema)
    norms = sums.groupBy("label").agg(F.sum(F.col("s") * F.col("s")).alias("nrm"))
    a, b = sums.alias("a"), sums.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(F.sum(F.col("a.s") * F.col("b.s")).alias("dot"))
    )
    na = norms.select(F.col("label").alias("label_a"), F.col("nrm").alias("na"))
    nb = norms.select(F.col("label").alias("label_b"), F.col("nrm").alias("nb"))
    return (
        pairs.join(na, "label_a")
        .join(nb, "label_b")
        .select(
            F.col("label_a").cast("bigint").alias("label_a"),
            F.col("label_b").cast("bigint").alias("label_b"),
            F.when(
                (F.col("na") == 0) | (F.col("nb") == 0),
                F.lit(None).cast("double"),
            )
            .otherwise(
                F.round(
                    F.col("dot")
                    / (F.sqrt(F.col("na") * 1.0) * F.sqrt(F.col("nb") * 1.0)),
                    6,
                )
            )
            .alias("cos_sim"),
        )
        .orderBy("label_a", "label_b")
    )


# --------------------------------------------------------------------------
# kmeans_silhouette — simplified (centroid) silhouette per cluster.
# --------------------------------------------------------------------------
def _sorted_dists_col(cents: list[tuple[int, list[int]]]):
    """array_sort over the SHARED (dist, cid) struct array — [0] is
    the assignment (identical tie-break to _assign_col's array_min by
    construction: same _dist_structs_sql), [1] the runner-up centroid
    the silhouette's b term needs."""
    return F.expr(f"array_sort({_dist_structs_sql(cents)})")


_SIL_DIST = _zip_dist_sql("a")


@query(
    "kmeans_silhouette",
    oracle=f"""
    WITH {_KMEANS_CTES},
    sil AS (
        SELECT a.vec_id, a.cid, a.sq_dist AS ad,
               min({_SIL_DIST})::BIGINT AS bd
        FROM a2 a CROSS JOIN c2 c WHERE c.cid <> a.cid
        GROUP BY 1, 2, 3),
    pt AS (
        SELECT cid,
               CASE WHEN greatest(ad, bd) = 0 THEN 0
                    ELSE (bd - ad) * 1000000 // greatest(ad, bd) END AS s
        FROM sil)
    SELECT cid::BIGINT AS cluster, count(*)::BIGINT AS n_members,
           (sum(s) // count(*))::BIGINT AS mean_silhouette_ppm
    FROM pt GROUP BY cid ORDER BY cluster
    """,
)
def kmeans_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette of the trained k-means model
    on the squared-distance ppm grid — s = (b − a)/max(a, b) with
    a = squared distance to the OWN centroid and b = to the nearest
    OTHER centroid (the centroid-silhouette variant: O(K) per point,
    not the O(n²) pairwise form — the only silhouette anyone computes
    at corpus scale). Near-1e6 clusters are compact and isolated;
    near-0 clusters overlap their neighbor — the model-quality readout
    that decides whether K was right, next to kmeans_cluster_sizes'
    occupancy view.

    Scale: ONE map-only pass (the K distances per vector are the same
    codegen expression class as the assignment; array_sort over K=10
    structs replaces array_min to expose the runner-up), then a K-row
    aggregate. a ≤ b by construction (a is the global argmin), so the
    ppm statistic is a nonneg integer — bit-identical everywhere; no
    sqrt enters (squared-distance silhouette, documented).
    """
    qdf, cents = _fit(spark, sf_dir)
    ds = _sorted_dists_col(cents)
    pt = qdf.select(
        F.col("vec_id"),
        ds.alias("ds"),
    ).select(
        F.expr("ds[0].cid").alias("cid"),
        F.expr("ds[0].dist").alias("ad"),
        F.expr("ds[1].dist").alias("bd"),
    )
    s = F.when(F.greatest("ad", "bd") == 0, F.lit(0)).otherwise(
        F.expr("(bd - ad) * 1000000 div greatest(ad, bd)")
    )
    return (
        pt.select(F.col("cid"), s.alias("s"))
        .groupBy("cid")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.expr("sum(s) div count(*)").cast("bigint").alias(
                "mean_silhouette_ppm"
            ),
        )
        .select(
            F.col("cid").cast("bigint").alias("cluster"),
            "n_members",
            "mean_silhouette_ppm",
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# embedding_dim_ablation — truncated-dimension retrieval-recall harness
# (the Matryoshka question: how many dims does top-k retrieval need?).
# --------------------------------------------------------------------------
ABLATION_DIMS = (8, 16, 32, 64)
# The truth set is the d == DIM row: without the full width in the sweep
# every recall would grade against an EMPTY truth set (0 on both engines —
# parity green, result meaningless). Fail loudly at import instead.
assert DIM in ABLATION_DIMS, "ABLATION_DIMS must include the full width DIM"


def _ablation_oracle() -> str:
    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    return f"""
    WITH e AS (
        SELECT vec_id,
               [CAST(floor(x::DOUBLE * {SCALE} + 0.5) AS BIGINT)
                FOR x IN embedding] AS q
        FROM embeddings),
    qs AS (SELECT vec_id AS query_id, q AS qv FROM e WHERE vec_id < {N_QUERIES}),
    ds AS (SELECT unnest([{", ".join(str(d) for d in ABLATION_DIMS)}])::INT AS d),
    scored AS (
        SELECT ds.d, qs.query_id, e.vec_id AS neighbor_id,
               list_sum(list_transform(
                   list_zip(list_slice(e.q, 1, ds.d), list_slice(qs.qv, 1, ds.d)),
                   p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS dist
        FROM e CROSS JOIN qs CROSS JOIN ds
        WHERE e.vec_id <> qs.query_id),
    ranked AS (
        SELECT d, query_id, neighbor_id,
               row_number() OVER (PARTITION BY d, query_id
                                  ORDER BY dist, neighbor_id) AS rk
        FROM scored),
    topk AS (SELECT d, query_id, neighbor_id FROM ranked WHERE rk <= {TOP_K}),
    truth AS (SELECT query_id, neighbor_id FROM topk WHERE d = {DIM}),
    hits AS (
        SELECT t.d, count(*)::BIGINT AS n_hits
        FROM topk t JOIN truth tr
          ON tr.query_id = t.query_id AND tr.neighbor_id = t.neighbor_id
        GROUP BY t.d)
    SELECT ds.d, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
           (coalesce(h.n_hits, 0) * 1000000
               // {N_QUERIES * TOP_K})::BIGINT AS recall_ppm
    FROM ds LEFT JOIN hits h USING (d)
    ORDER BY ds.d
    """


@query("embedding_dim_ablation", oracle=_ablation_oracle())
def embedding_dim_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval recall under DIMENSION TRUNCATION: exact top-{{k}}
    neighbors computed from only the first d ∈ {ABLATION_DIMS} dims,
    scored against the full-{DIM}-dim exact top-k — the measurement
    behind Matryoshka-style embedding truncation and PQ subspace
    sizing ('how many dims does retrieval actually need before you pay
    for them in index bytes'). The d = {DIM} row is the built-in
    sanity check (recall 1.0 by construction).

    Determinism: distances are exact integers on the shared {SCALE}
    quantization grid with (dist, neighbor_id) tie-breaks — no float
    anywhere, so both engines rank identically at every d.

    Scale: the probe side is the bounded query set collected as
    literals (similarity.py's broadcast contract); the corpus scans
    ONCE computing all |queries| × |dims| prefix distances in codegen
    (stack-unpivoted map-side); the only shuffle is the per-(d, query)
    top-k window over block-bounded candidates. Recall joins operate
    on ≤ |dims| × |queries| × k rows."""
    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    qdf = _quantized(spark, sf_dir)
    probes = sorted(
        (r.vec_id, list(r.q))
        for r in qdf.where(F.col("vec_id") < N_QUERIES).collect()
    )
    dist_cols = []
    for qid, qv in probes:
        for d in ABLATION_DIMS:
            lit = "array(" + ",".join(f"{int(x)}L" for x in qv[:d]) + ")"
            dist_cols.append(
                F.expr(
                    f"aggregate(zip_with(slice(q, 1, {d}), {lit},"
                    f" (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)"
                ).alias(f"d_{qid}_{d}")
            )
    scored_wide = qdf.select("vec_id", *dist_cols)
    stack_args = ", ".join(
        f"{qid}L, {d}, d_{qid}_{d}"
        for qid, _ in probes
        for d in ABLATION_DIMS
    )
    n_cells = len(probes) * len(ABLATION_DIMS)
    scored = scored_wide.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(
            f"stack({n_cells}, {stack_args}) AS (query_id, d, dist)"
        ),
    ).where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("d", "query_id").orderBy("dist", "neighbor_id")
    topk = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("d", "query_id", "neighbor_id")
    )

    topk = pin("ablation_topk", topk, fill=False)
    truth = topk.where(F.col("d") == DIM).select("query_id", "neighbor_id")
    hits = (
        topk.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    ds = spark.createDataFrame(
        [(d,) for d in ABLATION_DIMS], "d INT"
    )
    return (
        ds.join(hits, "d", "left")
        .select(
            "d",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(
                f"cast(coalesce(n_hits, 0) * 1000000"
                f" div {N_QUERIES * TOP_K} as bigint)"
            ).alias("recall_ppm"),
        )
        .orderBy("d")
    )


# --------------------------------------------------------------------------
# ann_sq8_recall — retrieval recall under int8 scalar quantization (the
# embedding_dim_ablation pattern applied to width-8 quantization: prices
# the simplest 4x memory win against the PQ path's measured recall).
# --------------------------------------------------------------------------
_SQ8_VARIANTS = ("full", "sq8")


def _sq8_oracle() -> str:
    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    return f"""
    WITH e AS (
        SELECT vec_id,
               [CAST(floor(x::DOUBLE * {SCALE} + 0.5) AS BIGINT)
                FOR x IN embedding] AS q
        FROM embeddings),
    s AS (SELECT vec_id, q,
                 list_aggregate(list_transform(q, v -> abs(v)), 'max') AS mx
          FROM e),
    r AS (SELECT vec_id, q,
                 CASE WHEN mx = 0
                      THEN list_transform(q, v -> 0::BIGINT)
                      ELSE list_transform(q,
                          v -> CAST(floor(v * 127.0 / mx + 0.5) AS BIGINT)
                               * mx)
                 END AS rv
          FROM s),
    qs AS (SELECT vec_id AS query_id, q AS qv FROM e
           WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT 'full' AS variant, qs.query_id, r.vec_id AS neighbor_id,
               list_sum(list_transform(list_zip(r.q, qs.qv),
                   p -> (p[1] - p[2]) * (p[1] - p[2])))::BIGINT AS dist
        FROM r CROSS JOIN qs WHERE r.vec_id <> qs.query_id
        UNION ALL
        SELECT 'sq8', qs.query_id, r.vec_id,
               list_sum(list_transform(list_zip(r.rv, qs.qv),
                   p -> (p[1] - 127 * p[2])
                        * (p[1] - 127 * p[2])))::BIGINT
        FROM r CROSS JOIN qs WHERE r.vec_id <> qs.query_id),
    ranked AS (
        SELECT variant, query_id, neighbor_id,
               row_number() OVER (PARTITION BY variant, query_id
                                  ORDER BY dist, neighbor_id) AS rk
        FROM scored),
    topk AS (SELECT variant, query_id, neighbor_id FROM ranked
             WHERE rk <= {TOP_K}),
    truth AS (SELECT query_id, neighbor_id FROM topk
              WHERE variant = 'full'),
    hits AS (
        SELECT t.variant, count(*)::BIGINT AS n_hits
        FROM topk t JOIN truth tr
          ON tr.query_id = t.query_id AND tr.neighbor_id = t.neighbor_id
        GROUP BY t.variant)
    SELECT vs.variant, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
           (coalesce(h.n_hits, 0) * 1000000
               // {N_QUERIES * TOP_K})::BIGINT AS recall_ppm
    FROM (SELECT unnest(['full', 'sq8']) AS variant) vs
    LEFT JOIN hits h USING (variant)
    ORDER BY vs.variant
    """


@query("ann_sq8_recall", oracle=_sq8_oracle())
def ann_sq8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval recall under INT8 SCALAR QUANTIZATION: exact top-k
    by asymmetric distance against per-vector-scaled int8 codes
    (code_i = round(q_i·127/mx), mx = the vector's max |component| —
    the same grid embedding_quantization_error audits residuals on)
    vs the full-precision exact top-k. This prices the simplest 4×
    index-memory win (float32 → int8) next to the PQ path's measured
    0.925 — SQ8 keeps one code per dimension, so its only loss is the
    127-level rounding, and the ADC trick keeps queries full
    precision. The 'full' row is the built-in sanity check (recall
    1.0 by construction).

    Determinism: multiplying the query grid by 127 puts the
    asymmetric distance Σ(127·q_i − c_i·mx)² on exact integers
    (|terms| ≤ (127·{SCALE})²·DIM ≪ 2⁶³); the code expression
    floor(v·127/mx + 0.5) is the identical IEEE shape in both engines
    (the embedding_quantization_error precedent); ties break on
    (dist, neighbor_id).

    Scale: probes are the bounded query set collected as literals
    (similarity.py's broadcast contract); the corpus scans ONCE
    computing the int8 reconstruction and all |queries| × 2 variant
    distances in codegen; the only shuffle is the per-(variant,
    query) top-k window. At 100 TB the int8 codes are what the index
    STORES — this harness measures what that storage costs in
    recall before you commit to it."""
    from open_pulsar_spark.operators.similarity import N_QUERIES, TOP_K

    qdf = _quantized(spark, sf_dir)
    rec = qdf.select(
        "vec_id",
        "q",
        F.expr(
            "CASE WHEN aggregate(q, 0L, (a, v) -> greatest(a, abs(v))) = 0"
            " THEN transform(q, v -> 0L)"
            " ELSE transform(q, v -> cast(floor(v * 127.0 /"
            " aggregate(q, 0L, (a, v) -> greatest(a, abs(v))) + 0.5d)"
            " as bigint) * aggregate(q, 0L, (a, v) -> greatest(a, abs(v))))"
            " END"
        ).alias("rv"),
    )
    probes = sorted(
        (r.vec_id, list(r.q))
        for r in qdf.where(F.col("vec_id") < N_QUERIES).collect()
    )
    dist_cols = []
    for qid, qv in probes:
        lit_q = "array(" + ",".join(f"{int(x)}L" for x in qv) + ")"
        lit_q127 = "array(" + ",".join(f"{127 * int(x)}L" for x in qv) + ")"
        dist_cols.append(
            F.expr(
                f"aggregate(zip_with(q, {lit_q},"
                f" (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)"
            ).alias(f"full_{qid}")
        )
        dist_cols.append(
            F.expr(
                f"aggregate(zip_with(rv, {lit_q127},"
                f" (x, y) -> (x - y) * (x - y)), 0L, (a, b) -> a + b)"
            ).alias(f"sq8_{qid}")
        )
    scored_wide = rec.select("vec_id", *dist_cols)
    stack_args = ", ".join(
        f"'{v}', {qid}L, {v}_{qid}" for qid, _ in probes for v in _SQ8_VARIANTS
    )
    n_cells = len(probes) * len(_SQ8_VARIANTS)
    scored = scored_wide.select(
        F.col("vec_id").alias("neighbor_id"),
        F.expr(f"stack({n_cells}, {stack_args}) AS (variant, query_id, dist)"),
    ).where(F.col("neighbor_id") != F.col("query_id"))
    w = Window.partitionBy("variant", "query_id").orderBy("dist", "neighbor_id")
    topk = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("variant", "query_id", "neighbor_id")
    )
    topk = pin("sq8_topk", topk, fill=False)
    truth = topk.where(F.col("variant") == "full").select(
        "query_id", "neighbor_id"
    )
    hits = (
        topk.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("variant")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    vs = spark.createDataFrame([(v,) for v in _SQ8_VARIANTS], "variant STRING")
    return (
        vs.join(hits, "variant", "left")
        .select(
            "variant",
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.expr(
                f"cast(coalesce(n_hits, 0) * 1000000"
                f" div {N_QUERIES * TOP_K} as bigint)"
            ).alias("recall_ppm"),
        )
        .orderBy("variant")
    )


# --------------------------------------------------------------------------
# embedding_intrinsic_dim — TwoNN intrinsic-dimension estimate (Facco
# et al. 2017): how many effective degrees of freedom does the
# embedding manifold use? The PCA power curve measures LINEAR
# dimension; TwoNN reads the local manifold dimension from the ratio
# of each point's 2nd- to 1st-nearest-neighbor distance — the number
# that says whether 128 stored dims are carrying a ~10-dim manifold
# (cheap to compress, easy to index) or genuinely high-dim data.
# --------------------------------------------------------------------------
TWONN_PROBES = 64  # bounded probe set (the N_QUERIES pattern, larger
#                    because the MLE averages over probes)


def _intrinsic_dim_oracle() -> str:
    return f"""
    WITH {_QUANT_C0},
    probes AS (SELECT vec_id AS pid, q AS pq FROM q
               WHERE vec_id < {TWONN_PROBES}),
    d AS (
        SELECT p.pid, e.vec_id,
               list_sum(list_transform(list_zip(p.pq, e.q),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))) AS dist
        FROM probes p JOIN q e ON e.vec_id <> p.pid),
    r AS (SELECT pid, vec_id, dist,
                 row_number() OVER (PARTITION BY pid
                                    ORDER BY dist, vec_id) AS rk
          FROM d),
    nn AS (SELECT pid,
                  max(CASE WHEN rk = 1 THEN dist END)::BIGINT AS d1,
                  max(CASE WHEN rk = 2 THEN dist END)::BIGINT AS d2
           FROM r WHERE rk <= 2 GROUP BY pid),
    terms AS (
        SELECT pid,
               CAST(round(ln(d2) * 1000000000) AS BIGINT)
             - CAST(round(ln(d1) * 1000000000) AS BIGINT) AS l_nano
        FROM nn WHERE d1 > 0 AND d2 > 0)
    SELECT count(*)::BIGINT AS n_probes,
           sum(l_nano)::BIGINT AS sum_log_nano,
           CASE WHEN sum(l_nano) > 0
                THEN (2 * count(*)::HUGEINT * 1000000000 * 1000000
                      // sum(l_nano))::BIGINT
           END AS intrinsic_dim_ppm
    FROM terms
    """


@query("embedding_intrinsic_dim", oracle=_intrinsic_dim_oracle())
def embedding_intrinsic_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TwoNN MLE of the embedding manifold's intrinsic dimension:
    d̂ = n / Σ ln(r2/r1) over probe points, computed on SQUARED
    quantized distances (so d̂ = 2n / Σ ln(d2/d1)) and emitted as
    intrinsic_dim_ppm.

    Determinism: distances are EXACT integers on the shared
    fixed-point grid (the IVF-family quantizer); each ln is a single
    nano-grid rounding of an integer argument (the keyness contract);
    the MLE close is one widened trunc-div. NN rank ties break by
    vec_id; probes whose nearest neighbor is an exact duplicate
    (d1 = 0) are excluded in both engines (ln 0 undefined).

    Scale: the {TWONN_PROBES}-probe frame broadcasts (filter + the
    structural limit) against ONE corpus scan; the per-probe rank ≤ 2
    filter triggers Spark's WindowGroupLimit partial top-k, so the
    {TWONN_PROBES}-partition window sees ≤ 3·partitions rows per
    probe, never the corpus — the bounded-probe brute-force pattern
    the ANN family documents."""
    from pyspark.sql import Window

    qdf = _quantized(spark, sf_dir)
    probes = (
        qdf.where(F.col("vec_id") < TWONN_PROBES)
        .limit(TWONN_PROBES)
        .select(F.col("vec_id").alias("pid"), F.col("q").alias("pq"))
    )
    d = (
        qdf.crossJoin(F.broadcast(probes))
        .where(F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "vec_id",
            F.expr(
                "aggregate(zip_with(pq, q, (x, y) -> (x - y) * (x - y)),"
                " 0L, (a, v) -> a + v)"
            ).alias("dist"),
        )
    )
    w = Window.partitionBy("pid").orderBy("dist", "vec_id")
    nn = (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 2)
        .groupBy("pid")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("dist")))
            .cast("bigint")
            .alias("d1"),
            F.max(F.when(F.col("rk") == 2, F.col("dist")))
            .cast("bigint")
            .alias("d2"),
        )
    )
    terms = nn.where((F.col("d1") > 0) & (F.col("d2") > 0)).select(
        (
            F.round(F.log("d2") * 1000000000, 0).cast("bigint")
            - F.round(F.log("d1") * 1000000000, 0).cast("bigint")
        ).alias("l_nano")
    )
    return terms.agg(
        F.count("*").cast("bigint").alias("n_probes"),
        F.sum("l_nano").cast("bigint").alias("sum_log_nano"),
        F.expr(
            "CASE WHEN sum(l_nano) > 0"
            " THEN cast(2 * cast(count(*) as decimal(38,0))"
            "           * 1000000000 * 1000000"
            "      div sum(l_nano) as bigint) END"
        ).alias("intrinsic_dim_ppm"),
    )
