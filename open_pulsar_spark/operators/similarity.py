"""L4 similarity search over the `embeddings` table (array<float>, 64-d).

Paths:
  - ann_topk_bruteforce: exact cosine top-k — the baseline.
  - ann_lsh_bucketed: random-hyperplane (sign) LSH — candidates are
    only same-bucket vectors.
  - ann_ivf_coarse: IVF-flat — nearest-centroid inverted lists, a
    query probes only its own list.
  - dedup_embedding_cosine: exact all-pairs threshold pairs — the
    ground-truth near-dup formulation.

Execution model — Arrow-batched numpy, one shared kernel shape:
vector math is the one pattern where row-at-a-time JVM expressions
lose by orders of magnitude to vectorized BLAS. Every operator here
is: (1) one small driver-side job collects the probe/centroid side
(queries, hyperplanes, centroids — always the small side) and
broadcasts it; (2) `mapInPandas` streams the corpus in Arrow batches,
each batch doing a blocked matmul against the broadcast side and
emitting only its local top-k / threshold survivors; (3) a final
window ranks the (tiny) union of block candidates. The corpus is
never shuffled and never collected.

Scale: at 100 TB the corpus side stays partition-parallel (step 2 is
map-only), and the broadcast side is bounded (queries, 64 buckets,
k centroids). For all-pairs dedup the broadcast corpus no longer fits
whole — block BOTH sides (grid of corpus chunks × row blocks) or
prefilter candidates with the LSH bucket equi-join before the exact
verify; the per-block kernel stays identical.

Float parity with the DuckDB oracle: numpy's pairwise summation
differs from DuckDB's sequential `list_dot_product` loop only at
~1e-16 relative. Outputs round cosines to 6 dp, which absorbs it; the
places where an unrounded comparison happens (threshold crossings,
rank order, bucket sign, centroid argmax) would need two cosines —
of distinct continuous-valued vectors — within ~1e-15 of each other
or of the boundary to disagree, which is measure-zero for this data
(verified empirically at sf0.001/sf0.01). Exact-duplicate vectors tie
bit-for-bit in BOTH engines and are broken by id in both.

Input contract: vectors are non-zero (the driver's embeddings are
unit-norm by construction). A zero vector has no direction — its
cosine is NaN, and the engines ORDER NaN differently (numpy sorts it
last, SQL ORDER BY ... DESC first), so a production deployment feeding
arbitrary vectors should add `WHERE norm > 0` at ingest; the operators
here deliberately do not hide that data error behind a silent filter.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import pin
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table

DIM = 64
N_QUERIES = 8      # vec_id < 8 are the probe vectors
TOP_K = 5
N_PLANES = 6       # LSH hyperplanes → 64 buckets

# Deterministic hyperplanes, rounded so the literals embedded in the
# numpy kernel and the oracle SQL are the exact same doubles.
_PLANES: list[list[float]] = [
    [round(float(x), 6) for x in row]
    for row in np.random.RandomState(7).randn(N_PLANES, DIM)
]
_PLANES_MAT = np.asarray(_PLANES, dtype=np.float64)

_NORM_SQL = "sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in p) + "]::DOUBLE[]"


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {_plane_sql(p)}) > 0 "
    f"THEN {1 << h} ELSE 0 END)"
    for h, p in enumerate(_PLANES)
)


# ------------------------------------------------------------------ helpers
def _corpus_numpy(spark: SparkSession, sf_dir: str, where=None):
    """One driver-side job: (ids, norms, U) with U L2-normalized
    float64, rows sorted by vec_id.

    `where` is the scale contract: callers that need only the probe /
    centroid side MUST pass its predicate so the filter runs inside the
    Spark plan (pushed to the scan) and only the bounded subset ever
    reaches the driver. Collecting the full table then filtering
    driver-side would OOM at any real corpus size. The one caller with
    where=None is dedup_embedding_cosine — the documented exact
    all-pairs baseline that broadcasts the whole (test-scale) corpus
    and is explicitly NOT the 100 TB path."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if where is not None:
        emb = emb.where(where)
    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    # id-sort locally: centroid/argmax tie-breaks depend on id order,
    # and a driver-side argsort is free vs a Spark sort exchange + job.
    order = np.argsort(ids, kind="stable")
    ids, v = ids[order], v[order]
    nrm = np.sqrt(np.einsum("ij,ij->i", v, v))
    return ids, v, v / nrm[:, None]


def _block_norm(pdf: pd.DataFrame):
    """(ids, raw, normalized) for one Arrow batch of the corpus."""
    b_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
    raw = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
    nrm = np.sqrt(np.einsum("ij,ij->i", raw, raw))
    return b_ids, raw, raw / nrm[:, None]


def _buckets_of(raw: np.ndarray) -> np.ndarray:
    """Sign-LSH bucket ids for raw (un-normalized) vectors — the sign
    is norm-invariant, matching the oracle's dot on raw doubles."""
    bits = (raw @ _PLANES_MAT.T) > 0
    return bits @ (1 << np.arange(N_PLANES)).astype(np.int64)


def _topk_block(qid: int, cand_ids: np.ndarray, cos: np.ndarray) -> pd.DataFrame:
    """Local top-K of one query within one block, ties broken by
    neighbor id (same (cos DESC, neighbor_id) order as the final
    window rank, so block-local pruning never drops a global top-K)."""
    order = np.lexsort((cand_ids, -cos))[:TOP_K]
    return pd.DataFrame(
        {"query_id": qid, "neighbor_id": cand_ids[order], "cos": cos[order]}
    )


def _scan_scored(
    spark: SparkSession, sf_dir: str, fn, schema="query_id LONG, neighbor_id LONG, cos DOUBLE"
) -> DataFrame:
    # NOT widened: the embedding scan is a numpy-matmul kernel whose
    # per-row cost is tiny — measured A/B at sf0.1 shows the extra
    # exchange + AQE stage costs more than the added parallelism buys
    # (0.72s → 0.86s). The text-hash kernels in dedup.py are the
    # opposite case and do widen.
    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return corpus.mapInPandas(fn, schema)


def _rank_topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cos", 6).alias("cosine"), "rk")
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# ann_topk_bruteforce — exact cosine top-k for a broadcast query set.
# --------------------------------------------------------------------------
@query(
    "ann_topk_bruteforce",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q JOIN e ON e.vec_id <> q.query_id
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
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for each of the first 8 vectors.

    Queries broadcast; the corpus streams once through a blocked
    matmul; each block emits only its local top-K per query, so the
    final rank sees ≤ partitions × |queries| × K rows. Cost is
    O(|queries| × |corpus|) FLOPs at BLAS speed, no corpus shuffle.
    """
    ids, _, u = _corpus_numpy(spark, sf_dir, F.col("vec_id") < N_QUERIES)
    qm = ids < N_QUERIES
    bc = spark.sparkContext.broadcast((ids[qm], u[qm]))

    def fn(batches):
        q_ids, qn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids, _, bn = _block_norm(pdf)
            sims = bn @ qn.T                      # (block, nq)
            for qi, qid in enumerate(q_ids):
                m = b_ids != qid
                if m.any():
                    yield _topk_block(qid, b_ids[m], sims[m, qi])

    return _rank_topk(_scan_scored(spark, sf_dir, fn))


# --------------------------------------------------------------------------
# ann_lsh_bucketed — random-hyperplane LSH candidate retrieval.
# --------------------------------------------------------------------------
@query(
    "ann_lsh_bucketed",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm,
                      {_BUCKET_SQL} AS bucket
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn, bucket
          FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q JOIN e ON q.bucket = e.bucket AND e.vec_id <> q.query_id
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
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: sign-LSH with 6 fixed hyperplanes → 64
    buckets; candidates are only corpus vectors in the query's bucket.

    Bucket assignment is part of the block kernel (map-only); each
    block scores only its rows whose bucket matches a query bucket, so
    work per query is |bucket| ≈ |corpus|/64 — the knob is N_PLANES.
    """
    ids, v, u = _corpus_numpy(spark, sf_dir, F.col("vec_id") < N_QUERIES)
    qm = ids < N_QUERIES
    bc = spark.sparkContext.broadcast((ids[qm], u[qm], _buckets_of(v[qm])))

    def fn(batches):
        q_ids, qn, q_buckets = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids, raw, bn = _block_norm(pdf)
            b_buckets = _buckets_of(raw)
            sims = bn @ qn.T
            for qi, qid in enumerate(q_ids):
                m = (b_buckets == q_buckets[qi]) & (b_ids != qid)
                if m.any():
                    yield _topk_block(qid, b_ids[m], sims[m, qi])

    return _rank_topk(_scan_scored(spark, sf_dir, fn))


# --------------------------------------------------------------------------
# ann_ivf_coarse — IVF-style coarse quantization ANN.
# --------------------------------------------------------------------------
CENTROID_MOD = 137
CENTROID_RESIDUE = 3  # vec_id % 137 == 3 → deterministic centroid subset

_CENTROID_SQL = f"vec_id % {CENTROID_MOD} = {CENTROID_RESIDUE}"

@query(
    "ann_ivf_coarse",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn FROM e WHERE {_CENTROID_SQL}),
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv) / (e.nrm * c.cn) DESC,
                                c.centroid_id) AS rn
            FROM e CROSS JOIN c)
        WHERE rn = 1),
    q AS (SELECT e.vec_id AS query_id, e.v AS qv, e.nrm AS qn, a.centroid_id
          FROM e JOIN assigned a ON e.vec_id = a.vec_id
          WHERE e.vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q
        JOIN assigned a ON a.centroid_id = q.centroid_id
        JOIN e ON e.vec_id = a.vec_id AND e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= {TOP_K}
    ORDER BY query_id, rk
    """,
)
def ann_ivf_coarse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: a deterministic centroid subset partitions the
    corpus into inverted lists (nearest-centroid assignment); a query
    probes only its own list.

    Assignment is a block-kernel argmax against the BROADCAST centroid
    matrix (linear in corpus × k centroids, map-only); a block scores
    only rows assigned to a probed list. Swap the arithmetic centroid
    choice for k-means centroids and this is production IVF; nprobe>1
    = keep the top-n assigned centroids instead of rank-1.

    The centroid argmax breaks exact-cos ties toward the smaller
    centroid_id in both engines (centroid columns are id-sorted, and
    `sims == rowmax` argmax picks the first).
    """
    ids, _, u = _corpus_numpy(
        spark,
        sf_dir,
        (F.col("vec_id") < N_QUERIES)
        | (F.col("vec_id") % CENTROID_MOD == CENTROID_RESIDUE),
    )
    cm = ids % CENTROID_MOD == CENTROID_RESIDUE
    cent_ids, cent_u = ids[cm], u[cm]        # id-sorted → argmax tie → min id

    def assign(un: np.ndarray) -> np.ndarray:
        sims = un @ cent_u.T                 # (n, k)
        best = sims.max(axis=1, keepdims=True)
        return cent_ids[np.argmax(sims == best, axis=1)]

    qm = ids < N_QUERIES
    bc = spark.sparkContext.broadcast((ids[qm], u[qm], assign(u[qm])))

    def fn(batches):
        q_ids, qn, q_cent = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids, _, bn = _block_norm(pdf)
            b_cent = assign(bn)
            sims = bn @ qn.T
            for qi, qid in enumerate(q_ids):
                m = (b_cent == q_cent[qi]) & (b_ids != qid)
                if m.any():
                    yield _topk_block(qid, b_ids[m], sims[m, qi])

    return _rank_topk(_scan_scored(spark, sf_dir, fn))


# --------------------------------------------------------------------------
# dedup_embedding_cosine — vector near-duplicate pairs (exact).
# --------------------------------------------------------------------------
@query(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
    ORDER BY a_id, b_id
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.4), exact all-pairs via
    Arrow-batched blocked matmul: each corpus block multiplies against
    the broadcast normalized corpus matrix and emits only pairs over
    threshold. O(n²·d) FLOPs at BLAS speed; output is |survivors|,
    never n²."""
    ids, _, u = _corpus_numpy(spark, sf_dir)
    bc = spark.sparkContext.broadcast((ids, u))

    def fn(batches):
        c_ids, c_u = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids, _, bn = _block_norm(pdf)
            sims = bn @ c_u.T                      # (block, corpus)
            hit_r, hit_c = np.where(
                (sims >= 0.4) & (b_ids[:, None] < c_ids[None, :])
            )
            if len(hit_r):
                yield pd.DataFrame(
                    {
                        "a_id": b_ids[hit_r],
                        "b_id": c_ids[hit_c],
                        "cos": sims[hit_r, hit_c],
                    }
                )

    return (
        _scan_scored(spark, sf_dir, fn, schema="a_id LONG, b_id LONG, cos DOUBLE")
        .select("a_id", "b_id", F.round("cos", 6).alias("cosine"))
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# ann_lsh_recall — measured LSH-vs-exact top-k agreement.
# --------------------------------------------------------------------------
from open_pulsar_spark import registry as _registry  # noqa: E402


@query(
    "ann_lsh_recall",
    oracle=f"""
    WITH bf AS ({_registry.ORACLES["ann_topk_bruteforce"]}),
    approx AS ({_registry.ORACLES["ann_lsh_bucketed"]})
    SELECT count(DISTINCT bf.query_id)            AS n_queries,
           count(*)                               AS n_bf,
           count(approx.neighbor_id)              AS n_hit,
           round(count(approx.neighbor_id) * 1.0 / count(*), 6) AS recall
    FROM bf
    LEFT JOIN approx ON bf.query_id = approx.query_id
                    AND bf.neighbor_id = approx.neighbor_id
    """,
)
def ann_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of sign-LSH ANN against the exact top-5: the
    fraction of true nearest neighbors the bucketed search returns.
    This is the tuning loop for N_PLANES (buckets vs recall) run as a
    query — at production scale you run it on a sampled slice exactly
    like this before committing to an index parameterization.
    """
    bf = ann_topk_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ap = ann_lsh_bucketed(spark, sf_dir).select(
        "query_id", F.col("neighbor_id").alias("hit_id")
    )
    joined = bf.join(
        ap,
        (bf["query_id"] == ap["query_id"]) & (bf["neighbor_id"] == ap["hit_id"]),
        "left",
    )
    return joined.agg(
        F.countDistinct(bf["query_id"]).alias("n_queries"),
        F.count("*").alias("n_bf"),
        F.count("hit_id").alias("n_hit"),
        F.round(F.count("hit_id") * F.lit(1.0) / F.count("*"), 6).alias("recall"),
    )


# --------------------------------------------------------------------------
# dedup_embedding_lsh — bucketed near-dup pairs (the 100 TB dedup path).
# --------------------------------------------------------------------------
@query(
    "dedup_embedding_lsh",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm,
                      {_BUCKET_SQL} AS bucket
               FROM embeddings)
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
    ORDER BY a_id, b_id
    """,
)
def dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs via sign-LSH blocking — the scale path
    next to dedup_embedding_cosine's exact all-pairs baseline.
    Presentation form of _embedding_pairs (adds the total order)."""
    return (
        _embedding_pairs(spark, sf_dir)
        .select("a_id", "b_id", F.round("cos", 6).alias("cosine"))
        .orderBy("a_id", "b_id")
    )


def _tagged_corpus(corpus: DataFrame) -> DataFrame:
    """(vec_id, embedding) → (vec_id, bucket, embedding) with each
    vector's 64-way sign bucket — THE one bucket-tag kernel, shared by
    the blocked pair join and the bucket skew profile
    (dedup.lsh_bucket_skew_profile) so the profile diagnoses exactly
    the groups applyInPandas will materialize."""

    def tag(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            _, raw, _ = _block_norm(pdf)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "bucket": _buckets_of(raw),
                    "embedding": pdf["embedding"],
                }
            )

    return corpus.mapInPandas(
        tag, "vec_id LONG, bucket LONG, embedding ARRAY<FLOAT>"
    )


def _embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNSORTED embedding near-dup pairs (a_id, b_id, cos) — the
    internal producer behind dedup_embedding_lsh, exposed separately
    (mirroring dedup._minhash_pairs) so order-insensitive consumers
    (semantic_dedup_actions' closure, the recall join) never pay the
    registry query's global sort.

    Unlike the exact form (which broadcasts the whole normalized
    corpus — the documented non-starter at 100 TB), this never
    broadcasts or collects the corpus: the block kernel tags each
    vector with its 64-way sign bucket (map-only), vectors SHUFFLE
    ONCE on the bucket id, and each bucket's group runs an
    applyInPandas all-pairs matmul over ~|corpus|/64 rows, emitting
    only pairs over threshold. Cost is Σ|bucket|² instead of n² —
    the standard blocking trade: pairs whose vectors land in
    different buckets (lower-cosine ones, by the hyperplane bound)
    are sacrificed, which dedup_lsh_recall-style harnesses measure.
    A hot bucket is a skew unit (applyInPandas groups can't split);
    the knob is N_PLANES — more planes, smaller buckets.
    """
    corpus = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    tagged = _tagged_corpus(corpus)

    def pairs_of(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, _, un = _block_norm(pdf)
        order = np.argsort(ids, kind="stable")
        ids, un = ids[order], un[order]
        sims = un @ un.T
        r, c = np.where(np.triu(sims >= 0.4, k=1))
        return pd.DataFrame(
            {"a_id": ids[r], "b_id": ids[c], "cos": sims[r, c]}
        )

    return tagged.groupBy("bucket").applyInPandas(
        lambda _, pdf: pairs_of(pdf), "a_id LONG, b_id LONG, cos DOUBLE"
    )


# --------------------------------------------------------------------------
# dedup_embedding_lsh_recall — measured blocking recall vs the exact pairs.
# --------------------------------------------------------------------------
@query(
    "dedup_embedding_lsh_recall",
    oracle=f"""
    WITH exact AS ({{exact}}),
    approx AS ({{approx}})
    SELECT count(*)                                  AS n_exact,
           count(approx.a_id)                        AS n_hit,
           round(count(approx.a_id) * 1.0 / count(*), 6) AS recall
    FROM exact LEFT JOIN approx USING (a_id, b_id)
    """.format(
        exact=_registry.ORACLES["dedup_embedding_cosine"].replace("ORDER BY a_id, b_id", ""),
        approx=_registry.ORACLES["dedup_embedding_lsh"].replace("ORDER BY a_id, b_id", ""),
    ),
)
def dedup_embedding_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall of the sign-LSH blocked near-dup pass against
    the exact all-pairs ground truth — the approximate path ships with
    its error observable, same contract as ann_lsh_recall /
    dedup_lsh_recall. Single-bucket blocking at cos≥0.4 is
    deliberately lossy (the hyperplane collision bound is weak that
    far from 1.0); the measured number is what justifies — or vetoes —
    the blocking parameterization for a given threshold."""
    exact = dedup_embedding_cosine(spark, sf_dir).select("a_id", "b_id")
    approx = _embedding_pairs(spark, sf_dir).select(
        "a_id", "b_id", F.lit(1).alias("hit")
    )
    return exact.join(approx, ["a_id", "b_id"], "left").agg(
        F.count("*").alias("n_exact"),
        F.count("hit").alias("n_hit"),
        F.round(F.count("hit") * F.lit(1.0) / F.count("*"), 6).alias("recall"),
    )


# --------------------------------------------------------------------------
# semantic_dedup_actions — embedding near-dup clusters → per-doc actions.
# --------------------------------------------------------------------------
def _semantic_dedup_oracle() -> str:
    # composes the shared closure + quality SQL fragments — the same
    # single copies dedup's quality-pick oracle uses, so neither the
    # closure shape nor the 0.4/0.4/0.2 weights can drift between the
    # text-side and embedding-side survivor queries
    from open_pulsar_spark.operators.dedup import _CLOSURE_CTES
    from open_pulsar_spark.operators.text import _QUALITY_Q_CTE

    emb_pairs = _registry.ORACLES["dedup_embedding_lsh"].replace(
        "ORDER BY a_id, b_id", ""
    )
    return f"""
    WITH RECURSIVE pairs AS (SELECT a_id, b_id FROM ({emb_pairs}) ep),
    {_CLOSURE_CTES},
    {_QUALITY_Q_CTE},
    m AS (SELECT ldoc, cluster_rep, quality,
                 row_number() OVER (PARTITION BY cluster_rep
                                    ORDER BY round(quality, 6) DESC, ldoc) AS rk
          FROM labels JOIN q ON q.doc_id = labels.ldoc)
    SELECT ldoc AS doc_id, cluster_rep,
           round(quality, 6) AS quality,
           CASE WHEN rk = 1 THEN 'keep' ELSE 'drop' END AS action
    FROM m ORDER BY doc_id
    """


@query("semantic_dedup_actions", oracle=_semantic_dedup_oracle())
def semantic_dedup_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup across modalities: near-dup pairs come from the
    EMBEDDING space (sign-LSH blocked cosine ≥ 0.4 — paraphrases and
    near-rewrites that shingle-Jaccard scores near zero), the
    transitive closure groups them (dedup.closure_labels — the same CC
    step as the text-side clusters), and the survivor per cluster is
    the highest-QUALITY member of the DOCUMENT the vector embeds
    (vec_id ≡ doc_id for the embedded slice of the corpus). Output is
    the per-doc action table a curation pipeline applies: every
    pair-graph member labeled keep/drop with its cluster and quality.

    This is the step text-side dedup cannot do: dedup_minhash_lsh
    needs shared shingles; an LLM-paraphrased duplicate shares none
    but lands on the same embedding bucket.

    Scale: inherits dedup_embedding_lsh's Σ|bucket|² blocking (corpus
    never broadcast), closure over the SMALL pair set, then one
    doc_id-keyed join against quality (an already-computed artifact at
    100 TB) and one cluster-keyed window.
    """
    from open_pulsar_spark.operators.dedup import closure_labels
    from open_pulsar_spark.operators.text import doc_quality_score

    pairs = _embedding_pairs(spark, sf_dir).select("a_id", "b_id")
    labels = closure_labels(spark, pairs).select(
        F.col("u").alias("doc_id"), F.col("label").alias("cluster_rep")
    )
    quality = doc_quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("quality"), F.col("doc_id")
    )
    return (
        labels.join(quality, "doc_id")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "cluster_rep",
            F.round("quality", 6).alias("quality"),
            F.when(F.col("rk") == 1, "keep").otherwise("drop").alias("action"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# bitext_mining_pairs — cross-lingual parallel-pair mining with margin.
# --------------------------------------------------------------------------
BITEXT_PIVOT = "en"    # mine (non-pivot doc) → (best pivot doc) pairs
BITEXT_MIN_COS = 0.3   # admission threshold on the best-match cosine


@query(
    "bitext_mining_pairs",
    oracle=f"""
    WITH e AS (SELECT d.doc_id AS id, d.lang, emb.embedding::DOUBLE[] AS v,
                      {_NORM_SQL} AS nrm, {_BUCKET_SQL} AS bucket
               FROM documents d JOIN embeddings emb ON d.doc_id = emb.vec_id),
    cand AS (
        SELECT t.id AS tgt_id, t.lang AS tgt_lang, s.id AS src_id,
               round(list_dot_product(t.v, s.v) / (t.nrm * s.nrm), 6) AS cos
        FROM e t JOIN e s ON t.bucket = s.bucket
        WHERE t.lang <> '{BITEXT_PIVOT}' AND s.lang = '{BITEXT_PIVOT}'),
    ranked AS (
        SELECT *,
               row_number() OVER (PARTITION BY tgt_id
                                  ORDER BY cos DESC, src_id) AS rn,
               lead(cos) OVER (PARTITION BY tgt_id
                               ORDER BY cos DESC, src_id) AS cos2
        FROM cand)
    SELECT tgt_id, tgt_lang, src_id, cos AS cosine,
           round(cos - coalesce(cos2, 0.0), 6) AS margin
    FROM ranked WHERE rn = 1 AND cos >= {BITEXT_MIN_COS}
    ORDER BY tgt_id
    """,
)
def bitext_mining_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-lingual parallel-pair mining (bitext mining, the
    margin-based formulation of Artetxe & Schwenk's LASER/CCMatrix
    pipeline): every non-{BITEXT_PIVOT} document is paired with its
    best same-bucket {BITEXT_PIVOT} document by embedding cosine, and
    scored by the MARGIN over the runner-up — absolute cosine alone
    over-admits hub vectors; a high margin is what separates a real
    translation pair from a generically-central sentence. Emitted:
    best pair per target with cosine ≥ {BITEXT_MIN_COS}.

    vec_id ≡ doc_id links the embedded slice to the documents table's
    lang column (same contract as semantic_dedup_actions).

    Scale: sign-LSH blocking (same N_PLANES scheme as
    dedup_embedding_lsh) — both language sides tag map-only, shuffle
    ONCE on the bucket id, and each bucket mines its targets against
    its pivot rows with one blocked matmul; a target's candidate set
    lives entirely in its own bucket, so the bucket-local top-2 IS the
    global candidate top-2 and no cross-bucket re-rank is needed. The
    corpus is never broadcast or collected. Recall trades at the
    hyperplane bound exactly as the dedup_embedding_lsh_recall harness
    measures; the skew knob is N_PLANES (hot buckets are applyInPandas
    groups and cannot split).
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    joined = docs.join(emb, docs["doc_id"] == emb["vec_id"]).select(
        "doc_id", "lang", "embedding"
    )

    def tag(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            raw = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "bucket": _buckets_of(raw),
                    "embedding": pdf["embedding"],
                }
            )

    tagged = joined.mapInPandas(
        tag, "id LONG, lang STRING, bucket LONG, embedding ARRAY<FLOAT>"
    )

    def _unit(pdf: pd.DataFrame) -> np.ndarray:
        v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        return v / np.sqrt(np.einsum("ij,ij->i", v, v))[:, None]

    empty = pd.DataFrame(
        {
            "tgt_id": np.array([], dtype=np.int64),
            "tgt_lang": pd.Series([], dtype=object),
            "src_id": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
            "margin": np.array([], dtype=np.float64),
        }
    )

    def mine(_, pdf: pd.DataFrame) -> pd.DataFrame:
        src = pdf[pdf["lang"] == BITEXT_PIVOT]
        tgt = pdf[pdf["lang"] != BITEXT_PIVOT]
        if len(src) == 0 or len(tgt) == 0:
            return empty
        # Pivot columns sorted by id ASC so a stable descending-cosine
        # argsort breaks ties by src_id — the oracle's (cos DESC,
        # src_id) order.
        src = src.sort_values("id", kind="stable")
        sims = np.round(_unit(tgt) @ _unit(src).T, 6)
        src_ids = src["id"].to_numpy(dtype=np.int64)
        order = np.argsort(-sims, axis=1, kind="stable")
        rows = np.arange(len(tgt))
        cos1 = sims[rows, order[:, 0]]
        cos2 = sims[rows, order[:, 1]] if sims.shape[1] > 1 else np.zeros(len(tgt))
        keep = cos1 >= BITEXT_MIN_COS
        return pd.DataFrame(
            {
                "tgt_id": tgt["id"].to_numpy(dtype=np.int64)[keep],
                "tgt_lang": tgt["lang"].to_numpy()[keep],
                "src_id": src_ids[order[:, 0]][keep],
                "cosine": cos1[keep],
                "margin": np.round(cos1 - cos2, 6)[keep],
            }
        )

    return (
        tagged.groupBy("bucket")
        .applyInPandas(
            mine,
            "tgt_id LONG, tgt_lang STRING, src_id LONG, cosine DOUBLE, margin DOUBLE",
        )
        .orderBy("tgt_id")
    )


# --------------------------------------------------------------------------
# hybrid_rrf_retrieval — dense + sparse rankings fused by reciprocal rank.
# --------------------------------------------------------------------------
RRF_K = 60   # the standard RRF damping constant (Cormack et al.)


@query(
    "hybrid_rrf_retrieval",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn
          FROM e WHERE vec_id < {N_QUERIES}),
    dense AS (
        SELECT query_id, doc_id, rk AS rank_dense FROM (
            SELECT q.query_id, e.vec_id AS doc_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qv, e.v) / (q.qn * e.nrm)
                                DESC, e.vec_id) AS rk
            FROM q JOIN e ON e.vec_id <> q.query_id)
        WHERE rk <= {TOP_K}),
    tok AS (SELECT doc_id, list_distinct(str_split(text, ' ')) AS ts
            FROM documents),
    qt AS (SELECT doc_id AS qid, ts AS qts FROM tok WHERE doc_id < {N_QUERIES}),
    jac AS (
        SELECT qt.qid AS query_id, t.doc_id,
               round(len(list_intersect(qt.qts, t.ts)) * 1.0 /
                     (len(qt.qts) + len(t.ts)
                      - len(list_intersect(qt.qts, t.ts))), 6) AS jac
        FROM qt JOIN tok t ON t.doc_id <> qt.qid),
    sparse AS (
        SELECT query_id, doc_id, rk AS rank_sparse FROM (
            SELECT query_id, doc_id,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY jac DESC, doc_id) AS rk
            FROM jac)
        WHERE rk <= {TOP_K}),
    fused AS (
        SELECT coalesce(d.query_id, s.query_id) AS query_id,
               coalesce(d.doc_id, s.doc_id)     AS doc_id,
               d.rank_dense, s.rank_sparse,
               coalesce(1.0 / ({RRF_K} + d.rank_dense), 0.0)
               + coalesce(1.0 / ({RRF_K} + s.rank_sparse), 0.0) AS rrf
        FROM dense d FULL JOIN sparse s
             ON d.query_id = s.query_id AND d.doc_id = s.doc_id)
    SELECT query_id, doc_id, round(rrf, 6) AS rrf_score,
           rank_dense, rank_sparse,
           fr AS fused_rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY rrf DESC, doc_id) AS fr
          FROM fused)
    WHERE fr <= {TOP_K}
    ORDER BY query_id, fused_rank
    """,
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: the dense top-{TOP_K} (exact embedding
    cosine, ann_topk_bruteforce's list) and a sparse top-{TOP_K}
    (distinct-token Jaccard against the query document's text) fused
    by reciprocal-rank fusion, score = Σ 1/({RRF_K}+rank) — the
    Cormack et al. combination modern search stacks (BM25 + vector)
    ship because rank-space fusion needs no score calibration between
    incommensurable retrievers. A hit on both lists outranks a
    slightly-better hit on one — exactly the behavior that makes RRF
    robust.

    Scale: both retrievers are broadcast-probe scans — the dense side
    reuses ann_topk_bruteforce (blocked matmul, block-local top-k);
    the sparse side broadcasts the {N_QUERIES} query token SETS and
    streams the corpus once through an Arrow kernel emitting
    block-local top-k per query (candidate union ≤ partitions ×
    queries × k). The fusion join touches two ≤ queries×k row lists —
    driver-scale. Ranking ties break on rounded Jaccard then doc_id
    in BOTH engines, so the fused order is deterministic.
    """
    dense = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").alias("rank_dense"),
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    qrows = docs.where(F.col("doc_id") < N_QUERIES).collect()
    qsets = sorted(
        (int(r.doc_id), frozenset(r.text.split(" "))) for r in qrows
    )
    bc = spark.sparkContext.broadcast(qsets)

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            dids = pdf["doc_id"].to_numpy(dtype=np.int64)
            toks = [set(t.split(" ")) for t in pdf["text"]]
            for qid, qs in bc.value:
                jac = np.array(
                    [
                        len(qs & d) * 1.0 / (len(qs) + len(d) - len(qs & d))
                        for d in toks
                    ]
                )
                jr = np.round(jac, 6)
                m = dids != qid
                order = np.lexsort((dids[m], -jr[m]))[:TOP_K]
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "doc_id": dids[m][order],
                        "jac": jr[m][order],
                    }
                )

    cand = docs.mapInPandas(fn, "query_id LONG, doc_id LONG, jac DOUBLE")
    w = Window.partitionBy("query_id").orderBy(F.desc("jac"), "doc_id")
    sparse = (
        cand.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("query_id", "doc_id", F.col("rk").alias("rank_sparse"))
    )

    j = dense.join(sparse, ["query_id", "doc_id"], "full")
    rrf = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_dense")), F.lit(0.0)
    ) + F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_sparse")), F.lit(0.0)
    )
    wf = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "doc_id")
    return (
        j.withColumn("rrf", rrf)
        .withColumn("fused_rank", F.row_number().over(wf))
        .where(F.col("fused_rank") <= TOP_K)
        .select(
            "query_id",
            "doc_id",
            F.round("rrf", 6).alias("rrf_score"),
            "rank_dense",
            "rank_sparse",
            "fused_rank",
        )
        .orderBy("query_id", "fused_rank")
    )


# --------------------------------------------------------------------------
# _embedding_pairs_blocked — the hot-bucket treatment for the ONE skew
# unit this module names: an applyInPandas sign-bucket group can't split.
# --------------------------------------------------------------------------
EMB_PAIR_BLOCK = 4096  # max vectors per sub-block (per-task memory bound)


def _embedding_pairs_blocked(
    spark: SparkSession, sf_dir: str, block_rows: int = EMB_PAIR_BLOCK
) -> DataFrame:
    """EXACTLY the _embedding_pairs output (tested pair-for-pair), with
    every sign bucket split into ≤`block_rows` sub-blocks joined
    pairwise — the standard blocked all-pairs: a bucket of n vectors
    becomes C(k+1, 2) grid cells of ≤2·block_rows vectors each
    (k = ⌈n/block_rows⌉), so per-task memory is bounded by the KNOB,
    not by the hottest bucket, while total multiply work stays Σ|b|².
    This is the treatment for the skew unit _embedding_pairs documents
    ('a hot bucket is a skew unit; grouped-map groups can't split'):
    at 100 TB run THIS path; at test scale the two are pair-identical
    so the oracle-checked query keeps the simpler plan.

    Sub-blocks are vec_id ranges within the bucket (row_number over a
    per-bucket id sort), so for cross cells every left id < every
    right id — the a_id < b_id orientation needs no per-pair check,
    and the diagonal cell uses the same triu the unblocked kernel
    uses. Cosines come from the same float64 normalize + matmul, so
    values agree with the unblocked path to the bit (same dot, same
    operands)."""
    corpus = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    tagged = _tagged_corpus(corpus)
    w = Window.partitionBy("bucket").orderBy("vec_id")
    blk = tagged.withColumn(
        "blk",
        ((F.row_number().over(w) - F.lit(1)) / block_rows).cast("int"),
    )
    groups = blk.groupBy("bucket", "blk").agg(
        F.sort_array(F.collect_list(F.struct("vec_id", "embedding"))).alias(
            "rows"
        )
    )
    a = groups.select(
        "bucket", F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")
    )
    b = groups.select(
        "bucket", F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")
    )
    cells = (
        a.join(b, "bucket")
        .where(F.col("blk_a") <= F.col("blk_b"))
        .select(
            (F.col("blk_a") == F.col("blk_b")).alias("diag"),
            "rows_a",
            "rows_b",
        )
    )

    def unpack(rows):
        ids = np.fromiter((r["vec_id"] for r in rows), dtype=np.int64)
        raw = np.stack(
            [np.asarray(r["embedding"], dtype=np.float64) for r in rows]
        )
        nrm = np.sqrt(np.einsum("ij,ij->i", raw, raw))
        return ids, raw / nrm[:, None]

    def cross(batches):
        for pdf in batches:
            out_a, out_b, out_c = [], [], []
            for diag, rows_a, rows_b in zip(
                pdf["diag"], pdf["rows_a"], pdf["rows_b"]
            ):
                ids_a, un_a = unpack(rows_a)
                if diag:
                    sims = un_a @ un_a.T
                    r, c = np.where(np.triu(sims >= 0.4, k=1))
                    out_a.append(ids_a[r])
                    out_b.append(ids_a[c])
                    out_c.append(sims[r, c])
                else:
                    ids_b, un_b = unpack(rows_b)
                    sims = un_a @ un_b.T
                    r, c = np.where(sims >= 0.4)
                    out_a.append(ids_a[r])
                    out_b.append(ids_b[c])
                    out_c.append(sims[r, c])
            if out_a:
                yield pd.DataFrame(
                    {
                        "a_id": np.concatenate(out_a),
                        "b_id": np.concatenate(out_b),
                        "cos": np.concatenate(out_c),
                    }
                )

    return cells.mapInPandas(cross, "a_id LONG, b_id LONG, cos DOUBLE")


# --------------------------------------------------------------------------
# embedding_mutual_knn_pairs — reciprocal nearest neighbors within sign
# buckets: the robust linkage criterion (a pair only counts when EACH
# side ranks the other in its top-k — one-directional hubness links drop).
# --------------------------------------------------------------------------
MKNN_K = 3


@query(
    "embedding_mutual_knn_pairs",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm,
                      {_BUCKET_SQL} AS bucket
               FROM embeddings),
    scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        FROM e a JOIN e b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    knn AS (
        SELECT src, dst, cos,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cos DESC, dst) AS rk
        FROM scored),
    topk AS (SELECT src, dst, cos FROM knn WHERE rk <= {MKNN_K})
    SELECT a.src AS a_id, a.dst AS b_id, round(a.cos, 6) AS cosine
    FROM topk a JOIN topk b ON a.src = b.dst AND a.dst = b.src
    WHERE a.src < a.dst
    ORDER BY a_id, b_id
    """,
)
def embedding_mutual_knn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RECIPROCAL k-NN pairs within sign buckets: (a, b) qualifies
    only when b is in a's top-{MKNN_K} AND a is in b's top-{MKNN_K}
    (cos desc, id ties) — the mutual-NN criterion semantic dedup and
    bitext mining use to kill hubness artifacts: a vector near a hub
    lists the hub, but the hub's own list is full of closer points,
    so the one-directional link drops. Threshold-free, so it adapts
    to local density where dedup_embedding_lsh's fixed 0.4 cannot.

    Scale: the same one-bucket-shuffle posture as _embedding_pairs —
    per-bucket Arrow matmul emits each vector's LOCAL top-{MKNN_K}
    (≤ k rows/vector leave the kernel, never the n² sims), and
    reciprocity is one self equi-join of that bounded directed frame
    on the flipped key. A hot bucket is the module's known skew unit
    (knob N_PLANES; _embedding_pairs_blocked's grid applies if one
    degenerates). Float parity: numpy vs DuckDB dot differ ~1e-16;
    ranking flips need two distinct-vector cosines within ~1e-15 —
    measure-zero (the module-docstring argument), and output cosines
    round to 6 dp."""
    knn = _bucket_knn(
        _tagged_corpus(
            load_table(spark, sf_dir, "embeddings").select(
                "vec_id", "embedding"
            )
        )
    )
    a = knn.select("src", "dst", "cos")
    b = knn.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    return (
        a.join(b, ["src", "dst"], "left_semi")
        .where(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("a_id"),
            F.col("dst").alias("b_id"),
            F.round("cos", 6).alias("cosine"),
        )
        .orderBy("a_id", "b_id")
    )


def _bucket_knn(tagged: DataFrame) -> DataFrame:
    """(vec_id, bucket, embedding) → each vector's LOCAL top-{MKNN_K}
    within its sign bucket as (src, dst, cos) — THE one bucketed kNN
    kernel, shared by embedding_mutual_knn_pairs (reciprocity filter)
    and embedding_label_knn_accuracy (majority-vote labels). ≤ k rows
    per vector leave the Arrow kernel, never the n² sims."""

    def topk_of(pdf: pd.DataFrame) -> pd.DataFrame:
        ids, _, un = _block_norm(pdf)
        order = np.argsort(ids, kind="stable")
        ids, un = ids[order], un[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "cos": []}).astype(
                {"src": np.int64, "dst": np.int64, "cos": np.float64}
            )
        sims = un @ un.T
        np.fill_diagonal(sims, -np.inf)
        k = min(MKNN_K, n - 1)
        out_s, out_d, out_c = [], [], []
        for i in range(n):
            row = sims[i]
            sel = np.lexsort((ids, -row))[:k]
            out_s.append(np.full(k, ids[i]))
            out_d.append(ids[sel])
            out_c.append(row[sel])
        return pd.DataFrame(
            {
                "src": np.concatenate(out_s),
                "dst": np.concatenate(out_d),
                "cos": np.concatenate(out_c),
            }
        )

    return tagged.groupBy("bucket").applyInPandas(
        lambda _, pdf: topk_of(pdf), "src LONG, dst LONG, cos DOUBLE"
    )


# --------------------------------------------------------------------------
# ivf_list_balance — inverted-list size diagnosis for the IVF families
# (the lsh_bucket_skew_profile treatment applied to centroid assignment).
# --------------------------------------------------------------------------
@query(
    "ivf_list_balance",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
          FROM e WHERE {_CENTROID_SQL}),
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv)
                                / (e.nrm * c.cn) DESC,
                                c.centroid_id) AS rn
            FROM e CROSS JOIN c)
        WHERE rn = 1),
    sizes AS (SELECT centroid_id, count(*)::BIGINT AS cnt
              FROM assigned GROUP BY centroid_id)
    SELECT count(*)::BIGINT AS n_lists,
           sum(cnt)::BIGINT AS n_vectors,
           quantile_cont(cnt, 0.5) AS p50_sz,
           quantile_cont(cnt, 0.99) AS p99_sz,
           max(cnt)::BIGINT AS max_sz,
           (max(cnt)::HUGEINT * count(*) * 1000000 // sum(cnt)
               - 1000000)::BIGINT AS max_dev_ppm,
           (sum(cnt::HUGEINT * cnt) // sum(cnt))::BIGINT
               AS probe_scan_rows
    FROM sizes
    HAVING count(*) > 0
    """,
)
def ivf_list_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-LIST balance profile for the IVF index family
    (ann_ivf_coarse / _kmeans / _pq share the nearest-centroid
    assignment this profiles): list-count, size percentiles, the
    largest list, its deviation from the ideal n/k (ppm — the
    straggler a hot list makes of every probe that lands on it), and
    probe_scan_rows = Σ cnt²/n — the EXPECTED rows scanned per query
    when queries land on lists proportionally to list size (the
    nprobe=1 cost number an index review quotes; a balanced index
    approaches n/k, a collapsed one approaches n). This closes the
    diagnosis symmetry: the banded-LSH families read
    lsh_bucket_skew_profile before picking caps — the IVF families
    read this before picking k and nprobe. Lists with zero vectors
    don't appear (count via assignment, not the centroid roster):
    n_lists is the OCCUPIED count, itself a collapse signal when it
    drops below k.

    Determinism: assignment is the exact argmax ann_ivf_coarse's
    oracle parity already established (ties toward the smaller
    centroid id in both engines); everything downstream is integer
    (percentiles are exact over the bounded per-list count frame).

    Scale: assignment is the same broadcast-centroid blocked matmul
    as the IVF queries, but emitting per-block (centroid, count)
    PARTIALS — the map-side combine means the shuffle carries
    ≤ blocks × k rows, never the corpus; the profile is one aggregate
    over k counts. At 100 TB widen the internal Σ cnt² to
    DECIMAL (done) and switch percentiles to percentile_approx (the
    events_key_skew_profile precedent)."""
    cent_ids, _, cent_u = _corpus_numpy(
        spark, sf_dir, F.col("vec_id") % CENTROID_MOD == CENTROID_RESIDUE
    )
    if len(cent_ids) == 0:
        return spark.createDataFrame(
            [],
            "n_lists BIGINT, n_vectors BIGINT, p50_sz DOUBLE,"
            " p99_sz DOUBLE, max_sz BIGINT, max_dev_ppm BIGINT,"
            " probe_scan_rows BIGINT",
        )
    bc = spark.sparkContext.broadcast((cent_ids, cent_u))

    def fn(batches):
        cids, cu = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            _, _, bn = _block_norm(pdf)
            sims = bn @ cu.T
            best = sims.max(axis=1, keepdims=True)
            cent = cids[np.argmax(sims == best, axis=1)]
            vc = pd.Series(cent).value_counts()
            yield pd.DataFrame(
                {
                    "centroid_id": vc.index.to_numpy(dtype=np.int64),
                    "cnt": vc.to_numpy(dtype=np.int64),
                }
            )

    sizes = (
        _scan_scored(spark, sf_dir, fn, "centroid_id LONG, cnt LONG")
        .groupBy("centroid_id")
        .agg(F.sum("cnt").cast("bigint").alias("cnt"))
    )
    return sizes.agg(
        F.count("*").cast("bigint").alias("n_lists"),
        F.sum("cnt").cast("bigint").alias("n_vectors"),
        F.expr("percentile(cnt, 0.5)").alias("p50_sz"),
        F.expr("percentile(cnt, 0.99)").alias("p99_sz"),
        F.max("cnt").cast("bigint").alias("max_sz"),
        F.expr(
            "cast(cast(max(cnt) as decimal(38,0)) * count(*) * 1000000"
            " div sum(cnt) - 1000000 as bigint)"
        ).alias("max_dev_ppm"),
        F.expr(
            "cast(sum(cast(cnt as decimal(38,0)) * cnt) div sum(cnt)"
            " as bigint)"
        ).alias("probe_scan_rows"),
    ).where(F.col("n_lists") > 0)


# --------------------------------------------------------------------------
# embedding_label_knn_accuracy — leave-one-out kNN label agreement (the
# label-noise / class-separability audit).
# --------------------------------------------------------------------------
@query(
    "embedding_label_knn_accuracy",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm,
                      {_BUCKET_SQL} AS bucket
               FROM embeddings),
    lab AS (SELECT vec_id, label FROM embeddings),
    scored AS (
        SELECT a.vec_id AS src, b.vec_id AS dst,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        FROM e a JOIN e b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    knn AS (
        SELECT src, dst,
               row_number() OVER (PARTITION BY src
                                  ORDER BY cos DESC, dst) AS rk
        FROM scored),
    topk AS (SELECT src, dst FROM knn WHERE rk <= {MKNN_K}),
    votes AS (
        SELECT t.src, l.label AS nlabel, count(*)::BIGINT AS c
        FROM topk t JOIN lab l ON l.vec_id = t.dst
        GROUP BY t.src, l.label),
    pred AS (
        SELECT src, nlabel AS pred_label FROM (
            SELECT src, nlabel,
                   row_number() OVER (PARTITION BY src
                                      ORDER BY c DESC, nlabel) AS rn
            FROM votes)
        WHERE rn = 1)
    SELECT tl.label::INT AS label,
           count(*)::BIGINT AS n_eval,
           sum(CASE WHEN p.pred_label = tl.label THEN 1 ELSE 0 END)::BIGINT
               AS n_correct,
           (sum(CASE WHEN p.pred_label = tl.label THEN 1 ELSE 0 END)
               * 1000000 // count(*))::BIGINT AS accuracy_ppm
    FROM pred p JOIN lab tl ON tl.vec_id = p.src
    GROUP BY tl.label
    ORDER BY label
    """,
)
def embedding_label_knn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out kNN LABEL agreement per class: each vector's
    top-{MKNN_K} same-bucket neighbors vote (majority, ties to the
    smaller label id) and the vote is scored against the vector's own
    label — the label-noise / class-separability audit a training-data
    team runs before trusting labels for supervised fine-tuning: a
    class whose own neighbors systematically vote it down is either
    mislabeled (relabel queue) or inseparable in this embedding space
    (merge candidate — read next to label_embedding_affinity's
    centroid view, which can look clean while the boundary is mush;
    this is the per-point truth). Vectors alone in their sign bucket
    are excluded (no neighbors to vote — at {MKNN_K}-NN scale the
    bucketed approximation is the same one every retrieval query here
    grades).

    Determinism: votes are integer counts (majority tie → smaller
    label on both engines); the kNN cut reuses _bucket_knn, whose
    float-ranking parity argument is the module docstring's
    measure-zero case; everything after the kernel is integer.

    Scale: the same one-bucket-shuffle posture as
    embedding_mutual_knn_pairs — ≤ {MKNN_K} rows per vector leave the
    kernel; voting is one (src, label) aggregate + a rank-1 window on
    the ≤ k-row-per-src frame; the readout is |labels| rows."""
    emb = load_table(spark, sf_dir, "embeddings")
    knn = _bucket_knn(_tagged_corpus(emb.select("vec_id", "embedding")))
    lab = emb.select("vec_id", F.col("label").cast("int").alias("label"))
    votes = (
        knn.join(
            lab.select(
                F.col("vec_id").alias("dst"), F.col("label").alias("nlabel")
            ),
            "dst",
        )
        .groupBy("src", "nlabel")
        .agg(F.count("*").cast("bigint").alias("c"))
    )
    w = Window.partitionBy("src").orderBy(F.desc("c"), "nlabel")
    pred = (
        votes.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("src", F.col("nlabel").alias("pred_label"))
    )
    return (
        pred.join(lab.select(F.col("vec_id").alias("src"), "label"), "src")
        .groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_eval"),
            F.sum(
                F.when(F.col("pred_label") == F.col("label"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
            F.expr(
                "cast(sum(CASE WHEN pred_label = label THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) as bigint)"
            ).alias("accuracy_ppm"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# retrieval_label_precision — P@k of dense retrieval under label
# relevance (the IR-eval readout for the embedding space).
# --------------------------------------------------------------------------
@query(
    "retrieval_label_precision",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    lab AS (SELECT vec_id, label FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q JOIN e ON e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored),
    topk AS (SELECT query_id, neighbor_id FROM ranked
             WHERE rk <= {TOP_K})
    SELECT t.query_id,
           ql.label::INT AS label,
           count(*)::BIGINT AS n_retrieved,
           sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)::BIGINT
               AS n_same_label,
           (sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
               * 1000000 // count(*))::BIGINT AS p_at_k_ppm
    FROM topk t
    JOIN lab ql ON ql.vec_id = t.query_id
    JOIN lab nl ON nl.vec_id = t.neighbor_id
    GROUP BY t.query_id, ql.label
    ORDER BY query_id
    """,
)
def retrieval_label_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@{TOP_K} of EXACT dense retrieval under label
    relevance: for each probe vector, how many of its top-{TOP_K}
    cosine neighbors share its label — the standard proxy-relevance
    IR eval when no human judgments exist, and the third leg of the
    embedding-quality triangle: ann_*_recall grades the INDEX against
    exact retrieval, embedding_label_knn_accuracy grades the LABELS
    point-wise, and this grades whether exact retrieval in this space
    surfaces same-class items at all (a low P@k with high knn
    accuracy means the top of the ranking is fine but retrieval-depth
    quality decays — the re-ranker signal).

    Determinism: the ranking is ann_topk_bruteforce's established
    exact top-k (cos DESC, id ties, measure-zero float argument);
    everything after is integer label counts and one trunc-div ppm.

    Scale: reuses the broadcast-probe blocked matmul (corpus never
    collected, block-local top-k); the label joins touch only the
    ≤ queries × k result rows."""
    dense = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    return (
        dense.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlabel"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "qlabel")
        .agg(
            F.count("*").cast("bigint").alias("n_retrieved"),
            F.sum(F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_same_label"),
            F.expr(
                "cast(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)"
                " * 1000000 div count(*) as bigint)"
            ).alias("p_at_k_ppm"),
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "n_retrieved",
            "n_same_label",
            "p_at_k_ppm",
        )
        .orderBy("query_id")
    )


# --------------------------------------------------------------------------
# retrieval_ndcg — graded ranking quality of dense retrieval (nDCG@k
# under label relevance; P@k sees WHETHER relevant items surface, this
# sees WHERE in the ranking they sit).
# --------------------------------------------------------------------------
# 1/log2(i+1) position discounts on a nano grid, PRECOMPUTED as integer
# literals for ranks 1..TOP_K (and their prefix sums for the ideal DCG)
# — both engines consume the same constants, so no libm call exists at
# query time at all. round(1e9 / log2(i+1)) for i = 1..5:
DCG_GAIN_NANO = (1000000000, 630929754, 500000000, 430676558, 386852807)
DCG_IDEAL_PREFIX_NANO = tuple(
    sum(DCG_GAIN_NANO[: i + 1]) for i in range(len(DCG_GAIN_NANO))
)
assert len(DCG_GAIN_NANO) == TOP_K


@query(
    "retrieval_ndcg",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    lab AS (SELECT vec_id, label FROM embeddings),
    lc AS (SELECT label, count(*)::BIGINT AS n_label FROM lab GROUP BY 1),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q JOIN e ON e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored),
    topk AS (SELECT query_id, neighbor_id, rk FROM ranked
             WHERE rk <= {TOP_K}),
    gains AS (SELECT unnest(generate_series(1, {TOP_K})) AS rk,
                     unnest([{", ".join(str(g) for g in DCG_GAIN_NANO)}
                            ])::BIGINT AS gain_nano),
    per_q AS (
        SELECT t.query_id, ql.label,
               sum(CASE WHEN nl.label = ql.label
                        THEN g.gain_nano ELSE 0 END)::BIGINT AS dcg_nano,
               sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)::BIGINT
                   AS n_rel_topk,
               max(lc.n_label) - 1 AS r_q
        FROM topk t
        JOIN lab ql ON ql.vec_id = t.query_id
        JOIN lab nl ON nl.vec_id = t.neighbor_id
        JOIN gains g ON g.rk = t.rk
        JOIN lc ON lc.label = ql.label
        GROUP BY t.query_id, ql.label),
    scored_q AS (
        SELECT query_id, label::INT AS label, n_rel_topk,
               CASE WHEN r_q <= 0 THEN 0
                    ELSE dcg_nano * 1000000 //
                         ([{", ".join(str(p) for p in
                                      DCG_IDEAL_PREFIX_NANO)}]
                          [least({TOP_K}, r_q)])
               END::BIGINT AS ndcg_ppm
        FROM per_q)
    SELECT query_id, label, n_rel_topk, ndcg_ppm,
           (SELECT (sum(ndcg_ppm) // count(*))::BIGINT FROM scored_q)
               AS mean_ndcg_ppm
    FROM scored_q
    ORDER BY query_id
    """,
)
def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{TOP_K} of exact dense retrieval under label relevance:
    binary gains discounted by rank position (the precomputed
    1/log2(i+1) nano-grid literals), normalized by the IDEAL DCG for
    min(k, R_q) available relevant items. retrieval_label_precision
    counts how many same-label items the top-k holds; this query
    scores WHERE they sit — a system that always buries its hits at
    rank 5 has identical P@k but visibly lower nDCG, which is exactly
    the re-ranker/calibration signal. Completes the IR-eval leg:
    P@k (set quality), nDCG@k (rank quality), recall curves (index
    quality).

    Determinism: the ranking is the established exact top-k (cos
    DESC, id tie-break); position discounts are INTEGER LITERALS
    shared by both engines (no runtime libm); the per-query close is
    exact integer arithmetic with a trunc-div ppm.

    Scale: reuses the broadcast-probe blocked matmul; everything
    after the top-k runs on ≤ queries × k rows, and the mean closes
    over the ≤{N_QUERIES}-row per-query frame in Python."""
    dense = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", "rk"
    )
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    lc = lab.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_label")
    )
    gains = "array(" + ",".join(f"{g}L" for g in DCG_GAIN_NANO) + ")"
    prefix = (
        "array(" + ",".join(f"{p}L" for p in DCG_IDEAL_PREFIX_NANO) + ")"
    )
    per_q = (
        dense.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlabel"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(lc.select(F.col("label").alias("qlabel"), "n_label")),
            "qlabel",
        )
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum(
                F.when(
                    F.col("nlabel") == F.col("qlabel"),
                    F.expr(f"element_at({gains}, cast(rk as int))"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("dcg_nano"),
            F.sum(F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_rel_topk"),
            (F.max("n_label") - 1).cast("bigint").alias("r_q"),
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "n_rel_topk",
            F.expr(
                f"cast(CASE WHEN r_q <= 0 THEN 0"
                f" ELSE dcg_nano * 1000000 div"
                f" element_at({prefix}, cast(least({TOP_K}, r_q) as int))"
                f" END as bigint)"
            ).alias("ndcg_ppm"),
        )
    )
    schema = (
        "query_id BIGINT, label INT, n_rel_topk BIGINT, ndcg_ppm BIGINT,"
        " mean_ndcg_ppm BIGINT"
    )
    rows = sorted(
        (int(r.query_id), int(r.label), int(r.n_rel_topk), int(r.ndcg_ppm))
        for r in per_q.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    mean_ppm = sum(r[3] for r in rows) // len(rows)
    out = [(qid, lb, nr, nd, mean_ppm) for qid, lb, nr, nd in rows]
    return spark.createDataFrame(out, schema).orderBy("query_id")


# --------------------------------------------------------------------------
# retrieval_mrr — Mean Reciprocal Rank@k of dense retrieval (where does
# the FIRST relevant item sit?). Fourth leg of the IR-eval family:
# P@k (set), nDCG@k (graded rank), MRR@k (first-hit rank), MMR (diversity).
# --------------------------------------------------------------------------
# 1/rank reciprocal gains on a ppb grid, precomputed as integer literals
# for ranks 1..TOP_K — both engines consume the same constants, so the
# only arithmetic at query time is integer min/sum/div:
RR_GAIN_PPB = (1000000000, 500000000, 333333333, 250000000, 200000000)
assert len(RR_GAIN_PPB) == TOP_K
assert all(
    g == (10**9 * 2 + i) // (2 * i)  # round-half-up(1e9 / i), exact
    for i, g in enumerate(RR_GAIN_PPB, start=1)
)


@query(
    "retrieval_mrr",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    lab AS (SELECT vec_id, label FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q JOIN e ON e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored),
    topk AS (SELECT query_id, neighbor_id, rk FROM ranked
             WHERE rk <= {TOP_K}),
    per_q AS (
        SELECT t.query_id, ql.label,
               coalesce(min(CASE WHEN nl.label = ql.label
                                 THEN t.rk END), 0) AS first_rel_rank
        FROM topk t
        JOIN lab ql ON ql.vec_id = t.query_id
        JOIN lab nl ON nl.vec_id = t.neighbor_id
        GROUP BY t.query_id, ql.label),
    scored_q AS (
        SELECT query_id, label::INT AS label,
               first_rel_rank::INT AS first_rel_rank,
               (CASE WHEN first_rel_rank = 0 THEN 0
                     ELSE [{", ".join(str(g) for g in RR_GAIN_PPB)}]
                          [first_rel_rank]
                END)::BIGINT AS rr_ppb
        FROM per_q)
    SELECT query_id, label, first_rel_rank, rr_ppb,
           (SELECT (sum(rr_ppb) // count(*))::BIGINT FROM scored_q)
               AS mean_rr_ppb
    FROM scored_q
    ORDER BY query_id
    """,
)
def retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@{TOP_K} of exact dense retrieval under label relevance: the
    reciprocal rank of the FIRST same-label neighbor in the top-k
    (0 when none surfaces), per query, plus the mean across queries.
    P@k counts hits and nDCG weighs all their positions; MRR isolates
    the known-item / question-answering readout — "how far does the
    user scan before the first relevant result" — and is the metric
    that moves when a re-ranker fixes only the top slot.

    Determinism: the ranking is the established exact top-k (cos DESC,
    id tie-break); reciprocal gains are INTEGER LITERALS shared by
    both engines (no runtime division by rank); the first-hit rank is
    an integer min and the mean is one trunc-div over ppb integers.

    Scale: reuses the broadcast-probe blocked matmul (corpus never
    collected, block-local top-k); the label joins touch only the
    ≤ queries × k result rows and the mean closes over the
    ≤{N_QUERIES}-row per-query frame in Python."""
    dense = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", "rk"
    )
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    gains = "array(" + ",".join(f"{g}L" for g in RR_GAIN_PPB) + ")"
    per_q = (
        dense.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlabel"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .groupBy("query_id", "qlabel")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        F.col("nlabel") == F.col("qlabel"), F.col("rk")
                    )
                ),
                F.lit(0),
            )
            .cast("int")
            .alias("first_rel_rank")
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "first_rel_rank",
            F.expr(
                f"cast(CASE WHEN first_rel_rank = 0 THEN 0"
                f" ELSE element_at({gains}, first_rel_rank)"
                f" END as bigint)"
            ).alias("rr_ppb"),
        )
    )
    schema = (
        "query_id BIGINT, label INT, first_rel_rank INT, rr_ppb BIGINT,"
        " mean_rr_ppb BIGINT"
    )
    rows = sorted(
        (
            int(r.query_id),
            int(r.label),
            int(r.first_rel_rank),
            int(r.rr_ppb),
        )
        for r in per_q.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    mean_ppb = sum(r[3] for r in rows) // len(rows)
    out = [(qid, lb, fr, rr, mean_ppb) for qid, lb, fr, rr in rows]
    return spark.createDataFrame(out, schema).orderBy("query_id")


# --------------------------------------------------------------------------
# retrieval_mmr_topk — Maximal Marginal Relevance: diversified top-k
# (pure relevance ranking returns near-duplicates; MMR trades relevance
# against redundancy with the selected set).
# --------------------------------------------------------------------------
MMR_POOL = 20          # relevance top-C candidate pool per query
MMR_K = 5              # diversified results returned
MMR_LAMBDA_NUM = 7     # λ = 7/10: score = (7·rel − 3·max-sim-to-selected)/10
MMR_LAMBDA_DEN = 10


def _mmr_oracle() -> str:
    rest = MMR_LAMBDA_DEN - MMR_LAMBDA_NUM
    score = f"({MMR_LAMBDA_NUM} * r_ppb - {rest} * mx)"
    steps = []
    for t in range(2, MMR_K + 1):
        prev = f"sel{t - 1}"
        steps.append(f"""
    mx{t} AS (
        SELECT c.query_id, c.neighbor_id, c.r_ppb,
               max(p.s_ppb) AS mx
        FROM cand c
        JOIN pair p ON p.query_id = c.query_id
                   AND p.a = c.neighbor_id
        WHERE p.b IN (SELECT neighbor_id FROM {prev} s2
                      WHERE s2.query_id = c.query_id)
          AND NOT EXISTS (SELECT 1 FROM {prev} s3
                          WHERE s3.query_id = c.query_id
                            AND s3.neighbor_id = c.neighbor_id)
        GROUP BY c.query_id, c.neighbor_id, c.r_ppb),
    pick{t} AS (
        SELECT query_id, neighbor_id, r_ppb, {t} AS rank_pos,
               {score} AS mmr_x10
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY {score} DESC, neighbor_id) AS rn
              FROM mx{t}) WHERE rn = 1),
    sel{t} AS (SELECT query_id, neighbor_id FROM {prev}
               UNION ALL SELECT query_id, neighbor_id FROM pick{t})""")
    picks_union = " UNION ALL ".join(
        f"SELECT query_id, rank_pos, neighbor_id, r_ppb, mmr_x10"
        f" FROM pick{t}"
        for t in range(1, MMR_K + 1)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q JOIN e ON e.vec_id <> q.query_id),
    cand AS (
        SELECT query_id, neighbor_id,
               CAST(round(cos * 1000000000) AS BIGINT) AS r_ppb
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY cos DESC, neighbor_id) AS rk
              FROM scored) WHERE rk <= {MMR_POOL}),
    -- Pairwise sims on the FIXED-POINT INTEGER GRID (the kmeans /
    -- _ZIP_DIST contract): components quantize to w = round(x·10⁶)
    -- (|x| ≤ ~0.53, dim 64 ⇒ every product ≤ 2.8e11 and every dot
    -- ≤ 1.8e13 — EXACT in double, below 2^53), the integer dot and
    -- norms close in HUGEINT, and s_ppb = (D·10⁹) // isqrt(Na·Nb)
    -- (corrected floor-sqrt, exact while sqrt(radicand) < ~9e15;
    -- here ≤ 1.8e13). Both engines derive s_ppb from the identical
    -- integer sequence — no double-summation-order 1-ulp risk in the
    -- greedy MMR cascade.
    w AS (SELECT vec_id,
                 list_transform(embedding::DOUBLE[],
                                x -> round(x * 1000000)) AS wv
          FROM embeddings),
    wn AS (SELECT vec_id, wv,
                  CAST(list_dot_product(wv, wv) AS HUGEINT) AS n2
           FROM w),
    pair AS (
        SELECT query_id, a, b,
               (SELECT CASE WHEN d >= 0 THEN (d * 1000000000) // r
                            ELSE -((-d * 1000000000) // r) END
                FROM (SELECT s + (CASE WHEN (s+1)*(s+1) <= n2p
                                       THEN 1 ELSE 0 END)
                               - (CASE WHEN s*s > n2p
                                       THEN 1 ELSE 0 END) AS r
                      FROM (SELECT floor(sqrt(n2p::DOUBLE))::HUGEINT
                                AS s))) AS s_ppb
        FROM (SELECT c1.query_id, c1.neighbor_id AS a,
                     c2.neighbor_id AS b,
                     CAST(list_dot_product(w1.wv, w2.wv) AS HUGEINT)
                         AS d,
                     w1.n2 * w2.n2 AS n2p
              FROM cand c1
              JOIN cand c2 ON c2.query_id = c1.query_id
                          AND c2.neighbor_id <> c1.neighbor_id
              JOIN wn w1 ON w1.vec_id = c1.neighbor_id
              JOIN wn w2 ON w2.vec_id = c2.neighbor_id)),
    pick1 AS (
        SELECT query_id, neighbor_id, r_ppb, 1 AS rank_pos,
               {MMR_LAMBDA_NUM} * r_ppb AS mmr_x10
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY r_ppb DESC, neighbor_id) AS rn
              FROM cand) WHERE rn = 1),
    sel1 AS (SELECT query_id, neighbor_id FROM pick1),
    {",".join(steps)}
    SELECT query_id, rank_pos::INT AS rank_pos, neighbor_id,
           r_ppb AS relevance_ppb, mmr_x10::BIGINT AS mmr_x10
    FROM ({picks_union})
    ORDER BY query_id, rank_pos
    """


@query("retrieval_mmr_topk", oracle=_mmr_oracle())
def retrieval_mmr_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAXIMAL MARGINAL RELEVANCE (Carbonell & Goldstein) diversified
    top-{MMR_K}: greedily pick from the relevance top-{MMR_POOL} the
    candidate maximizing λ·relevance − (1−λ)·max-similarity-to-
    already-selected (λ = {MMR_LAMBDA_NUM}/{MMR_LAMBDA_DEN}, carried
    ×{MMR_LAMBDA_DEN} so the score is an exact integer). Pure cosine
    ranking returns near-duplicates of one passage; a RAG context
    window assembled with MMR covers more of the answer with the same
    k — the diversification leg of the retrieval family next to P@k
    (set quality) and nDCG (rank quality).

    Determinism: relevance rounds onto a ppb integer grid; pairwise
    sims are STRUCTURALLY integer (round-9): components quantize to
    round(x·10⁶), the dot and norms close exactly in integers (dim 64,
    |x| ≤ ~0.53 ⇒ dots ≤ 1.8e13, exact in double for the oracle's
    list_dot_product), and s_ppb = trunc_div(D·10⁹, isqrt(Na·Nb)) —
    both engines derive the pairwise leg from the identical integer
    sequence, so the greedy {MMR_K}-step cascade cannot be flipped by
    a double summation-order ulp. The greedy argmax runs on integers
    with a neighbor_id tie-break.

    Scale: the candidate pool is the broadcast-probe blocked matmul
    (corpus never collected), keeping a local top-{MMR_POOL} per
    block; everything after — the ≤ queries×{MMR_POOL} pool, its
    ≤ queries×{MMR_POOL}² pairwise sims, the greedy walk — is
    config-bounded driver work, the _seeds/centroid contract."""
    ids_all, _, u_all = _corpus_numpy(
        spark, sf_dir, F.col("vec_id") < N_QUERIES
    )
    qm = ids_all < N_QUERIES
    bc = spark.sparkContext.broadcast((ids_all[qm], u_all[qm]))

    def fn(batches):
        q_ids, qn = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids, _, bn = _block_norm(pdf)
            sims = bn @ qn.T
            for qi, qid in enumerate(q_ids):
                m = b_ids != qid
                if m.any():
                    order = np.lexsort((b_ids[m], -sims[m, qi]))[:MMR_POOL]
                    yield pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": b_ids[m][order],
                            "cos": sims[m, qi][order],
                        }
                    )

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "neighbor_id")
    cand = (
        _scan_scored(spark, sf_dir, fn)
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= MMR_POOL)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos") * 1000000000, 0)
            .cast("bigint")
            .alias("r_ppb"),
        )
    )
    cand_rows = cand.collect()
    schema = (
        "query_id BIGINT, rank_pos INT, neighbor_id BIGINT,"
        " relevance_ppb BIGINT, mmr_x10 BIGINT"
    )
    if not cand_rows:
        return spark.createDataFrame([], schema)
    pool: dict[int, list[tuple[int, int]]] = {}
    for r in cand_rows:
        pool.setdefault(int(r.query_id), []).append(
            (int(r.neighbor_id), int(r.r_ppb))
        )
    need = sorted({nid for v in pool.values() for nid, _ in v})
    ids_c, v_c, _ = _corpus_numpy(
        spark, sf_dir, F.col("vec_id").isin(need)
    )
    # Pairwise sims on the fixed-point integer grid (matches the
    # oracle's quantized `pair` CTE exactly): w = round-half-away
    # (x·10⁶) per component, exact Python-int dot and norms, then
    # s_ppb = trunc_div(D·10⁹, isqrt(Na·Nb)). Identical integer
    # arithmetic in both engines — the greedy cascade can't be
    # flipped by a 1-ulp double-summation-order difference.
    import math

    def q6(x: float) -> int:
        s = math.floor(abs(x) * 1000000 + 0.5)
        return s if x >= 0 else -s

    wq = {
        int(i): [q6(float(x)) for x in row]
        for i, row in zip(ids_c, v_c)
    }
    n2 = {i: sum(w * w for w in row) for i, row in wq.items()}

    def s_ppb(a: int, b: int) -> int:
        d = sum(x * y for x, y in zip(wq[a], wq[b]))
        r = math.isqrt(n2[a] * n2[b])
        num = d * 1000000000
        return num // r if num >= 0 else -((-num) // r)

    rest = MMR_LAMBDA_DEN - MMR_LAMBDA_NUM
    out = []
    for qid in sorted(pool):
        cands = sorted(pool[qid])  # (neighbor_id, r_ppb)
        sel: list[int] = []
        for rank_pos in range(1, MMR_K + 1):
            best = None
            for nid, r_ppb in cands:
                if nid in sel:
                    continue
                if rank_pos == 1:
                    score = MMR_LAMBDA_NUM * r_ppb
                else:
                    mx = max(s_ppb(nid, s) for s in sel)
                    score = MMR_LAMBDA_NUM * r_ppb - rest * mx
                key = (-score, nid)
                if best is None or key < best[0]:
                    best = (key, nid, r_ppb, score)
            if best is None:
                break
            _, nid, r_ppb, score = best
            sel.append(nid)
            out.append((qid, rank_pos, nid, r_ppb, score))
    return spark.createDataFrame(out, schema).orderBy(
        "query_id", "rank_pos"
    )


# --------------------------------------------------------------------------
# ivf_nprobe_recall_curve — recall@k as a function of nprobe (the IVF
# tuning curve, the lsh_s_curve symmetry for the centroid index).
# --------------------------------------------------------------------------
IVF_NPROBES = (1, 2, 3)


@query(
    "ivf_nprobe_recall_curve",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cn
          FROM e WHERE {_CENTROID_SQL}),
    assigned AS (
        SELECT vec_id, centroid_id FROM (
            SELECT e.vec_id, c.centroid_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY list_dot_product(e.v, c.cv)
                                / (e.nrm * c.cn) DESC,
                                c.centroid_id) AS rn
            FROM e CROSS JOIN c)
        WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
          WHERE vec_id < {N_QUERIES}),
    qc AS (
        SELECT query_id, centroid_id,
               row_number() OVER (PARTITION BY query_id
                   ORDER BY list_dot_product(qv, cv) / (qn * cn) DESC,
                            centroid_id) AS crk
        FROM q CROSS JOIN c),
    truth AS (
        SELECT query_id, neighbor_id FROM (
            SELECT q.query_id, e.vec_id AS neighbor_id,
                   row_number() OVER (PARTITION BY q.query_id
                       ORDER BY list_dot_product(q.qv, e.v)
                                / (q.qn * e.nrm) DESC, e.vec_id) AS rk
            FROM q JOIN e ON e.vec_id <> q.query_id)
        WHERE rk <= {TOP_K}),
    np AS (SELECT unnest([{", ".join(str(n) for n in IVF_NPROBES)}])
                      AS nprobe),
    cand AS (
        SELECT np.nprobe, qc.query_id, a.vec_id
        FROM np
        JOIN qc ON qc.crk <= np.nprobe
        JOIN assigned a ON a.centroid_id = qc.centroid_id
        WHERE a.vec_id <> qc.query_id),
    ret AS (
        SELECT nprobe, query_id, neighbor_id FROM (
            SELECT cd.nprobe, cd.query_id, cd.vec_id AS neighbor_id,
                   row_number() OVER (
                       PARTITION BY cd.nprobe, cd.query_id
                       ORDER BY list_dot_product(q.qv, e.v)
                                / (q.qn * e.nrm) DESC, cd.vec_id) AS rk
            FROM cand cd
            JOIN q ON q.query_id = cd.query_id
            JOIN e ON e.vec_id = cd.vec_id)
        WHERE rk <= {TOP_K}),
    hits AS (
        SELECT r.nprobe, count(*)::BIGINT AS n_hits
        FROM ret r
        JOIN truth t ON t.query_id = r.query_id
                    AND t.neighbor_id = r.neighbor_id
        GROUP BY r.nprobe),
    den AS (SELECT count(*)::BIGINT AS n_truth FROM truth)
    SELECT np.nprobe::INT AS nprobe,
           coalesce(h.n_hits, 0)::BIGINT AS n_hits,
           (SELECT n_truth FROM den) AS n_truth,
           (coalesce(h.n_hits, 0) * 1000000
               // greatest((SELECT n_truth FROM den), 1))::BIGINT
               AS recall_ppm
    FROM np LEFT JOIN hits h ON h.nprobe = np.nprobe
    ORDER BY np.nprobe
    """,
)
def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} as a function of nprobe ∈ {IVF_NPROBES} for the
    IVF index — the tuning curve an index review reads next to
    ivf_list_balance's cost side: balance says what each probed list
    COSTS, this says what probing more lists BUYS (the knee of the
    curve is where nprobe stops paying). The lsh_s_curve symmetry for
    the centroid index: LSH tunes (b, r) against the banding S-curve,
    IVF tunes nprobe against this.

    Determinism: assignment and both rankings are the module's exact
    argmax/top-k (cos DESC, id ties — the measure-zero float
    argument); hits and the ppm recall are integers.

    Scale: ONE corpus scan — the blocked kernel assigns each row to
    its centroid and scores it against the (broadcast) queries whose
    probe sets contain that centroid, emitting block-local top-k per
    (nprobe, query) (≤ |nprobes|·|queries|·k rows per block); truth
    is the same broadcast-probe brute-force pass every recall harness
    here grades against. The curve costs one scan regardless of how
    many nprobe points it carries."""
    cent_ids, _, cent_u = _corpus_numpy(
        spark, sf_dir, F.col("vec_id") % CENTROID_MOD == CENTROID_RESIDUE
    )
    q_ids, _, q_u = _corpus_numpy(
        spark, sf_dir, F.col("vec_id") < N_QUERIES
    )
    schema_empty = (
        "nprobe INT, n_hits BIGINT, n_truth BIGINT, recall_ppm BIGINT"
    )
    if len(cent_ids) == 0 or len(q_ids) == 0:
        return spark.createDataFrame([], schema_empty)
    # per-query centroid ranking (tiny: |queries| × k centroids)
    sims_qc = q_u @ cent_u.T
    probe_sets: dict[int, list[set]] = {}
    order = [
        np.lexsort((cent_ids, -sims_qc[i]))
        for i in range(len(q_ids))
    ]
    for npb in IVF_NPROBES:
        probe_sets[npb] = [
            set(cent_ids[order[i][:npb]].tolist())
            for i in range(len(q_ids))
        ]
    bc = spark.sparkContext.broadcast(
        (q_ids, q_u, cent_ids, cent_u, probe_sets)
    )

    def fn(batches):
        qids, qu, cids, cu, probes = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids, _, bn = _block_norm(pdf)
            csims = bn @ cu.T
            best = csims.max(axis=1, keepdims=True)
            b_cent = cids[np.argmax(csims == best, axis=1)]
            qsims = bn @ qu.T
            for npb, per_q in probes.items():
                for qi, qid in enumerate(qids):
                    in_probe = np.isin(
                        b_cent, list(per_q[qi]), assume_unique=False
                    )
                    m = in_probe & (b_ids != qid)
                    if not m.any():
                        continue
                    cos = qsims[m, qi]
                    ids_m = b_ids[m]
                    sel = np.lexsort((ids_m, -cos))[:TOP_K]
                    yield pd.DataFrame(
                        {
                            "nprobe": np.int32(npb),
                            "query_id": qid,
                            "neighbor_id": ids_m[sel],
                            "cos": cos[sel],
                        }
                    )

    scored = _scan_scored(
        spark,
        sf_dir,
        fn,
        "nprobe INT, query_id LONG, neighbor_id LONG, cos DOUBLE",
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos"), "neighbor_id"
    )
    ret = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("nprobe", "query_id", "neighbor_id")
    )
    truth = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )

    truth = pin("ivf_curve_truth", truth, fill=False)
    n_truth = truth.count()
    hits = ret.join(truth, ["query_id", "neighbor_id"], "left_semi").groupBy(
        "nprobe"
    ).agg(F.count("*").cast("bigint").alias("n_hits"))
    grid = spark.createDataFrame(
        [(int(n),) for n in IVF_NPROBES], "nprobe INT"
    )
    return (
        grid.join(hits, "nprobe", "left")
        .select(
            "nprobe",
            F.coalesce(F.col("n_hits"), F.lit(0))
            .cast("bigint")
            .alias("n_hits"),
            F.lit(int(n_truth)).cast("bigint").alias("n_truth"),
            F.expr(
                f"cast(coalesce(n_hits, 0) * 1000000"
                f" div greatest({int(n_truth)}, 1) as bigint)"
            ).alias("recall_ppm"),
        )
        .orderBy("nprobe")
    )


# --------------------------------------------------------------------------
# retrieval_map — Mean Average Precision@k: order-sensitive PRECISION.
# P@k grades the final set, nDCG grades positions with a fixed discount
# curve; AP integrates precision AT EACH HIT, so it rewards front-
# loading every hit, not just the first (MRR) or a log-discounted blend
# (nDCG). Fifth leg of the IR-eval family.
# --------------------------------------------------------------------------
# Precision grid: PREC_PPB[i][j] = round-half-up(1e9 · j / i) for a hit
# at rank i that is the j-th hit so far (j ≤ i), 0-padded above the
# diagonal — integer LITERALS consumed by both engines, so no runtime
# division feeds the per-hit terms.
PREC_PPB = tuple(
    tuple(
        (10**9 * 2 * j + i) // (2 * i) if j <= i else 0
        for j in range(1, TOP_K + 1)
    )
    for i in range(1, TOP_K + 1)
)
assert PREC_PPB[0][0] == 10**9 and PREC_PPB[4][1] == 400000000

_PREC_SQL = (
    "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]"
                    for row in PREC_PPB) + "]"
)
_PREC_SPARK = (
    "array(" + ", ".join(
        "array(" + ", ".join(f"{v}L" for v in row) + ")" for row in PREC_PPB
    ) + ")"
)


@query(
    "retrieval_map",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    lab AS (SELECT vec_id, label FROM embeddings),
    lc AS (SELECT label, count(*)::BIGINT AS n_label FROM lab GROUP BY 1),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q JOIN e ON e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored),
    topk AS (SELECT query_id, neighbor_id, rk FROM ranked
             WHERE rk <= {TOP_K}),
    hitflag AS (
        SELECT t.query_id, ql.label, t.rk,
               CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END AS hit,
               max(lc.n_label) OVER (PARTITION BY t.query_id) - 1 AS r_q
        FROM topk t
        JOIN lab ql ON ql.vec_id = t.query_id
        JOIN lab nl ON nl.vec_id = t.neighbor_id
        JOIN lc ON lc.label = ql.label),
    terms AS (
        SELECT query_id, label, r_q, hit,
               CASE WHEN hit = 1
                    THEN {_PREC_SQL}[rk]
                         [(sum(hit) OVER (PARTITION BY query_id
                                          ORDER BY rk))::BIGINT]
                    ELSE 0 END::BIGINT AS term_ppb
        FROM hitflag),
    per_q AS (
        SELECT query_id, label::INT AS label,
               sum(hit)::BIGINT AS n_rel_topk,
               CASE WHEN max(r_q) <= 0 THEN 0
                    ELSE sum(term_ppb) // least({TOP_K}, max(r_q))
               END::BIGINT AS ap_ppb
        FROM terms GROUP BY query_id, label)
    SELECT query_id, label, n_rel_topk, ap_ppb,
           (SELECT (sum(ap_ppb) // count(*))::BIGINT FROM per_q)
               AS mean_ap_ppb
    FROM per_q
    ORDER BY query_id
    """,
)
def retrieval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean Average Precision@{TOP_K} of exact dense retrieval under
    label relevance: at every HIT rank i, take precision-so-far j/i
    (a triangular grid of integer literals shared by
    both engines), sum, and normalize by min(k, R_q). AP is the
    order-sensitive precision the other legs can't express: MRR stops
    at the first hit, nDCG fixes a log discount; AP rewards a system
    that front-loads ALL its hits — the standard leaderboard metric
    for retrieval over labeled corpora.

    Determinism: ranking is the established exact top-k (cos DESC,
    id tie-break); each hit's j/i precision is an integer LITERAL
    indexed by (rank, hits-so-far), summed exactly and closed with
    one trunc-div — no runtime float arithmetic after the ranking.

    Scale: reuses the broadcast-probe blocked matmul top-k; the
    hit-flag window and AP close run on ≤ queries × {TOP_K} rows, and
    the mean closes over the ≤{N_QUERIES}-row frame in Python."""
    dense = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id", "rk"
    )
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    lc = lab.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_label")
    )
    flagged = (
        dense.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlabel"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(lc.select(F.col("label").alias("qlabel"), "n_label")),
            "qlabel",
        )
        .withColumn(
            "hit",
            F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0),
        )
        .withColumn("r_q", (F.col("n_label") - 1).cast("bigint"))
    )
    w_run = (
        Window.partitionBy("query_id")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    per_q = (
        flagged.withColumn("j", F.sum("hit").over(w_run))
        .withColumn(
            "term_ppb",
            F.when(
                F.col("hit") == 1,
                F.expr(
                    f"element_at(element_at({_PREC_SPARK},"
                    f" cast(rk as int)), cast(j as int))"
                ),
            ).otherwise(F.lit(0).cast("bigint")),
        )
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum("hit").cast("bigint").alias("n_rel_topk"),
            F.sum("term_ppb").cast("bigint").alias("sum_ppb"),
            F.max("r_q").alias("r_q"),
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "n_rel_topk",
            F.expr(
                f"cast(CASE WHEN r_q <= 0 THEN 0"
                f" ELSE sum_ppb div least({TOP_K}, r_q) END as bigint)"
            ).alias("ap_ppb"),
        )
    )
    schema = (
        "query_id BIGINT, label INT, n_rel_topk BIGINT, ap_ppb BIGINT,"
        " mean_ap_ppb BIGINT"
    )
    rows = sorted(
        (int(r.query_id), int(r.label), int(r.n_rel_topk), int(r.ap_ppb))
        for r in per_q.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    mean_ppb = sum(r[3] for r in rows) // len(rows)
    out = [(qid, lb, nr, ap, mean_ppb) for qid, lb, nr, ap in rows]
    return spark.createDataFrame(out, schema).orderBy("query_id")


# --------------------------------------------------------------------------
# retrieval_recall_at_k — the RECALL complement of P@k: of ALL relevant
# items in the corpus, how many did the top-k surface? P@k divides by k
# (user-facing precision); recall divides by R_q (coverage of the
# relevant set) — the side a dedup/link-finding pipeline cares about,
# where a miss is an undetected duplicate, not a wasted slot.
# --------------------------------------------------------------------------
@query(
    "retrieval_recall_at_k",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, {_NORM_SQL} AS nrm
               FROM embeddings),
    lab AS (SELECT vec_id, label FROM embeddings),
    lc AS (SELECT label, count(*)::BIGINT AS n_label FROM lab GROUP BY 1),
    q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM e
          WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               list_dot_product(q.qv, e.v) / (q.qn * e.nrm) AS cos
        FROM q JOIN e ON e.vec_id <> q.query_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rk
        FROM scored),
    topk AS (SELECT query_id, neighbor_id FROM ranked WHERE rk <= {TOP_K}),
    per_q AS (
        SELECT t.query_id, ql.label::INT AS label,
               sum(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)::BIGINT
                   AS n_rel_topk,
               (max(lc.n_label) - 1)::BIGINT AS r_q
        FROM topk t
        JOIN lab ql ON ql.vec_id = t.query_id
        JOIN lab nl ON nl.vec_id = t.neighbor_id
        JOIN lc ON lc.label = ql.label
        GROUP BY t.query_id, ql.label),
    scored_q AS (
        SELECT query_id, label, n_rel_topk, r_q,
               CASE WHEN r_q <= 0 THEN 0
                    ELSE n_rel_topk * 1000000 // r_q
               END::BIGINT AS recall_ppm
        FROM per_q)
    SELECT query_id, label, n_rel_topk, r_q, recall_ppm,
           (SELECT (sum(recall_ppm) // count(*))::BIGINT FROM scored_q)
               AS mean_recall_ppm
    FROM scored_q
    ORDER BY query_id
    """,
)
def retrieval_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of exact dense retrieval under label relevance:
    same-label hits in the top-k divided by R_q (ALL same-label items
    in the corpus, excluding the query), on a ppm integer grid.
    retrieval_label_precision answers "how clean is the page the user
    sees"; this answers "how much of the relevant set did we find" —
    the coverage number a near-dup-mining or contamination-screening
    pass is actually graded on, where R_q >> k makes high P@k trivial
    and high recall hard.

    Determinism: the established exact top-k ranking (cos DESC, id
    tie-break), then pure integer counts and one trunc-div per query.

    Scale: reuses the broadcast-probe blocked matmul; the close runs
    on ≤ queries × {TOP_K} rows, label counts come from one
    map-combinable aggregate over the corpus, and the mean closes
    over the ≤{N_QUERIES}-row frame in Python."""
    dense = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    lab = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("int").alias("label")
    )
    lc = lab.groupBy("label").agg(
        F.count("*").cast("bigint").alias("n_label")
    )
    per_q = (
        dense.join(
            lab.select(
                F.col("vec_id").alias("query_id"),
                F.col("label").alias("qlabel"),
            ),
            "query_id",
        )
        .join(
            lab.select(
                F.col("vec_id").alias("neighbor_id"),
                F.col("label").alias("nlabel"),
            ),
            "neighbor_id",
        )
        .join(
            F.broadcast(lc.select(F.col("label").alias("qlabel"), "n_label")),
            "qlabel",
        )
        .groupBy("query_id", "qlabel")
        .agg(
            F.sum(
                F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_rel_topk"),
            (F.max("n_label") - 1).cast("bigint").alias("r_q"),
        )
        .select(
            "query_id",
            F.col("qlabel").alias("label"),
            "n_rel_topk",
            "r_q",
            F.expr(
                "cast(CASE WHEN r_q <= 0 THEN 0"
                " ELSE n_rel_topk * 1000000 div r_q END as bigint)"
            ).alias("recall_ppm"),
        )
    )
    schema = (
        "query_id BIGINT, label INT, n_rel_topk BIGINT, r_q BIGINT,"
        " recall_ppm BIGINT, mean_recall_ppm BIGINT"
    )
    rows = sorted(
        (
            int(r.query_id),
            int(r.label),
            int(r.n_rel_topk),
            int(r.r_q),
            int(r.recall_ppm),
        )
        for r in per_q.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    mean_ppm = sum(r[4] for r in rows) // len(rows)
    out = [(a, b, c, d, e, mean_ppm) for a, b, c, d, e in rows]
    return spark.createDataFrame(out, schema).orderBy("query_id")


# --------------------------------------------------------------------------
# embedding_dim_truncation_recall — how much index can you THROW AWAY?
# Matryoshka-style readout: rank by cosine over only the first d
# dimensions and measure recall@k against the full-dim exact top-k.
# Truncation is the cheapest ANN there is (d/64 of the FLOPs and
# memory, zero training, zero index build); this harness prices it per
# d, the same measured-recall contract as the LSH/IVF/SQ8 legs.
# --------------------------------------------------------------------------
TRUNC_DIMS = (8, 16, 32, 64)  # 64 = full width: the harness sanity row


@query(
    "embedding_dim_truncation_recall",
    oracle=f"""
    WITH bf AS ({{BF}}),
    dims(d) AS (VALUES (8), (16), (32), (64)),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
    t AS (SELECT dims.d, e.vec_id, e.v[1:dims.d] AS tv,
                 sqrt(list_dot_product(e.v[1:dims.d], e.v[1:dims.d]))
                     AS nrm
          FROM e CROSS JOIN dims),
    q AS (SELECT d, vec_id AS query_id, tv AS qv, nrm AS qn
          FROM t WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT q.d, q.query_id, t.vec_id AS neighbor_id,
               list_dot_product(q.qv, t.tv) / (q.qn * t.nrm) AS cos
        FROM q JOIN t ON t.d = q.d AND t.vec_id <> q.query_id),
    approx AS (
        SELECT d, query_id, neighbor_id FROM (
            SELECT d, query_id, neighbor_id,
                   row_number() OVER (PARTITION BY d, query_id
                                      ORDER BY cos DESC, neighbor_id)
                       AS rk
            FROM scored)
        WHERE rk <= {TOP_K}),
    nt AS (SELECT count(*)::BIGINT AS n_truth FROM bf)
    SELECT a.d,
           count(DISTINCT a.query_id)::BIGINT AS n_queries,
           max(nt.n_truth) AS n_truth,
           sum(CASE WHEN bf.neighbor_id IS NOT NULL THEN 1 ELSE 0
               END)::BIGINT AS n_hit,
           (sum(CASE WHEN bf.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            * 1000000 // max(nt.n_truth))::BIGINT AS recall_ppm
    FROM approx a
    LEFT JOIN bf ON bf.query_id = a.query_id
                AND bf.neighbor_id = a.neighbor_id
    CROSS JOIN nt
    GROUP BY a.d
    ORDER BY a.d
    """.replace("{BF}", _registry.ORACLES["ann_topk_bruteforce"]),
)
def embedding_dim_truncation_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recall@{TOP_K} of dimension-truncated cosine retrieval vs the
    full-width exact top-k, for prefix widths {TRUNC_DIMS}: the
    d = 64 row is the harness sanity check (recall 1e6 by identity),
    the d = 8/16/32 rows price the Matryoshka trade — if recall holds
    at d = 16, the serving index shrinks 4× with no retraining.
    Completes the approximate-retrieval grading set: LSH (bucketing),
    IVF (partitioning), PQ/SQ8 (quantization), truncation (width).

    Determinism: per-d rankings break ties on neighbor_id; recall is
    integer set-intersection counts with one trunc-div.

    Scale: the corpus streams ONCE through the blocked matmul kernel
    and every prefix width scores inside the same pass (slice views
    of one block, no re-scan); each block emits ≤ |dims| × queries ×
    {TOP_K} local-top rows, the established broadcast-probe shape."""
    truth = ann_topk_bruteforce(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )

    truth = pin("trunc_truth", truth, fill=False)
    n_truth = truth.count()
    ids_all, raw, _ = _corpus_numpy(
        spark, sf_dir, F.col("vec_id") < N_QUERIES
    )
    dims = tuple(TRUNC_DIMS)
    qn = {}
    for d in dims:
        qd = raw[:, :d]
        n = np.sqrt((qd * qd).sum(axis=1))
        qn[d] = qd / n[:, None]
    bc = spark.sparkContext.broadcast((ids_all, qn))

    def fn(batches):
        q_ids, qnorm = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            b_ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            bv = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            for d in dims:
                bd = bv[:, :d]
                bn = bd / np.sqrt((bd * bd).sum(axis=1))[:, None]
                sims = bn @ qnorm[d].T
                for qi, qid in enumerate(q_ids):
                    m = b_ids != qid
                    if m.any():
                        s = sims[m, qi]
                        bi = b_ids[m]
                        k = min(TOP_K, len(s))
                        top = np.argpartition(-s, k - 1)[:k]
                        yield pd.DataFrame(
                            {
                                "d": np.full(k, d, dtype=np.int32),
                                "query_id": np.full(k, qid),
                                "neighbor_id": bi[top],
                                "cos": s[top],
                            }
                        )

    scored = _scan_scored(
        spark,
        sf_dir,
        fn,
        schema="d INT, query_id LONG, neighbor_id LONG, cos DOUBLE",
    )
    w = Window.partitionBy("d", "query_id").orderBy(
        F.desc("cos"), "neighbor_id"
    )
    approx = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= TOP_K)
        .select("d", "query_id", "neighbor_id")
    )
    hits = (
        approx.join(truth, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("d")
        .agg(F.count("*").cast("bigint").alias("n_hit"))
    )
    nq = approx.groupBy("d").agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries")
    )
    return (
        nq.join(hits, "d", "left")
        .select(
            "d",
            "n_queries",
            F.lit(int(n_truth)).cast("bigint").alias("n_truth"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.expr(
                f"cast(coalesce(n_hit, 0) * 1000000"
                f" div greatest({int(n_truth)}, 1) as bigint)"
            ).alias("recall_ppm"),
        )
        .orderBy("d")
    )
