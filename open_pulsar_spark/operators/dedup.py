"""L4 deduplication operators over `documents`: exact, MinHash+LSH,
SimHash, n-gram Jaccard. (Embedding-cosine near-dup lives in
similarity.py next to the ANN operators.)

Scale design — the whole point of these operators is that they stay
shuffle-bounded at 100 TB:

  - exact dedup:      one hash-groupBy on a 128-bit fingerprint.
  - MinHash+LSH:      per-doc signature (map-only) → explode b bands →
                      equi-join on (band, signature) → verify ONLY the
                      candidate pairs. Never all-pairs.
  - SimHash:          map-only 16-bit signature; near-dup pairs via the
                      pigeonhole blocking join (4 blocks of 4 bits —
                      hamming ≤ 3 ⇒ at least one block identical), so
                      candidates come from an equi-join, never a cross
                      join.
  - n-gram Jaccard:   the exact all-pairs formulation, deliberately
                      restricted to a bounded slice — it is the
                      brute-force baseline the LSH paths are verified
                      against, not the scale path.

Hash parity note: signatures use md5 (identical in Python's hashlib,
Spark and DuckDB); MinHash applies k universal-hash permutations
(a·h+b mod p, 32-bit h, a < 2^30 so the product can never overflow
int64 under ANSI mode) to one md5 per shingle, so the oracle
reproduces signatures bit-for-bit with plain integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import held, pin, pin_keyed
from open_pulsar_spark.registry import query, query_sql
from open_pulsar_spark.tables import load_table, widen_for_kernel

MINHASH_K = 12
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS  # 3
JACCARD_THRESHOLD = 0.5
SIMHASH_BITS = 32
SIMHASH_BLOCKS = 4          # 4 blocks × 8 bits; hamming ≤ 3 ⇒ ≥1 equal block
SIMHASH_HAMMING_MAX = 3


# ---------------------------------------------------------------- helpers
def _shingled_of(docs: DataFrame) -> DataFrame:
    """(doc_id, text) frame → (doc_id, sh: distinct word-3-gram shingles)."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(toks) - 3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                )
            ).alias("sh"),
        )
    )


def _shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, sh: distinct word-3-gram shingles)."""
    return _shingled_of(load_table(spark, sf_dir, "documents"))


_SHINGLE_SQL = """
    SELECT doc_id,
           list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                          for i in range(1, len(toks) - 1)]) AS sh
    FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= 3
"""


# MinHash as k universal-hash permutations over ONE md5 per shingle:
# h = first 32 bits of md5(shingle); h_k = (a_k*h + b_k) mod p with
# p the largest 32-bit prime and a_k < 2^30 so a_k*h + b_k < 2^62
# never overflows int64 in any engine (Spark 4 runs ANSI mode).
#
# Signatures are computed in an Arrow-batched per-doc kernel rather
# than JVM expressions: both the interpreted higher-order transform
# AND explode-then-aggregate pay seconds per million shingles (the
# generator/lambda overhead dominates, measured ~5s/M rows), while
# hashlib+numpy over the same arrays is ~10x cheaper — and Python's
# md5 hexdigest is bit-identical to Spark's md5() and DuckDB's md5().
# Map-only: no shuffle; the per-doc signature is embarrassingly
# parallel at any scale.
MINHASH_P = 4294967291
_RS = __import__("numpy").random.RandomState(13)
MINHASH_A = [int(x) for x in _RS.randint(1, 2**30, MINHASH_K, dtype="int64")]
MINHASH_B = [int(x) for x in _RS.randint(0, MINHASH_P, MINHASH_K, dtype="int64")]

_SIGS_SCHEMA = (
    "doc_id long, n_shingles long, "
    + ", ".join(f"m{k} long" for k in range(MINHASH_K))
    + ", hs array<long>"
)


def _py_shingles(text: str | None) -> set[str] | None:
    """Distinct word-3-gram shingles; None when the doc has < 3 tokens.

    Token/filter semantics are IDENTICAL to _shingled_of / _SHINGLE_SQL:
    split on single space (consecutive spaces yield empty tokens in
    Python, Spark and DuckDB alike), docs under 3 tokens dropped.
    """
    if text is None:
        return None
    toks = text.split(" ")
    if len(toks) < 3:
        return None
    return {
        " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
    }


def shingle_stream_kernel(batches):
    """mapInPandas generator: a `text` column → one `t` row per
    PER-DOC-DISTINCT shingle. THE one Arrow shingle stream shared by
    the batch CMS (sketch.shingle_cms_heavy_hitters) and the streaming
    CMS (streaming.cms_stream) — the two sketches must count the same
    shingle set or cross-checking them is meaningless."""
    import pandas as pd

    for pdf in batches:
        out: list[str] = []
        for text in pdf["text"]:
            sh = _py_shingles(text)
            if sh is not None:
                out.extend(sh)
        if out:
            yield pd.DataFrame({"t": out})


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) frame → (doc_id, n_shingles, m0..m{k-1}, hs).

    One Arrow pass does tokenize → shingle → md5 → k permutations; the
    JVM-expression shingling (interpreted transform + array_distinct)
    costs more than the whole Python kernel, so the signature path
    never materializes shingle arrays at all.

    `hs` is the doc's DISTINCT 32-bit shingle-hash set (sorted array,
    ~400 B/doc at default shingle counts): the compact sketch the
    verify step intersects instead of re-reading text. That keeps
    candidate verification a join over cached sketches at any scale —
    the oracle intersects the same md5-derived hash sets, so Jaccard
    parity is exact by construction.
    """
    import hashlib

    import numpy as np
    import pandas as pd

    a = np.asarray(MINHASH_A, dtype=np.int64)[:, None]
    b = np.asarray(MINHASH_B, dtype=np.int64)[:, None]
    cols = ["doc_id", "n_shingles"] + [f"m{k}" for k in range(MINHASH_K)] + ["hs"]
    md5 = hashlib.md5
    from_bytes = int.from_bytes

    def fn(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sh = _py_shingles(text)
                if sh is None:
                    continue
                # first 4 md5 bytes == hexdigest()[:8] == Spark/DuckDB
                # ('0x'||substr(md5,1,8))::BIGINT
                hs = np.fromiter(
                    (from_bytes(md5(s.encode()).digest()[:4], "big") for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                mins = ((a * hs[None, :] + b) % MINHASH_P).min(axis=1)
                rows.append((doc_id, len(sh), *mins.tolist(), np.unique(hs)))
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    # No widen here: this helper also runs on streaming micro-batch
    # frames (neardup_stream), where counting partitions would force
    # AQE to materialize upstream stages per batch. Batch SCAN-level
    # callers widen via _scan_sigs below.
    return docs.select("doc_id", "text").mapInPandas(fn, _SIGS_SCHEMA)


def _scan_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash signatures of the documents SCAN, kernel-widened — the
    batch entry point (streaming batches call _minhash_sigs directly)."""
    return _minhash_sigs(
        widen_for_kernel(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        )
    )


def _pinned_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The doc-level minhash signature frame under a KEYED pin: five
    registry queries read it (pairs, clusters, capped recall, the
    S-curve, the skew profile) — the first in a session builds and
    caches, the rest reuse (the _weighted_edges contract applied to
    the Arrow kernel output; bench's cold-per-sample clearCache still
    measures each query cold). Filled at once: every reader self-joins
    it."""
    return pin_keyed(
        "minhash_sigs", sf_dir, lambda: _scan_sigs(spark, sf_dir), fill=True
    )


def _band_frame(sigs: DataFrame) -> DataFrame:
    """(doc_id, m0..mk) → exploded (doc_id, bk) — the one banding
    definition every batch candidate join shares (streaming keeps its
    own hs-carrying string variant in neardup_stream._bands_of, whose
    index schema is checkpoint-persistent and must not change).

    The band signature is collapsed to ONE 8-byte key — ``xxhash64``
    of the band index and the band's minhash values — instead of the
    "band, 'm|m|m'" string pair: the candidate self-join shuffles this
    frame twice, and an 8-byte long both halves the exchange payload
    vs ~25-byte concat strings and skips the per-row string build. A
    64-bit collision can only ADD a candidate pair, and every consumer
    verifies candidates exactly (Jaccard / containment over hs) before
    emitting, so the oracle contract is unchanged.
    """
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    )


def _band_candidates(sigs: DataFrame) -> DataFrame:
    """Distinct candidate pairs (a_id < b_id) sharing a band signature."""
    return _pairs_of_bands(_band_frame(sigs))


def _pairs_of_bands(bands: DataFrame) -> DataFrame:
    """(doc_id, bk) band frame → distinct candidate pairs — shared by
    the exact path and the hot-bucket-capped path so the two differ
    ONLY in which band rows enter the self-join."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(b, F.col("a.bk") == F.col("b.bk"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .distinct()
    )


def _band_candidates_capped(
    sigs: DataFrame, max_band_collisions: int
) -> DataFrame:
    """Candidate pairs with HOT BUCKETS EXCLUDED — the batch form of
    neardup_stream's ``max_band_collisions`` guard: a band key shared
    by more than the cap many docs is dropped from candidate
    generation entirely, bounding the self-join's per-key fan-out at
    cnt² ≤ cap² instead of the unbounded worst case (boilerplate/junk
    signatures — the content a quality filter drops anyway). Recall
    vs the exact join is MEASURED by dedup_lsh_capped_recall; the
    bucket-mass distribution that prices the cap is
    lsh_bucket_skew_profile. At 100 TB set the cap at a high
    percentile (e.g. p99.9) of that profile's bucket sizes.

    Scale: the hot-key set is one map-combinable count over the band
    frame, bounded by #buckets-over-cap (tiny by construction — hot
    buckets are the tail), and the exclusion is a left-anti join AQE
    broadcasts."""
    bands = _band_frame(sigs)
    hot = (
        bands.groupBy("bk")
        .agg(F.count("*").alias("n"))
        .where(F.col("n") > max_band_collisions)
        .select("bk")
    )
    return _pairs_of_bands(bands.join(hot, "bk", "left_anti"))


_HASHED_SQL = """
    SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
    FROM (SELECT doc_id, unnest(sh) AS t FROM shingled)
"""

_SIGS_SQL = (
    "SELECT doc_id, count(*) AS n_shingles, "
    + ", ".join(
        f"min(({MINHASH_A[k]} * h + {MINHASH_B[k]}) % {MINHASH_P}) AS m{k}"
        for k in range(MINHASH_K)
    )
    + " FROM hashed GROUP BY doc_id"
)

_BANDS_SQL = f"""
    SELECT doc_id, u.band,
           CASE u.band {' '.join(
               f"WHEN {b} THEN " + " || '|' || ".join(
                   f"m{b * LSH_ROWS + r}::VARCHAR" for r in range(LSH_ROWS))
               for b in range(LSH_BANDS))} END AS sig
    FROM sigs CROSS JOIN unnest(range(0, {LSH_BANDS})) AS u(band)
"""

_HSETS_SQL = "SELECT doc_id, list_distinct(list(h)) AS hs FROM hashed GROUP BY doc_id"

_MINHASH_CTES = f"""shingled AS ({_SHINGLE_SQL}),
    hashed AS ({_HASHED_SQL}),
    sigs AS ({_SIGS_SQL}),
    hsets AS ({_HSETS_SQL}),
    bands AS ({_BANDS_SQL})"""


# --------------------------------------------------------------------------
# dedup_exact — hash-groupBy exact duplicate detection.
# --------------------------------------------------------------------------
# Scale: one shuffle on the 128-bit hash — at 100 TB this is the
# canonical first dedup pass, and the hash key is uniformly distributed
# so there is no skew.
dedup_exact = query_sql(
    "dedup_exact",
    """
    SELECT md5(text)    AS fingerprint,
           count(*)     AS n_copies,
           min(doc_id)  AS keep_doc_id
    FROM {documents}
    GROUP BY md5(text)
    ORDER BY fingerprint
    """,
)


# --------------------------------------------------------------------------
# dedup_minhash_lsh — MinHash signatures → LSH banding → verified pairs.
# --------------------------------------------------------------------------
_JACC_SQL = (
    "len(list_intersect(x.hs, y.hs)) * 1.0 / "
    "(len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))"
)

_MINHASH_PAIRS_CTE = f"""
    {_MINHASH_CTES},
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    ),
    pairs AS (
        SELECT c.a_id, c.b_id
        FROM cand c
        JOIN hsets x ON c.a_id = x.doc_id
        JOIN hsets y ON c.b_id = y.doc_id
        WHERE {_JACC_SQL} >= {JACCARD_THRESHOLD}
    )
"""

def _minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered verified near-dup pairs (a_id, b_id, jaccard).

    Scale: signatures + hash sketches are ONE map-only Arrow pass over
    text, cached (~500 B/doc); the band self-join and the verify joins
    all read that cached frame, so text is scanned exactly once and the
    only shuffles are the candidate equi-join (fan-out bounded by real
    collisions) and the two sketch lookups. No all-pairs stage, no
    second pass over raw text — the exact-Jaccard verify intersects
    32-bit hash sets instead of shingle strings (identical result,
    modulo md5 collisions the oracle shares by construction).
    """
    sigs = _pinned_sigs(spark, sf_dir)
    return _verify_jaccard(sigs, _band_candidates(sigs))


def _verify_jaccard(sigs: DataFrame, cand: DataFrame) -> DataFrame:
    """Candidate pairs → exact-Jaccard-verified pairs over the docs'
    cached hash sets — THE one verify step, shared by the exact and
    hot-bucket-capped candidate paths (so the capped-recall grade
    measures only the candidate generation, never a second verify
    definition)."""
    x = sigs.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("hs_a"))
    y = sigs.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jacc = inter * F.lit(1.0) / (F.size("hs_a") + F.size("hs_b") - inter)
    return (
        cand.join(x, "a_id")
        .join(y, "b_id")
        .where(jacc >= JACCARD_THRESHOLD)
        .select("a_id", "b_id", F.round(jacc, 6).alias("jaccard"))
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_MINHASH_CTES},
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id, round({_JACC_SQL}, 6) AS jaccard
    FROM cand c
    JOIN hsets x ON c.a_id = x.doc_id
    JOIN hsets y ON c.b_id = y.doc_id
    WHERE {_JACC_SQL} >= {JACCARD_THRESHOLD}
    ORDER BY a_id, b_id
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs: MinHash(k=12) → 4 bands × 3 rows → candidate
    equi-join on band signature → Jaccard verify ≥ 0.5 over the docs'
    distinct shingle-hash sets (see _minhash_pairs for the scale
    design)."""
    return _minhash_pairs(spark, sf_dir).orderBy("a_id", "b_id")


# --------------------------------------------------------------------------
# dedup_clusters — transitive closure of near-dup pairs → representatives.
# --------------------------------------------------------------------------
# Transitive-closure CTEs over a `pairs(a_id, b_id)` relation:
# undirected edges → recursive reach → min-label per member. The ONE
# copy of the connected-components shape every cluster oracle composes
# (dedup_clusters, the quality pick, similarity's semantic actions) —
# a change to the closure semantics lands in all of them or none.
_CLOSURE_CTES = """edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (SELECT u AS ldoc, min(v) AS cluster_rep FROM reach GROUP BY u)"""


@query(
    "dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    {_CLOSURE_CTES}
    SELECT ldoc AS doc_id, cluster_rep,
           CASE WHEN ldoc = cluster_rep THEN 'keep' ELSE 'drop' END AS action
    FROM labels
    ORDER BY doc_id
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: transitive closure over the
    MinHash-verified pair graph; every member maps to the cluster's
    minimum doc_id, and only the representative survives ('keep').

    Spark side is iterative min-label propagation (the standard
    large-scale connected-components loop): each round joins labels
    across edges and keeps the elementwise min, until a fixpoint. At
    100 TB each round is one shuffle on the node id; round count is
    the cluster diameter (tiny for dedup graphs — duplicate clusters
    are cliques or near-cliques from the band join). The oracle states
    the same closure as a recursive CTE.
    """
    labels = closure_labels(spark, _minhash_pairs(spark, sf_dir))
    return labels.select(
        F.col("u").alias("doc_id"),
        F.col("label").alias("cluster_rep"),
        F.when(F.col("u") == F.col("label"), "keep").otherwise("drop").alias("action"),
    ).orderBy("doc_id")


SMALL_GRAPH_PAIRS = 100_000


def closure_labels(spark: SparkSession, pairs: DataFrame) -> DataFrame:
    """(a_id, b_id) pair frame → (u, label) connected-component labels
    (label = component's min id) — THE transitive-closure step shared
    by dedup_clusters, its quality-pick variant and the embedding-side
    semantic dedup.

    Materializes the pair graph EXACTLY ONCE (persist + count runs the
    expensive candidate join a single time; both branches read the
    cache) and releases it before returning. Pair sets are the SMALL
    output of LSH (≈0.1% of corpus): below SMALL_GRAPH_PAIRS a
    driver-side union-find beats N shuffle rounds; above it the
    distributed min-label loop keeps everything off the driver.
    """
    # both branches materialize what they need from the pair cache
    # (the collect, or the checkpointed label fixpoint) inside the block
    with held(pairs.select("a_id", "b_id"), fill=False) as pairs:
        if pairs.count() > SMALL_GRAPH_PAIRS:
            # 100 TB path: pairs stay distributed, min-label loop over
            # the cached edge set — never through driver memory.
            return _propagate_labels_distributed(pairs)
        # the collect reads the cache, bounded by construction
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for r in pairs.collect():
            for n in (r.a_id, r.b_id):
                parent.setdefault(n, n)
            ra, rb = find(r.a_id), find(r.b_id)
            if ra != rb:  # union by min so the representative is min id
                parent[max(ra, rb)] = min(ra, rb)
    return spark.createDataFrame(
        [(n, find(n)) for n in parent], "u LONG, label LONG"
    )


def _propagate_labels_distributed(pairs: DataFrame) -> DataFrame:
    """Iterative min-label propagation (large-scale connected
    components): one shuffle on the node id per round; rounds bounded
    by cluster diameter. Used when the pair graph exceeds
    SMALL_GRAPH_PAIRS. The per-round label cache is swapped by hand
    (each round's frame is persisted before the previous one is
    dropped), the one lifecycle `held` cannot express; every live
    generation is released on every exit path, exceptions included."""
    with held(
        pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")).unionAll(
            pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
        ),
        fill=False,
    ) as edges:
        labels = edges.select("u").distinct().withColumn("label", F.col("u")).persist()
        try:
            while True:
                neighbor_min = (
                    edges.join(labels.withColumnRenamed("u", "v"), "v")
                    .groupBy("u")
                    .agg(F.min("label").alias("nmin"))
                )
                old = labels
                labels = (
                    old.join(neighbor_min, "u", "left")
                    .select("u", F.least("label", F.coalesce("nmin", "label")).alias("label"))
                    .persist()
                )
                try:
                    changed = (
                        labels.alias("n")
                        .join(old.alias("o"), "u")
                        .where(F.col("n.label") != F.col("o.label"))
                        .count()
                    )
                finally:
                    old.unpersist()
                if changed == 0:
                    break
            # hand back a lineage-truncated snapshot and release the
            # loop's cache: the caller gets materialized data without
            # this function pinning a node-cardinality cache for the
            # session lifetime (the snapshot's blocks are reclaimed by
            # the ContextCleaner when the caller drops the frame)
            return labels.localCheckpoint(eager=True)
        finally:
            labels.unpersist()


# --------------------------------------------------------------------------
# minhash_band_profile — signature/bucket profile (always-nonempty check
# that both engines compute identical signatures).
# --------------------------------------------------------------------------
@query(
    "minhash_band_profile",
    oracle=f"""
    WITH shingled AS ({_SHINGLE_SQL}),
    hashed AS ({_HASHED_SQL}),
    sigs AS ({_SIGS_SQL})
    SELECT doc_id, n_shingles, m0 AS h0, m{MINHASH_K - 1} AS h_last
    FROM sigs
    ORDER BY doc_id
    """,
)
def minhash_band_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc MinHash signature endpoints — pins the signature
    computation itself (not just surviving pairs) to the oracle."""
    sigs = _scan_sigs(spark, sf_dir)
    return sigs.select(
        "doc_id",
        "n_shingles",
        F.col("m0").alias("h0"),
        F.col(f"m{MINHASH_K - 1}").alias("h_last"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_simhash — 16-bit SimHash signature per document.
# --------------------------------------------------------------------------
_SIMHASH_SUM_SQL = ", ".join(
    f"sum((((hv >> {j}) & 1) * 2 - 1)) AS s{j}" for j in range(SIMHASH_BITS)
)
_SIMHASH_FOLD_SQL = " + ".join(
    f"(CASE WHEN s{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END)" for j in range(SIMHASH_BITS)
)

@query(
    "doc_simhash",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id,
               unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                     for i in range(1, len(toks) - 1)])) AS t
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 3),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok),
    s AS (SELECT doc_id, {_SIMHASH_SUM_SQL} FROM h GROUP BY doc_id)
    SELECT doc_id, {_SIMHASH_FOLD_SQL} AS simhash
    FROM s
    ORDER BY doc_id
    """,
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash over word-3-gram shingle features: per shingle
    take 60 bits of md5, vote ±1 per bit position, fold sign votes
    into the signature. Shingles (not unigrams) because distinctive
    features are what make SimHash discriminate.

    Same Arrow per-doc kernel as MinHash (see _minhash_sigs): the
    signature is map-only with no shuffle; Python md5 is bit-identical
    to the oracle's md5, and the ±1 vote/fold is exact int math."""
    return _simhash_sigs(spark, sf_dir).orderBy("doc_id")


def _simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered (doc_id, simhash) — the frame callers persist/join."""
    import hashlib

    import numpy as np
    import pandas as pd

    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)

    md5 = hashlib.md5

    def fn(batches):
        for pdf in batches:
            out_ids, out_sigs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sh = _py_shingles(text)
                if sh is None:
                    continue
                # 15 hex chars = 60 bits: hexdigest()[:15] ==
                # ('0x'||substr(md5,1,15))::BIGINT in both engines.
                hvs = np.fromiter(
                    (int(md5(s.encode()).hexdigest()[:15], 16) for s in sh),
                    dtype=np.int64,
                    count=len(sh),
                )
                bits = (hvs[:, None] >> bit_idx[None, :]) & 1   # (n, 32)
                votes = (2 * bits - 1).sum(axis=0)
                sig = int(((votes > 0).astype(np.int64) << bit_idx).sum())
                out_ids.append(doc_id)
                out_sigs.append(sig)
            if out_ids:
                yield pd.DataFrame({"doc_id": out_ids, "simhash": out_sigs})

    return widen_for_kernel(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ).mapInPandas(fn, "doc_id long, simhash long")


# --------------------------------------------------------------------------
# dedup_simhash_pairs — near-dup pairs via pigeonhole block join.
# --------------------------------------------------------------------------
_SIMHASH_CTE = f"""
    tok AS (
        SELECT doc_id,
               unnest(list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                     for i in range(1, len(toks) - 1)])) AS t
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 3),
    h AS (SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS hv FROM tok),
    s AS (SELECT doc_id, {_SIMHASH_SUM_SQL} FROM h GROUP BY doc_id),
    sig AS (SELECT doc_id, {_SIMHASH_FOLD_SQL} AS simhash FROM s)
"""

@query(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE},
    blocks AS (
        SELECT doc_id, simhash, u.blk,
               (simhash >> (u.blk * 8)) & 255 AS blk_val
        FROM sig CROSS JOIN unnest(range(0, {SIMHASH_BLOCKS})) AS u(blk)
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
               a.simhash AS sim_a, b.simhash AS sim_b
        FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.blk_val = b.blk_val
        WHERE a.doc_id < b.doc_id
    )
    SELECT a_id, b_id, bit_count(xor(sim_a, sim_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sim_a, sim_b)) <= {SIMHASH_HAMMING_MAX}
    ORDER BY a_id, b_id
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ 3, candidates from the
    pigeonhole block join: 32 bits in 4 blocks of 8 — any pair within
    hamming 3 shares at least one identical block, so candidates come
    from an equi-join on (block_idx, block_value), never a cross join."""
    # persist: both sides of the block self-join reference the simhash
    # kernel — cache the UNordered frame (no sort exchange), compute once.
    sig = pin("simhash_sigs", _simhash_sigs(spark, sf_dir), fill=True)
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(blk).alias("blk"),
                        F.shiftright("simhash", blk * 8).bitwiseAND(255).alias("blk_val"),
                    )
                    for blk in range(SIMHASH_BLOCKS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.blk", "b.blk_val")
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.blk_val") == F.col("b.blk_val")))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    return (
        cand.where(hamming <= SIMHASH_HAMMING_MAX)
        .select("a_id", "b_id", hamming.alias("hamming"))
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# dedup_ngram_jaccard — brute-force baseline on a bounded slice.
# --------------------------------------------------------------------------
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH shingled AS ({_SHINGLE_SQL.replace("FROM documents", "FROM documents")}),
    sliced AS (SELECT * FROM shingled WHERE doc_id < 150)
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(len(list_filter(a.sh, s -> list_contains(b.sh, s))) * 1.0 /
                 (len(a.sh) + len(b.sh)
                  - len(list_filter(a.sh, s -> list_contains(b.sh, s)))), 6) AS jaccard
    FROM sliced a JOIN sliced b ON a.doc_id < b.doc_id
    WHERE len(list_filter(a.sh, s -> list_contains(b.sh, s))) * 1.0 /
          (len(a.sh) + len(b.sh)
           - len(list_filter(a.sh, s -> list_contains(b.sh, s)))) >= 0.02
    ORDER BY a_id, b_id
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs 3-gram Jaccard on doc_id < 150 — the brute-force
    ground truth the LSH operators are validated against. Bounded slice
    on purpose: the all-pairs formulation is O(n²) and is NOT the
    100 TB path (dedup_minhash_lsh is)."""
    sh = _shingled(spark, sf_dir).where(F.col("doc_id") < 150)
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jacc = inter * F.lit(1.0) / (F.size("sh_a") + F.size("sh_b") - inter)
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .where(jacc >= 0.02)
        .select("a_id", "b_id", F.round(jacc, 6).alias("jaccard"))
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# dedup_jaccard_prefix_join — EXACT set-similarity join via prefix
# filtering (the PPJoin/SSJoin family) — the exact counterpart to
# MinHash: zero false negatives, candidates bounded by rare-token
# prefixes instead of probabilistic bands.
# --------------------------------------------------------------------------
PPJ_TAU_NUM, PPJ_TAU_DEN = 3, 5  # τ = 0.6, kept rational so every
# prefix-length / threshold comparison is INTEGER arithmetic — a float
# τ·n lands on values like 24.000000000000004 whose ceil silently
# shortens the prefix below the guarantee.


@query(
    "dedup_jaccard_prefix_join",
    oracle=f"""
    WITH shingled AS ({_SHINGLE_SQL})
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           round(len(list_filter(a.sh, s -> list_contains(b.sh, s))) * 1.0 /
                 (len(a.sh) + len(b.sh)
                  - len(list_filter(a.sh, s -> list_contains(b.sh, s)))), 6)
               AS jaccard
    FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
    WHERE {PPJ_TAU_DEN + PPJ_TAU_NUM} * len(list_filter(a.sh, s -> list_contains(b.sh, s)))
          >= {PPJ_TAU_NUM} * (len(a.sh) + len(b.sh))
    ORDER BY a_id, b_id
    """,
)
def dedup_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram-Jaccard ≥ 0.6 similarity join over the WHOLE corpus
    — no slice, no probabilistic bands — via prefix filtering (the
    SSJoin/PPJoin family, Chaudhuri et al. ICDE'06 / Xiao et al.
    WWW'08): order every document's shingles by a global total order
    (rarest first), keep only the first |s| − ⌈τ·|s|⌉ + 1 as the
    document's PREFIX, and equi-join prefixes — the theorem is that
    any pair with J ≥ τ shares a prefix token under ANY shared total
    order, so verifying exact Jaccard on prefix-join candidates loses
    nothing. This is the exact path where dedup_minhash_lsh is the
    approximate one; the oracle is the full O(n²) exact join, so a
    single missed pair fails the gate.

    Scale: the O(n²) never materializes — candidates are pairs
    sharing a RARE token (frequency-ordered prefixes put the
    heavy-hitter shingles at the back, where ⌈τ·|s|⌉ − 1 of them are
    pruned), plus the length filter (τ·|b| ≤ |a|) cuts cross-size
    pairs before the pair ever forms. Shuffle keys are xxhash64 of
    the shingle (8 B, VERDICT-r4 item-7 pattern), never the ~25 B
    string; the per-document prefix sort orders by (df, h) alone
    after an in-query injectivity proof (a per-hash min/max string
    witness reduced map-side — see _prefix_jaccard_pairs), falling
    back to the string tiebreak only if a 64-bit collision is
    actually observed, so the shared total order the theorem needs
    holds under ANY vocabulary. Shuffles:
    df-count + join-back on the hash (Zipf-ish — AQE skew split),
    per-doc window on doc_id (uniform, bounded groups), candidate
    self-join on the hash, then one verify join per side against the
    pinned shingle frame. All integer arithmetic for the prefix
    length and threshold (see PPJ_TAU_*); the one float is the
    reported jaccard, computed with the oracle's expression shape.
    Measured at sf0.1 (5000 docs): 193k candidates of 12.5M possible
    pairs (1.5%) → 256 verified survivors — the filter does the O(n²)
    pruning, the bounded verify does the exactness.
    """
    return _prefix_jaccard_pairs(
        spark, sf_dir, PPJ_TAU_NUM, PPJ_TAU_DEN, "ppj_sh"
    ).orderBy("a_id", "b_id")


def _prefix_jaccard_pairs(
    spark: SparkSession,
    sf_dir: str,
    num: int,
    den: int,
    pin_name: str,
    with_counts: bool = False,
    _force_string_order: bool = False,
) -> DataFrame:
    """Exact J ≥ num/den pairs (a_id, b_id, jaccard) over the whole
    corpus via prefix filtering — the parameterized builder behind
    dedup_jaccard_prefix_join (see its docstring for the theorem and
    the scale contract) and the corpus-wide recall harness. All prefix
    and threshold arithmetic is integer (num/den rational), never
    float τ. `with_counts` additionally emits the exact integer
    (n_inter, n_union) so consumers that bucket by Jaccard can do it
    in integer arithmetic (lsh_s_curve) instead of flooring a rounded
    double near a decile boundary."""
    sh = pin(pin_name, _shingled(spark, sf_dir), fill=False)
    sized = sh.select("doc_id", F.size("sh").alias("n"), "sh")
    tok = sized.select(
        "doc_id",
        "n",
        F.explode("sh").alias("t"),
    ).withColumn("h", F.xxhash64("t"))
    # df-count per 64-bit shingle hash, plus a COLLISION WITNESS
    # (min/max of the token string per hash, reduced map-side): the
    # prefix theorem needs one shared TOTAL order over tokens, and
    # (df, h) alone is total iff h is injective on the observed
    # vocabulary. The witness proves it per run instead of assuming it
    # (VERDICT r12 item 4).
    dfreq = pin(
        pin_name + "_dfreq",
        tok.groupBy("h").agg(
            F.count("*").alias("df"),
            F.min("t").alias("_t0"),
            F.max("t").alias("_t1"),
        ),
        fill=False,
    )
    # eager scalar — ALSO materializes the sh and dfreq pins serially,
    # so the main job's many cache readers (prefix build, both verify
    # sides) never race an unfilled cache
    collided = (
        dfreq.agg(
            F.sum((F.col("_t0") != F.col("_t1")).cast("int")).alias("c")
        ).collect()[0]["c"]
        or 0
    )
    from pyspark.sql.window import Window

    if collided or _force_string_order:
        # a 64-bit collision on this corpus (never observed on the
        # tested SFs; _force_string_order exercises this branch in
        # tests): fall back to the string as the final tiebreak —
        # correct under ANY vocabulary, at the cost of carrying the
        # ~25 B shingle string through the per-doc window exchange
        w = Window.partitionBy("doc_id").orderBy("df", "h", "t")
        joined = tok.join(dfreq.select("h", "df"), "h")
    else:
        # injective hash ⟹ (df, h) already totally orders the
        # vocabulary and equals the (df, h, t) order — the shingle
        # string never enters the window exchange or its sort key
        w = Window.partitionBy("doc_id").orderBy("df", "h")
        joined = tok.drop("t").join(dfreq.select("h", "df"), "h")
    # prefix length p = n − ⌈τ·n⌉ + 1, with ⌈(num·n)/den⌉ done as
    # integer (num·n + den − 1) div den
    p = F.col("n") - F.expr(f"({num} * n + {den - 1}) div {den}") + 1
    pref = (
        joined.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= p)
        .select("doc_id", "n", "h")
    )
    # the candidate self-join consumes pref TWICE and aliasing defeats
    # ReuseExchange (the dedup_containment lesson): without this pin
    # the whole tok→window prefix pipeline compiles — and runs — once
    # per side (both Window subtrees visible in plans/r12/
    # lsh_s_curve_after.txt). Filled at once for the join's two
    # concurrent readers.
    pref = pin(pin_name + "_pref", pref, fill=True)
    a = pref.select(
        F.col("doc_id").alias("a_id"), F.col("n").alias("na"), "h"
    )
    b = pref.select(
        F.col("doc_id").alias("b_id"), F.col("n").alias("nb"), "h"
    )
    cand = (
        a.join(b, "h")
        .where(
            (F.col("a_id") < F.col("b_id"))
            # length filter: J ≥ τ ⟹ τ·max(|a|,|b|) ≤ min(|a|,|b|)
            & (den * F.least("na", "nb") >= num * F.greatest("na", "nb"))
        )
        .select("a_id", "b_id")
        .distinct()
    )
    sh_a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
    sh_b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(sh_a, "a_id")
        .join(sh_b, "b_id")
        # integer-exact τ test: o/(na+nb−o) ≥ num/den ⟺
        # (den+num)·o ≥ num·(na+nb)
        .where(
            (den + num) * inter
            >= num * (F.size("sh_a") + F.size("sh_b"))
        )
        .select(
            "a_id",
            "b_id",
            F.round(inter * F.lit(1.0) / union, 6).alias("jaccard"),
            *(
                [
                    inter.cast("bigint").alias("n_inter"),
                    union.cast("bigint").alias("n_union"),
                ]
                if with_counts
                else []
            ),
        )
    )


# --------------------------------------------------------------------------
# dedup_lsh_recall — measured LSH recall/precision vs exact ground truth.
# --------------------------------------------------------------------------
RECALL_SLICE = 400  # bounded all-pairs ground-truth slice


@query(
    "dedup_lsh_recall",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTE},
    sliced AS (SELECT * FROM shingled WHERE doc_id < {RECALL_SLICE}),
    truth AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM sliced a JOIN sliced b ON a.doc_id < b.doc_id
        WHERE len(list_filter(a.sh, s -> list_contains(b.sh, s))) * 1.0 /
              (len(a.sh) + len(b.sh)
               - len(list_filter(a.sh, s -> list_contains(b.sh, s)))) >= {JACCARD_THRESHOLD}
    ),
    lsh AS (SELECT a_id, b_id FROM pairs
            WHERE a_id < {RECALL_SLICE} AND b_id < {RECALL_SLICE})
    SELECT (SELECT count(*) FROM truth)                              AS n_true,
           (SELECT count(*) FROM lsh)                                AS n_lsh,
           (SELECT count(*) FROM truth t JOIN lsh p USING (a_id, b_id)) AS n_hit,
           round((SELECT count(*) FROM truth t JOIN lsh p USING (a_id, b_id)) * 1.0
                 / greatest((SELECT count(*) FROM truth), 1), 6)     AS recall,
           round((SELECT count(*) FROM truth t JOIN lsh p USING (a_id, b_id)) * 1.0
                 / greatest((SELECT count(*) FROM lsh), 1), 6)       AS precision
    """,
)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall/precision of the MinHash-LSH pair detector
    against exact all-pairs Jaccard ground truth on a bounded slice
    (doc_id < 400) — the harness that justifies trusting LSH at scales
    where ground truth is uncomputable. The approximate path is graded,
    not assumed: band/row counts (4×3) were chosen so P(miss) is
    negligible at the 0.5 threshold, and this query proves it on data.
    """
    with held(
        _shingled(spark, sf_dir).where(F.col("doc_id") < RECALL_SLICE), fill=True
    ) as sh:
        a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("sh_a"))
        b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        jacc = inter * F.lit(1.0) / (F.size("sh_a") + F.size("sh_b") - inter)
        truth = (
            a.join(b, F.col("a_id") < F.col("b_id"))
            .where(jacc >= JACCARD_THRESHOLD)
            .select("a_id", "b_id")
        )
        lsh = (
            _minhash_pairs(spark, sf_dir)
            .where((F.col("a_id") < RECALL_SLICE) & (F.col("b_id") < RECALL_SLICE))
            .select("a_id", "b_id")
        )
        # ONE job for all three counts: a full-outer join of truth and lsh
        # classifies every pair as hit / miss / false-positive in a single
        # pass — separate count() actions would re-execute the O(slice²)
        # truth self-join and the band-join plan twice each (the recall
        # harness's dominant cost; same pattern as ann_lsh_recall).
        row = (
            truth.withColumn("_t", F.lit(1))
            .join(lsh.withColumn("_l", F.lit(1)), ["a_id", "b_id"], "full_outer")
            .agg(
                F.count("_t").alias("n_true"),
                F.count("_l").alias("n_lsh"),
                F.count(F.when(F.col("_t").isNotNull() & F.col("_l").isNotNull(), 1)).alias(
                    "n_hit"
                ),
            )
            .collect()[0]
        )
    return _recall_row(spark, row)


def _recall_row(spark: SparkSession, row) -> DataFrame:
    """(n_true, n_lsh, n_hit, recall, precision) as a 1-row frame with
    the ratios rounded IN SPARK — Python's round() is banker's
    rounding, so an exact half-tie (e.g. 1/128 = 0.0078125) rounds to
    ...12 on the driver but ...13 in both engines' SQL round; keeping
    the rounding in the engine preserves the oracle parity contract."""
    counts = spark.createDataFrame(
        [(int(row.n_true), int(row.n_lsh), int(row.n_hit))],
        "n_true LONG, n_lsh LONG, n_hit LONG",
    )
    return counts.select(
        "n_true",
        "n_lsh",
        "n_hit",
        F.round(
            F.col("n_hit") * 1.0 / F.greatest(F.col("n_true"), F.lit(1)), 6
        ).alias("recall"),
        F.round(
            F.col("n_hit") * 1.0 / F.greatest(F.col("n_lsh"), F.lit(1)), 6
        ).alias("precision"),
    )


# --------------------------------------------------------------------------
# dedup_lsh_recall_full — WHOLE-CORPUS LSH recall, graded against the
# prefix-filter exact join (no slice bound).
# --------------------------------------------------------------------------
RECALL_FULL_NUM, RECALL_FULL_DEN = 1, 2  # τ = JACCARD_THRESHOLD = 0.5


@query(
    "dedup_lsh_recall_full",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTE},
    truth AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
        WHERE {RECALL_FULL_DEN + RECALL_FULL_NUM}
                  * len(list_filter(a.sh, s -> list_contains(b.sh, s)))
              >= {RECALL_FULL_NUM} * (len(a.sh) + len(b.sh))
    )
    SELECT (SELECT count(*) FROM truth)                              AS n_true,
           (SELECT count(*) FROM pairs)                              AS n_lsh,
           (SELECT count(*) FROM truth t JOIN pairs p USING (a_id, b_id)) AS n_hit,
           round((SELECT count(*) FROM truth t JOIN pairs p USING (a_id, b_id)) * 1.0
                 / greatest((SELECT count(*) FROM truth), 1), 6)     AS recall,
           round((SELECT count(*) FROM truth t JOIN pairs p USING (a_id, b_id)) * 1.0
                 / greatest((SELECT count(*) FROM pairs), 1), 6)     AS precision
    """,
)
def dedup_lsh_recall_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHOLE-CORPUS recall/precision of the MinHash-LSH pair detector —
    dedup_lsh_recall without its doc_id < {RECALL_SLICE} slice, which
    existed only because exact ground truth used to require the O(n²)
    self-join. The prefix-filter exact join (dedup_jaccard_prefix_join's
    builder, here at τ = {RECALL_FULL_NUM}/{RECALL_FULL_DEN} to match
    JACCARD_THRESHOLD) computes corpus-wide truth with candidates
    bounded by rare-token prefixes, so the harness now grades LSH on
    every pair it will actually face — including the band-collision
    and truncated-sketch edge cases a 400-doc slice can miss.

    Disagreements are the MEASUREMENT, not a bug: truth is raw-shingle
    Jaccard (exact); the detector verifies on its 32-bit hash SKETCH
    sets (dedup_minhash_lsh's serving semantics, boundary-J pairs can
    land either side) after probabilistic band candidacy. Scale: both
    sides are bounded-candidate equi-join plans; the final full-outer
    classification is one pass over two pair sets (the
    dedup_lsh_recall pattern — one job for all three counts).
    """
    truth = _prefix_jaccard_pairs(
        spark, sf_dir, RECALL_FULL_NUM, RECALL_FULL_DEN, "ppj_sh_half"
    ).select("a_id", "b_id")
    lsh = _minhash_pairs(spark, sf_dir).select("a_id", "b_id")
    row = (
        truth.withColumn("_t", F.lit(1))
        .join(lsh.withColumn("_l", F.lit(1)), ["a_id", "b_id"], "full_outer")
        .agg(
            F.count("_t").alias("n_true"),
            F.count("_l").alias("n_lsh"),
            F.count(
                F.when(F.col("_t").isNotNull() & F.col("_l").isNotNull(), 1)
            ).alias("n_hit"),
        )
        .collect()[0]
    )
    return _recall_row(spark, row)


# --------------------------------------------------------------------------
# snapshot_incremental_dedup — dedup a new snapshot against the indexed
# fingerprints of the prior corpus (batch form of the neardup stream).
# --------------------------------------------------------------------------
@query(
    "snapshot_incremental_dedup",
    oracle="""
    WITH old AS (
        SELECT md5(array_to_string(str_split(text,' ')[1:8], ' ')) AS fp,
               min(doc_id) AS first_doc
        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
    ),
    new AS (
        SELECT doc_id,
               md5(array_to_string(str_split(text,' ')[1:8], ' ')) AS fp
        FROM documents WHERE doc_id % 2 = 1
    )
    SELECT n.doc_id,
           CASE WHEN o.fp IS NULL THEN 'ingest' ELSE 'skip' END AS action,
           o.first_doc AS dup_of
    FROM new n LEFT JOIN old o USING (fp)
    ORDER BY doc_id
    """,
)
def snapshot_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: the NEW snapshot (odd doc_ids here)
    is checked against a fingerprint index built from the PRIOR corpus
    (even doc_ids) — the batch twin of streaming/neardup_stream.

    The fingerprint is the md5 of the first 8 tokens (a canonical-
    prefix key, the URL/boilerplate-prefix dedup shape); matches are
    'skip' with the indexed representative, misses are 'ingest'.

    Scale: the old corpus participates ONLY as its (fp, first_doc)
    index — ~24 B/doc, built once and reusable across snapshots; the
    join is a hash equi-join on a uniformly distributed key, so each
    nightly snapshot costs one scan of the new data plus an index
    lookup, never a rescan of the accumulated 100 TB corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)))
    old = (
        docs.where(F.col("doc_id") % 2 == 0)
        .select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    new = docs.where(F.col("doc_id") % 2 == 1).select("doc_id", fp.alias("fp"))
    return (
        new.join(old, "fp", "left")
        .select(
            "doc_id",
            F.when(F.col("first_doc").isNull(), "ingest")
            .otherwise("skip")
            .alias("action"),
            F.col("first_doc").alias("dup_of"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# dedup_cluster_quality_pick — keep the BEST copy per near-dup cluster.
# --------------------------------------------------------------------------
def _quality_pick_oracle() -> str:
    # composes the shared _CLOSURE_CTES + text._QUALITY_Q_CTE fragments
    # (the single copies of the closure shape and the quality weights)
    from open_pulsar_spark.operators.text import _QUALITY_Q_CTE

    return f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    {_CLOSURE_CTES},
    {_QUALITY_Q_CTE},
    m AS (SELECT ldoc, cluster_rep, quality,
                 -- rank on the 6-dp ROUNDED quality: the Spark side
                 -- composes doc_quality_score, whose output is rounded,
                 -- so both engines must tie-break identically when two
                 -- members round to the same value
                 row_number() OVER (PARTITION BY cluster_rep
                                    ORDER BY round(quality, 6) DESC, ldoc) AS rk,
                 count(*) OVER (PARTITION BY cluster_rep) AS n_members
          FROM labels JOIN q ON q.doc_id = labels.ldoc)
    SELECT cluster_rep, ldoc AS keep_doc_id,
           round(quality, 6) AS keep_quality, n_members
    FROM m WHERE rk = 1 ORDER BY cluster_rep
    """


@query("dedup_cluster_quality_pick", oracle=_quality_pick_oracle())
def dedup_cluster_quality_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters again, but the survivor is the highest-QUALITY
    member (ties → lowest doc_id), not the lowest id: the curation
    policy a real pipeline wants — dedup keeps the best copy, and
    min-id `dedup_clusters` is the degenerate case of this with a
    constant quality.

    Pure composition of two registered operators: the cluster labels
    from dedup_clusters and the score from doc_quality_score join on
    doc_id (one shuffle keyed by doc_id, one window keyed by cluster) —
    at 100 TB both inputs are already-computed artifacts, so the pick
    is a cheap join over cluster-cardinality rows.
    """
    from pyspark.sql import Window

    from open_pulsar_spark.operators.text import doc_quality_score

    labels = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_rep")
    quality = doc_quality_score(spark, sf_dir).select("doc_id", "quality")
    w = Window.partitionBy("cluster_rep").orderBy(
        F.desc("quality"), F.col("doc_id")
    )
    return (
        labels.join(quality, "doc_id")
        .select(
            "cluster_rep",
            "doc_id",
            "quality",
            F.row_number().over(w).alias("rk"),
            F.count("*").over(Window.partitionBy("cluster_rep")).alias("n_members"),
        )
        .where(F.col("rk") == 1)
        .select(
            "cluster_rep",
            F.col("doc_id").alias("keep_doc_id"),
            F.round("quality", 6).alias("keep_quality"),
            "n_members",
        )
        .orderBy("cluster_rep")
    )


# --------------------------------------------------------------------------
# doc_containment_pairs — asymmetric containment over LSH candidates.
# --------------------------------------------------------------------------
CONTAINMENT_THRESHOLD = 0.8


@query(
    "doc_containment_pairs",
    oracle=f"""
    WITH {_MINHASH_CTES},
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           round(len(list_intersect(x.hs, y.hs)) * 1.0 / len(x.hs), 6) AS a_in_b,
           round(len(list_intersect(x.hs, y.hs)) * 1.0 / len(y.hs), 6) AS b_in_a
    FROM cand c
    JOIN hsets x ON c.a_id = x.doc_id
    JOIN hsets y ON c.b_id = y.doc_id
    WHERE len(list_intersect(x.hs, y.hs)) * 1.0 / len(x.hs)
              >= {CONTAINMENT_THRESHOLD}
       OR len(list_intersect(x.hs, y.hs)) * 1.0 / len(y.hs)
              >= {CONTAINMENT_THRESHOLD}
    ORDER BY a_id, b_id
    """,
)
def doc_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric CONTAINMENT (|A∩B|/|A|, both directions) over the
    same LSH candidate pairs the Jaccard dedup verifies — the
    quote/subset detector: a short doc embedded in a long one scores
    high containment but low Jaccard, so symmetric dedup misses it.

    Scale: identical shape to dedup_minhash_lsh (map-only signatures →
    band equi-join → sketch-intersect verify on candidates only); the
    only change is the verify predicate, so the 100 TB posture is
    inherited. Candidates whose high-containment side is the SHORT doc
    are exactly the ones a symmetric threshold filters out.
    """
    sigs = pin("containment_sigs", _scan_sigs(spark, sf_dir), fill=True)
    cand = _band_candidates(sigs)
    x = sigs.select(F.col("doc_id").alias("a_id"), F.col("hs").alias("hs_a"))
    y = sigs.select(F.col("doc_id").alias("b_id"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    a_in_b = inter * F.lit(1.0) / F.size("hs_a")
    b_in_a = inter * F.lit(1.0) / F.size("hs_b")
    return (
        cand.join(x, "a_id")
        .join(y, "b_id")
        .where(
            (a_in_b >= CONTAINMENT_THRESHOLD) | (b_in_a >= CONTAINMENT_THRESHOLD)
        )
        .select(
            "a_id",
            "b_id",
            F.round(a_in_b, 6).alias("a_in_b"),
            F.round(b_in_a, 6).alias("b_in_a"),
        )
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# source_neardup_matrix — which sources near-duplicate each other.
# --------------------------------------------------------------------------
@query(
    "source_neardup_matrix",
    oracle=f"""
    WITH {_MINHASH_PAIRS_CTE}
    SELECT least(da.source, db.source)    AS source_a,
           greatest(da.source, db.source) AS source_b,
           count(*)                       AS n_pairs
    FROM pairs p
    JOIN documents da ON da.doc_id = p.a_id
    JOIN documents db ON db.doc_id = p.b_id
    GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
)
def source_neardup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate counts per (source, source) pair — the
    contamination/provenance diagnostic behind "which feeds copy from
    each other": off-diagonal mass means cross-source duplication a
    per-source dedup would miss entirely.

    Scale: the verified pair set is the SMALL output of LSH (~0.1% of
    corpus); the two provenance lookups shuffle on doc_id (or stay
    local if documents is bucketed on it) and the final matrix is at
    most |sources|² rows. Inherits the band-join posture — no new scan
    of text.
    """
    pairs = _minhash_pairs(spark, sf_dir).select("a_id", "b_id")
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = (
        pairs.join(src.withColumnRenamed("source", "sa"), pairs.a_id == src.doc_id)
        .drop("doc_id")
        .join(
            src.withColumnRenamed("source", "sb").withColumnRenamed("doc_id", "b_key"),
            F.col("b_id") == F.col("b_key"),
        )
    )
    return (
        joined.groupBy(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
        .agg(F.count("*").alias("n_pairs"))
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# dedup_canonical_exact — case/punctuation-insensitive exact dedup.
# --------------------------------------------------------------------------
# The ONE canonicalization rule (engine + SQL): lowercase, strip every
# non-[a-z0-9 ] character, collapse runs of spaces, trim.
_CANON_EXPR = (
    "trim(regexp_replace(regexp_replace(lower({col}),"
    " '[^a-z0-9 ]', ''), ' +', ' '))"
)
_CANON_SQL = (
    "trim(regexp_replace(regexp_replace(lower({col}),"
    " '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))"
)


@query(
    "dedup_canonical_exact",
    oracle=f"""
    WITH c AS (
        SELECT doc_id, md5({_CANON_SQL.format(col='text')}) AS fingerprint,
               md5(text) AS raw_fp
        FROM documents
    )
    SELECT fingerprint,
           count(*)::BIGINT AS n_copies,
           count(DISTINCT raw_fp)::BIGINT AS n_raw_variants,
           min(doc_id) AS keep_doc_id
    FROM c
    GROUP BY fingerprint
    ORDER BY fingerprint
    """,
)
def dedup_canonical_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CANONICALIZED exact dedup — the cheap normalization pass every
    production pipeline runs between byte-exact dedup and minhash:
    lowercase, strip punctuation, collapse whitespace, then hash-group.
    Catches the re-encoded/re-cased/retypeset copies dedup_exact's raw
    fingerprint misses while staying one shuffle (vs minhash's full
    signature pipeline). n_raw_variants > 1 inside a group is the
    interesting signal: genuinely different bytes, identical canonical
    content. Every group is returned (n_copies = 1 rows included) so
    the canonicalization itself — two regex engines agreeing on every
    document — is what the oracle gate checks; the actionable filter
    is a trailing WHERE n_copies > 1 for the consumer.

    Scale: identical posture to dedup_exact — map-side regex
    canonicalize in codegen, one groupBy on the uniformly-distributed
    128-bit hash, no skew. The regex rules live in ONE place
    (_CANON_EXPR/_CANON_SQL) shared with any future canonical pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    c = docs.select(
        "doc_id",
        F.md5(F.expr(_CANON_EXPR.format(col="text"))).alias("fingerprint"),
        F.md5("text").alias("raw_fp"),
    )
    return (
        c.groupBy("fingerprint")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.countDistinct("raw_fp").cast("bigint").alias("n_raw_variants"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("fingerprint")
    )


# --------------------------------------------------------------------------
# paragraph_neardup_* — PARAGRAPH-granularity near-dup: the level at
# which web-corpus boilerplate actually repeats (headers, footers,
# licence blocks shared across otherwise-different documents). Sits
# between doc_repeated_substring_coverage's positional within-corpus
# signal and the whole-doc Jaccard family: a paragraph shared by two
# docs is detected even when the docs' overall Jaccard is far below
# threshold. The synthetic corpus has no newline structure, so
# "paragraphs" are deterministic PARA_W-word blocks (the standard
# normalization when explicit structure is absent); on real data the
# splitter becomes split(text, '\n\n') and nothing else changes.
# --------------------------------------------------------------------------
PARA_W = 20          # words per pseudo-paragraph block
PARA_MIN_TOKS = 5    # trailing blocks under this are tail noise, dropped
PARA_JACCARD = 0.5

_PARA_SIGS_SCHEMA = (
    "doc_id long, par_id int, n_shingles long, "
    + ", ".join(f"m{k} long" for k in range(MINHASH_K))
    + ", hs array<long>"
)


def _para_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → one signature row PER PARAGRAPH BLOCK:
    (doc_id, par_id, n_shingles, m0..m{k-1}, hs). Same Arrow one-pass
    kernel contract as _minhash_sigs (tokenize → block → shingle →
    md5 → k permutations, no shingle arrays materialized), same hash
    family, so the per-paragraph sketches are directly comparable to
    the doc-level ones. Map-only; the ~|doc|/PARA_W fan-out happens
    inside the kernel, never as an explode shuffle."""
    import hashlib

    import numpy as np
    import pandas as pd

    a = np.asarray(MINHASH_A, dtype=np.int64)[:, None]
    b = np.asarray(MINHASH_B, dtype=np.int64)[:, None]
    cols = (
        ["doc_id", "par_id", "n_shingles"]
        + [f"m{k}" for k in range(MINHASH_K)]
        + ["hs"]
    )
    md5 = hashlib.md5
    from_bytes = int.from_bytes

    def fn(batches):
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                toks = text.split(" ")
                for i in range(0, len(toks), PARA_W):
                    blk = toks[i : i + PARA_W]
                    if len(blk) < PARA_MIN_TOKS:
                        continue
                    sh = {
                        " ".join(blk[j : j + 3]) for j in range(len(blk) - 2)
                    }
                    hs = np.fromiter(
                        (
                            from_bytes(md5(s.encode()).digest()[:4], "big")
                            for s in sh
                        ),
                        dtype=np.int64,
                        count=len(sh),
                    )
                    mins = ((a * hs[None, :] + b) % MINHASH_P).min(axis=1)
                    rows.append(
                        (doc_id, i // PARA_W, len(sh), *mins.tolist(), np.unique(hs))
                    )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    return docs.select("doc_id", "text").mapInPandas(fn, _PARA_SIGS_SCHEMA)


def _pinned_para_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paragraph signature frame under a KEYED pin, shared by the
    paragraph pairs and the skew profile (the _pinned_sigs contract);
    filled at once: the pairs query self-joins it."""
    return pin_keyed(
        "para_sigs",
        sf_dir,
        lambda: _para_sigs(
            widen_for_kernel(
                load_table(spark, sf_dir, "documents").select("doc_id", "text")
            )
        ),
        fill=True,
    )


def _para_band_frame(sigs: DataFrame) -> DataFrame:
    """(doc_id, par_id, m0..mk) → exploded (doc_id, par_id, bk) — the
    paragraph-granularity twin of _band_frame (same xxhash64 band-key
    collapse, same collision argument), factored out so the skew
    profile diagnoses the exact band keys the candidate join uses."""
    return sigs.select(
        "doc_id",
        "par_id",
        F.explode(
            F.array(
                *[
                    F.xxhash64(
                        F.lit(b),
                        *[F.col(f"m{b * LSH_ROWS + r}") for r in range(LSH_ROWS)],
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("bk"),
    )


def _para_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified CROSS-DOC paragraph near-dup pairs
    (a_id, a_par, b_id, b_par, jaccard ≥ PARA_JACCARD).

    Scale — the doc-level minhash posture, one granularity down:
    signatures are ONE map-only Arrow pass (pinned, ~|corpus|/PARA_W
    sketch rows); banding collapses each band to an 8-byte xxhash64
    key; the candidate self-join is a banded equi-join whose fan-out
    is bounded by real collisions (never all-pairs); verification
    intersects the cached 32-bit hash sets — text is scanned exactly
    once. Within-doc matches are excluded (a_id < b_id): internal
    repetition is doc_repeated_spans' job; this query is the
    cross-document boilerplate detector."""
    sigs = _pinned_para_sigs(spark, sf_dir)
    bands = _para_band_frame(sigs)
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, F.col("a.bk") == F.col("b.bk"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("a_id"),
            F.col("a.par_id").alias("a_par"),
            F.col("b.doc_id").alias("b_id"),
            F.col("b.par_id").alias("b_par"),
        )
        .distinct()
    )
    x = sigs.select(
        F.col("doc_id").alias("a_id"),
        F.col("par_id").alias("a_par"),
        F.col("hs").alias("hs_a"),
    )
    y = sigs.select(
        F.col("doc_id").alias("b_id"),
        F.col("par_id").alias("b_par"),
        F.col("hs").alias("hs_b"),
    )
    inter = F.size(F.array_intersect("hs_a", "hs_b"))
    jacc = inter * F.lit(1.0) / (F.size("hs_a") + F.size("hs_b") - inter)
    return (
        cand.join(x, ["a_id", "a_par"])
        .join(y, ["b_id", "b_par"])
        .where(jacc >= PARA_JACCARD)
        .select("a_id", "a_par", "b_id", "b_par", F.round(jacc, 6).alias("jaccard"))
    )


_PARA_SHINGLE_SQL = f"""
    SELECT doc_id, par_id,
           list_distinct([b[i] || ' ' || b[i+1] || ' ' || b[i+2]
                          for i in range(1, len(b) - 1)]) AS sh
    FROM (
        SELECT doc_id, par_id,
               list_slice(toks, par_id * {PARA_W} + 1,
                          least((par_id + 1) * {PARA_W}, len(toks))) AS b
        FROM (
            SELECT doc_id,
                   unnest(range(0, (len(toks) + {PARA_W} - 1) // {PARA_W}))::INT
                       AS par_id,
                   toks
            FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)))
    WHERE len(b) >= {PARA_MIN_TOKS}
"""

_PARA_SIGS_SQL = (
    "SELECT doc_id, par_id, "
    + ", ".join(
        f"min(({MINHASH_A[k]} * h + {MINHASH_B[k]}) % {MINHASH_P}) AS m{k}"
        for k in range(MINHASH_K)
    )
    + " FROM phashed GROUP BY doc_id, par_id"
)

_PARA_BANDS_SQL = f"""
    SELECT doc_id, par_id, u.band,
           CASE u.band {' '.join(
               f"WHEN {b} THEN " + " || '|' || ".join(
                   f"m{b * LSH_ROWS + r}::VARCHAR" for r in range(LSH_ROWS))
               for b in range(LSH_BANDS))} END AS sig
    FROM psigs CROSS JOIN unnest(range(0, {LSH_BANDS})) AS u(band)
"""

_PARA_JACC_SQL = (
    "len(list_intersect(x.hs, y.hs)) * 1.0 / "
    "(len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))"
)

_PARA_HASHED_SQL = """
        SELECT doc_id, par_id, ('0x' || substr(md5(t), 1, 8))::BIGINT AS h
        FROM (SELECT doc_id, par_id, unnest(sh) AS t FROM pshingled)"""

# pshingled → pbands: the paragraph banding pipeline WITHOUT the
# verify CTEs — shared by the pair oracle below and the band-key skew
# profile (which must diagnose the exact keys the candidate join uses)
_PARA_BANDS_CTES = f"""pshingled AS ({_PARA_SHINGLE_SQL}),
    phashed AS ({_PARA_HASHED_SQL}),
    psigs AS ({_PARA_SIGS_SQL}),
    pbands AS ({_PARA_BANDS_SQL})"""

_PARA_PAIRS_CTE = f"""pshingled AS ({_PARA_SHINGLE_SQL}),
    phashed AS ({_PARA_HASHED_SQL}),
    psigs AS ({_PARA_SIGS_SQL}),
    phsets AS (
        SELECT doc_id, par_id, list_distinct(list(h)) AS hs
        FROM phashed GROUP BY doc_id, par_id),
    pbands AS ({_PARA_BANDS_SQL}),
    pcand AS (
        SELECT DISTINCT a.doc_id AS a_id, a.par_id AS a_par,
                        b.doc_id AS b_id, b.par_id AS b_par
        FROM pbands a JOIN pbands b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id),
    ppairs AS (
        SELECT c.a_id, c.a_par, c.b_id, c.b_par,
               round({_PARA_JACC_SQL}, 6) AS jaccard
        FROM pcand c
        JOIN phsets x ON c.a_id = x.doc_id AND c.a_par = x.par_id
        JOIN phsets y ON c.b_id = y.doc_id AND c.b_par = y.par_id
        WHERE {_PARA_JACC_SQL} >= {PARA_JACCARD})"""


@query(
    "paragraph_neardup_pairs",
    oracle=f"""
    WITH {_PARA_PAIRS_CTE}
    SELECT a_id, a_par, b_id, b_par, jaccard
    FROM ppairs
    ORDER BY a_id, a_par, b_id, b_par
    """,
)
def paragraph_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document near-duplicate PARAGRAPHS: {PARA_W}-word blocks
    minhashed ({MINHASH_K} perms → {LSH_BANDS} bands), banded
    candidates verified at block Jaccard ≥ {PARA_JACCARD} — the
    boilerplate detector (see _para_pairs for the scale design)."""
    return _para_pairs(spark, sf_dir).orderBy("a_id", "a_par", "b_id", "b_par")


@query(
    "paragraph_neardup_doc_clusters",
    oracle=f"""
    WITH RECURSIVE {_PARA_PAIRS_CTE},
    pairs AS (SELECT DISTINCT a_id, b_id FROM ppairs),
    {_CLOSURE_CTES}
    SELECT ldoc AS doc_id, cluster_rep,
           CASE WHEN ldoc = cluster_rep THEN 'keep' ELSE 'drop' END AS action
    FROM labels
    ORDER BY doc_id
    """,
)
def paragraph_neardup_doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents clustered by SHARED-PARAGRAPH connectivity: the
    transitive closure (closure_labels — driver union-find under 100k
    pairs, distributed min-label above) over docs linked by at least
    one verified near-dup paragraph. Catches boilerplate families
    whole-doc Jaccard misses: two docs sharing only a licence block
    land in one cluster here while dedup_clusters keeps them apart.
    The action column marks the min-id representative 'keep' — the
    curation decision is template-family review, not blind dropping."""
    pairs = _para_pairs(spark, sf_dir).select("a_id", "b_id").distinct()
    labels = closure_labels(spark, pairs)
    return labels.select(
        F.col("u").alias("doc_id"),
        F.col("label").alias("cluster_rep"),
        F.when(F.col("u") == F.col("label"), "keep").otherwise("drop").alias("action"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# lsh_bucket_skew_profile — per-band-key candidate-mass diagnosis for the
# three batch LSH families (the events_key_skew_profile treatment applied
# to the band keys the candidate self-joins actually shuffle on).
# --------------------------------------------------------------------------
def _bucket_profile_arm(cte: str, family: str) -> str:
    """One family's profile SELECT over a (cnt) bucket-count CTE."""
    mass = "sum((cnt * (cnt - 1)) // 2)"
    top10 = (
        f"(SELECT {mass} FROM "
        f"(SELECT cnt FROM {cte} ORDER BY cnt DESC LIMIT 10))"
    )
    return f"""SELECT '{family}' AS family,
           count(*)::BIGINT AS n_buckets,
           sum(cnt)::BIGINT AS n_items,
           quantile_cont(cnt, 0.5) AS p50_sz,
           quantile_cont(cnt, 0.99) AS p99_sz,
           max(cnt)::BIGINT AS max_sz,
           ({mass}::HUGEINT)::VARCHAR AS cand_pairs,
           round({top10} * 1.0 / nullif({mass}, 0), 6) AS top10_mass_share
    FROM {cte}"""


def _lsh_profile_oracle() -> str:
    from open_pulsar_spark.operators.similarity import _BUCKET_SQL

    return f"""
    WITH {_MINHASH_CTES},
    {_PARA_BANDS_CTES},
    mh AS (SELECT count(*)::BIGINT AS cnt FROM bands GROUP BY band, sig),
    pb AS (SELECT count(*)::BIGINT AS cnt FROM pbands GROUP BY band, sig),
    em AS (SELECT count(*)::BIGINT AS cnt
           FROM (SELECT {_BUCKET_SQL} AS bucket FROM embeddings)
           GROUP BY bucket)
    {_bucket_profile_arm('mh', 'minhash_band')}
    UNION ALL {_bucket_profile_arm('pb', 'paragraph_band')}
    UNION ALL {_bucket_profile_arm('em', 'sign_bucket')}
    ORDER BY family
    """


def _bucket_profile(counts: DataFrame, family: str) -> DataFrame:
    """(cnt) bucket sizes → the 1-row skew profile: bucket-count
    percentiles, the largest bucket, total candidate-pair mass
    Σ cnt·(cnt−1)/2 (the rows the banded self-join will emit), and the
    share of that mass held by the ten heaviest buckets — the numbers
    that price a hot-bucket cap (_band_candidates_capped /
    neardup_stream's max_band_collisions) before committing to one.

    Per-bucket pair counts use BIGINT (exact to cnt ≤ 3·10⁹ — a single
    bucket beyond that has already failed any sane cap and this
    profile exists to flag it long before); the SUM runs in
    DECIMAL(38,0) and leaves the query as exact digit STRINGs on both
    engines (>2^63-capable counters never carry DECIMAL in a final
    schema — the round-7 driver-hash contract).
    Top-10 tie-safety: mass is monotone in cnt, so the top-10 SUM is
    invariant to which tied boundary buckets are chosen.

    The bucket-count frame is pinned: the eager top-10 scalar below is
    its single first consumer (TakeOrdered reads every partition, so
    the fill is complete and serialized), and without the pin the
    returned profile frame RECOMPUTED the whole band groupBy pipeline
    a second time at collect (r13; the part_copurchase_triangles
    build-then-recompute class)."""
    counts = pin(f"bucket_profile_{family}", counts, fill=False)
    pair_mass = F.sum(F.expr("(cnt * (cnt - 1)) div 2")).cast("decimal(38,0)")
    top10 = (
        counts.orderBy(F.desc("cnt"))
        .limit(10)
        .agg(pair_mass.alias("s"))
        .first()
        .s
    )
    top10_lit = (
        F.lit(int(top10)).cast("decimal(38,0)")
        if top10 is not None
        else F.lit(None).cast("decimal(38,0)")
    )
    return (
        counts.agg(
            F.count("*").cast("bigint").alias("n_buckets"),
            F.sum("cnt").cast("bigint").alias("n_items"),
            F.expr("percentile(cnt, 0.5)").alias("p50_sz"),
            F.expr("percentile(cnt, 0.99)").alias("p99_sz"),
            F.max("cnt").cast("bigint").alias("max_sz"),
            pair_mass.alias("cand_pairs"),
            F.when(
                pair_mass > 0,
                F.round(top10_lit * F.lit(1.0) / pair_mass, 6),
            ).alias("top10_mass_share"),
        )
        .select(
            F.lit(family).alias("family"),
            "n_buckets",
            "n_items",
            "p50_sz",
            "p99_sz",
            "max_sz",
            F.col("cand_pairs").cast("string").alias("cand_pairs"),
            "top10_mass_share",
        )
    )


@query("lsh_bucket_skew_profile", oracle=_lsh_profile_oracle())
def lsh_bucket_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-key SKEW diagnosis for every batch LSH candidate join —
    doc-level minhash bands (_band_frame), paragraph minhash bands
    (_para_band_frame) and the embedding sign buckets
    (similarity._tagged_corpus) — one row per family with bucket-size
    percentiles, the max bucket, the total candidate-pair mass
    Σ cnt·(cnt−1)/2 and the top-10-bucket share of it. This is the
    diagnosis; _band_candidates_capped (graded by
    dedup_lsh_capped_recall) and neardup_stream's max_band_collisions
    are the treatment — at 100 TB, read this profile first, then set
    the cap at a high percentile of the bucket sizes.

    Scale: each family is ONE map-combinable count over its band/tag
    frame (the signature kernels are the same pinned frames the pair
    queries read — no second text/embedding scan), then O(#buckets)
    aggregates; the top-10 cut is TakeOrdered. The exact-percentile
    buffer holds per-bucket counts — at 100 TB switch to
    percentile_approx (the events_key_skew_profile precedent).

    Band-key parity caveat: Spark groups by the xxhash64-collapsed
    key the joins shuffle on; the oracle groups by the exact
    (band, sig) pair. A 64-bit collision would merge two buckets and
    diverge the profile — probability ~n²/2⁶⁵, the same accepted
    argument as _band_frame itself."""
    from open_pulsar_spark.operators.similarity import _tagged_corpus

    sigs = _pinned_sigs(spark, sf_dir)
    mh = _band_frame(sigs).groupBy("bk").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    psigs = _pinned_para_sigs(spark, sf_dir)
    pb = _para_band_frame(psigs).groupBy("bk").agg(
        F.count("*").cast("bigint").alias("cnt")
    )
    em = (
        _tagged_corpus(
            load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        )
        .groupBy("bucket")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return (
        _bucket_profile(mh, "minhash_band")
        .unionByName(_bucket_profile(pb, "paragraph_band"))
        .unionByName(_bucket_profile(em, "sign_bucket"))
        .orderBy("family")
    )


# --------------------------------------------------------------------------
# dedup_lsh_capped_recall — the hot-bucket cap, GRADED against the exact
# banded join (the dedup_lsh_recall_full treatment applied to the cap).
# --------------------------------------------------------------------------
BAND_CAP = 2  # bites at test scale; at 100 TB pick from the skew profile


@query(
    "dedup_lsh_capped_recall",
    oracle=f"""
    WITH {_MINHASH_CTES},
    hot AS (SELECT band, sig FROM bands
            GROUP BY band, sig HAVING count(*) > {BAND_CAP}),
    kept AS (SELECT b.* FROM bands b
             ANTI JOIN hot h ON b.band = h.band AND b.sig = h.sig),
    ccand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM kept a JOIN kept b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id),
    cpairs AS (
        SELECT c.a_id, c.b_id FROM ccand c
        JOIN hsets x ON c.a_id = x.doc_id
        JOIN hsets y ON c.b_id = y.doc_id
        WHERE {_JACC_SQL} >= {JACCARD_THRESHOLD}),
    fcand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id),
    fpairs AS (
        SELECT c.a_id, c.b_id FROM fcand c
        JOIN hsets x ON c.a_id = x.doc_id
        JOIN hsets y ON c.b_id = y.doc_id
        WHERE {_JACC_SQL} >= {JACCARD_THRESHOLD})
    SELECT {BAND_CAP} AS band_cap,
           (SELECT count(*) FROM cpairs)::BIGINT AS n_capped_pairs,
           (SELECT count(*) FROM fpairs)::BIGINT AS n_exact_pairs,
           round((SELECT count(*) FROM cpairs) * 1.0
                 / nullif((SELECT count(*) FROM fpairs), 0), 6) AS recall
    """,
)
def dedup_lsh_capped_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-bucket candidate cap, GRADED: verified near-dup pairs
    found with buckets over {BAND_CAP} docs excluded
    (_band_candidates_capped) vs the exact banded join — the measured
    price of the skew guard, so the cap is an engineering decision
    with a recall number attached, never a silent truncation. The cap
    can only LOSE pairs (capped ⊆ exact, shared _verify_jaccard), so
    one count ratio IS the recall.

    Scale: both paths read the ONE pinned signature frame; the exact
    path is the same plan as dedup_minhash_lsh; the capped path adds
    one map-combinable bucket count + an AQE-broadcast anti-join and
    bounds the self-join fan-out at cap² per key — the plan that
    survives a degenerate boilerplate bucket the exact path cannot."""
    sigs = _pinned_sigs(spark, sf_dir)
    exact = _verify_jaccard(sigs, _band_candidates(sigs))
    capped = _verify_jaccard(sigs, _band_candidates_capped(sigs, BAND_CAP))
    c = capped.agg(F.count("*").cast("bigint").alias("n_capped_pairs"))
    e = exact.agg(F.count("*").cast("bigint").alias("n_exact_pairs"))
    return c.crossJoin(e).select(
        F.lit(BAND_CAP).alias("band_cap"),
        "n_capped_pairs",
        "n_exact_pairs",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.round(
                F.col("n_capped_pairs") * F.lit(1.0) / F.col("n_exact_pairs"), 6
            ),
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# lsh_s_curve — MEASURED banding catch probability per true-Jaccard decile
# vs the analytic 1−(1−J^r)^b curve (the (b, r) tuning readout).
# --------------------------------------------------------------------------
SCURVE_NUM, SCURVE_DEN = 3, 10  # truth floor τ_min = 0.3 (below threshold
#                                 on purpose: the S-curve's interesting
#                                 region straddles JACCARD_THRESHOLD)


def _scurve_theory_ppm(bucket: int) -> int:
    """Analytic catch probability 1−(1−J^r)^b at the bucket midpoint
    (J = 1.0 for the exact-dup bucket 10), on the ppm grid. A pure
    Python literal shared into BOTH engines' plans."""
    j = 1.0 if bucket == 10 else (bucket + 0.5) / 10.0
    return round((1.0 - (1.0 - j**LSH_ROWS) ** LSH_BANDS) * 1_000_000)


_SCURVE_BUCKETS = list(range(SCURVE_NUM, 11))  # floor(10·J) for J ∈ [0.3, 1]


def _scurve_oracle() -> str:
    spine = ", ".join(
        f"({b}, {_scurve_theory_ppm(b)})" for b in _SCURVE_BUCKETS
    )
    o = "len(list_filter(a.sh, s -> list_contains(b.sh, s)))"
    return f"""
    WITH {_MINHASH_CTES},
    truth AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id,
               {o}::BIGINT AS n_inter,
               (len(a.sh) + len(b.sh) - {o})::BIGINT AS n_union
        FROM shingled a JOIN shingled b ON a.doc_id < b.doc_id
        WHERE {SCURVE_DEN + SCURVE_NUM} * {o}
              >= {SCURVE_NUM} * (len(a.sh) + len(b.sh))),
    cand AS (
        SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig
        WHERE a.doc_id < b.doc_id),
    bk AS (
        SELECT least(10, (10 * t.n_inter) // t.n_union)::INT AS j_bucket,
               CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS caught
        FROM truth t LEFT JOIN cand c USING (a_id, b_id)),
    agg AS (
        SELECT j_bucket, count(*)::BIGINT AS n_true,
               sum(caught)::BIGINT AS n_caught
        FROM bk GROUP BY j_bucket)
    SELECT s.j_bucket, s.theory_ppm,
           coalesce(a.n_true, 0)::BIGINT AS n_true,
           coalesce(a.n_caught, 0)::BIGINT AS n_caught,
           CASE WHEN a.n_true > 0
                THEN (a.n_caught * 1000000 // a.n_true)::BIGINT
           END AS catch_ppm
    FROM (VALUES {spine}) s(j_bucket, theory_ppm)
    LEFT JOIN agg a USING (j_bucket)
    ORDER BY s.j_bucket
    """


@query("lsh_s_curve", oracle=_scurve_oracle())
def lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MEASURED LSH S-curve: for each true-Jaccard decile from
    {SCURVE_NUM}/{SCURVE_DEN} up, the fraction of exact pairs the
    {LSH_BANDS}-band × {LSH_ROWS}-row banding emits as CANDIDATES,
    next to the analytic 1−(1−J^r)^b at the bucket midpoint — the
    readout that tunes (b, r) before committing an index build:
    dedup_lsh_recall_full grades the detector at its own threshold;
    this grades candidacy across the threshold (sub-0.5 buckets show
    what a lower τ WOULD catch without re-running anything).

    Determinism: truth comes from the prefix-filter exact join at
    τ_min = {SCURVE_NUM}/{SCURVE_DEN} carrying exact integer
    (n_inter, n_union); the decile is least(10, (10·o) div u) —
    integer floor, never a rounded double near a decile boundary (the
    theory column is a shared Python literal in both plans).

    Scale: truth candidates are prefix-bounded (never O(n²)); the
    banding side is the same bounded candidate equi-join every dedup
    query uses; the classification join runs pair-set-sized and the
    output is ≤ 8 rows."""
    truth = _prefix_jaccard_pairs(
        spark, sf_dir, SCURVE_NUM, SCURVE_DEN, "ppj_sh_scurve",
        with_counts=True,
    )
    sigs = _pinned_sigs(spark, sf_dir)
    cand = _band_candidates(sigs).withColumn("caught", F.lit(1))
    agg = (
        truth.join(cand, ["a_id", "b_id"], "left")
        .groupBy(
            F.least(
                F.lit(10), F.expr("(10 * n_inter) div n_union")
            )
            .cast("int")
            .alias("j_bucket")
        )
        .agg(
            F.count("*").cast("bigint").alias("n_true"),
            F.sum(F.coalesce("caught", F.lit(0)))
            .cast("bigint")
            .alias("n_caught"),
        )
    )
    spine = spark.createDataFrame(
        [(b, _scurve_theory_ppm(b)) for b in _SCURVE_BUCKETS],
        "j_bucket INT, theory_ppm BIGINT",
    )
    return (
        spine.join(agg, "j_bucket", "left")
        .select(
            "j_bucket",
            "theory_ppm",
            F.coalesce("n_true", F.lit(0)).cast("bigint").alias("n_true"),
            F.coalesce("n_caught", F.lit(0)).cast("bigint").alias("n_caught"),
            F.when(
                F.col("n_true") > 0,
                F.expr("cast(n_caught * 1000000 div n_true as bigint)"),
            ).alias("catch_ppm"),
        )
        .orderBy("j_bucket")
    )


# --------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken MOSS) — POSITIONAL
# local fingerprinting: any shared run of ≥ WINNOW_GUARANTEE tokens is
# GUARANTEED to share a fingerprint (minhash gives only a probability,
# and only for whole-doc similarity).
# --------------------------------------------------------------------------
WINNOW_K = 3   # token k-grams (the corpus shingle width)
WINNOW_W = 4   # window of consecutive gram hashes per fingerprint
WINNOW_GUARANTEE = WINNOW_W + WINNOW_K - 1  # shared run length that MUST match
WINNOW_MIN_SHARED = 3  # fingerprints two docs must share to pair


def _winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scan entry point for _winnow_fps_of, under a KEYED pin:
    three registry queries read the fingerprint frame (the per-doc
    profile, the overlap pairs, the capped recall) — first build per
    (session, sf_dir), the rest reuse. The streaming ledger calls the
    docs-frame form directly on micro-batches."""
    return pin_keyed(
        "winnow_fps",
        sf_dir,
        lambda: _winnow_fps_of(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ),
        fill=True,
    )


def _winnow_fps_of(docs: DataFrame) -> DataFrame:
    """(doc_id, h, fpos, n_windows) — each doc's winnowed fingerprint
    set: position-ordered k-gram hashes, one fingerprint per length-W
    window = the window's min hash (rightmost occurrence on ties — the
    MOSS rule), deduped across overlapping windows. THE one winnowing
    computation, shared by the batch queries and the streaming
    fingerprint index so the two cannot select differently (a doc's
    set is a pure function of its text — the idempotent fold class).

    Scale: grams explode MAP-SIDE from the token array (one projection,
    no shuffle); the min-per-window is ONE per-doc window pass (docs
    are partition keys — bounded groups); the rightmost-tie resolution
    is a W-offset equi-join back to the gram frame (never a range
    join). Everything is keyed by doc_id, so no global hot key exists;
    selected density is ~2/(W+1) of grams, so the fingerprint frame is
    ~2.4 B/token."""
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("a")
    ).withColumn("n", F.size("a"))
    grams = (
        toks.where(F.col("n") >= WINNOW_K + WINNOW_W - 1)
        .select(
            "doc_id",
            (F.col("n") - WINNOW_K + 1).alias("n_g"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, n - {WINNOW_K}),"
                    " i -> concat_ws(' ', "
                    + ", ".join(
                        f"element_at(a, i + {j + 1})"
                        for j in range(WINNOW_K)
                    )
                    + "))"
                )
            ).alias("pos", "gram"),
        )
        .select(
            "doc_id",
            "n_g",
            "pos",
            F.conv(F.substring(F.md5("gram"), 1, 8), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    )
    grams = pin("winnow_grams", grams, fill=True)
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        0, WINNOW_W - 1
    )
    starts = (
        grams.withColumn("mn", F.min("h").over(w))
        .where(F.col("pos") <= F.col("n_g") - WINNOW_W)
        .select("doc_id", F.col("pos").alias("s"), "mn", "n_g")
    )
    off = starts.select(
        "doc_id",
        "s",
        "mn",
        "n_g",
        F.explode(
            F.expr(f"sequence(cast(0 as int), cast({WINNOW_W - 1} as int))")
        ).alias("off"),
    ).withColumn("p_pos", F.col("s") + F.col("off"))
    sel = (
        off.join(
            grams.select("doc_id", F.col("pos").alias("p_pos"), "h"),
            ["doc_id", "p_pos"],
        )
        .where(F.col("h") == F.col("mn"))
        .groupBy("doc_id", "s", "mn", "n_g")
        .agg(F.max("p_pos").alias("fpos"))
    )
    return sel.select(
        "doc_id",
        F.col("mn").alias("h"),
        "fpos",
        (F.col("n_g") - WINNOW_W + 1).alias("n_windows"),
    ).distinct()


_WINNOW_FPS_CTES = f"""wtoks AS (
        SELECT doc_id, str_split(text, ' ') AS a, len(str_split(text, ' ')) AS n
        FROM documents),
    wgrams AS (
        SELECT doc_id, (n - {WINNOW_K} + 1)::BIGINT AS n_g, u.pos::BIGINT AS pos,
               ('0x' || substr(md5({
                   " || ' ' || ".join(
                       f"a[u.pos + {j + 1}]" for j in range(WINNOW_K)
                   )
               }), 1, 8))::BIGINT AS h
        FROM wtoks CROSS JOIN unnest(range(0, n - {WINNOW_K} + 1)) AS u(pos)
        WHERE n >= {WINNOW_K + WINNOW_W - 1}),
    wstarts AS (
        SELECT doc_id, pos AS s, n_g,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW
                            AND {WINNOW_W - 1} FOLLOWING) AS mn
        FROM wgrams),
    wsel AS (
        SELECT st.doc_id, st.s, st.mn, st.n_g, max(g.pos) AS fpos
        FROM (SELECT * FROM wstarts WHERE s <= n_g - {WINNOW_W}) st
        JOIN wgrams g ON g.doc_id = st.doc_id
                     AND g.pos BETWEEN st.s AND st.s + {WINNOW_W - 1}
                     AND g.h = st.mn
        GROUP BY st.doc_id, st.s, st.mn, st.n_g),
    wfps AS (
        SELECT DISTINCT doc_id, mn AS h, fpos,
               (n_g - {WINNOW_W} + 1)::BIGINT AS n_windows
        FROM wsel)"""


@query(
    "doc_winnowing_fingerprints",
    oracle=f"""
    WITH {_WINNOW_FPS_CTES}
    SELECT doc_id, max(n_windows)::BIGINT AS n_windows,
           count(*)::BIGINT AS n_fp,
           (count(*) * 1000000 // max(n_windows))::BIGINT AS density_ppm
    FROM wfps
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document WINNOWING fingerprint profile (MOSS:
    token {WINNOW_K}-gram hashes → min of each {WINNOW_W}-window,
    rightmost on ties, deduped): fingerprint count and selected
    density vs the window count. Expected density is ~2/(w+1) ≈ 0.4 —
    the guarantee the whole scheme buys is POSITIONAL: any shared
    token run of ≥ {WINNOW_GUARANTEE} tokens between two documents
    shares at least one fingerprint DETERMINISTICALLY, where minhash
    offers only a probability and only at whole-document granularity.

    Scale: see _winnow_fps — map-side gram explode, one per-doc window
    pass, a {WINNOW_W}-offset equi-join; all keyed by doc_id."""
    fps = _winnow_fps(spark, sf_dir)
    return (
        fps.groupBy("doc_id")
        .agg(
            F.max("n_windows").cast("bigint").alias("n_windows"),
            F.count("*").cast("bigint").alias("n_fp"),
            F.expr(
                "cast(count(*) * 1000000 div max(n_windows) as bigint)"
            ).alias("density_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    "winnowing_overlap_pairs",
    oracle=f"""
    WITH {_WINNOW_FPS_CTES}
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           count(DISTINCT a.h)::BIGINT AS n_shared
    FROM (SELECT DISTINCT doc_id, h FROM wfps) a
    JOIN (SELECT DISTINCT doc_id, h FROM wfps) b
      ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(DISTINCT a.h) >= {WINNOW_MIN_SHARED}
    ORDER BY a_id, b_id
    """,
)
def winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs sharing ≥ {WINNOW_MIN_SHARED} winnowing
    fingerprints — the LOCAL-overlap detector (quotes, plagiarized
    passages, shared boilerplate runs) sitting between
    doc_containment_pairs (asymmetric whole-set) and
    paragraph_neardup_pairs (fixed blocks): winnowing guarantees any
    shared run of ≥ {WINNOW_GUARANTEE} tokens surfaces, positions
    intact, without choosing a block boundary.

    Scale: the join is an equi-join on the fingerprint hash —
    fan-out bounded by real content overlap, the same
    collision-bounded argument as every banded family here, and the
    same hot-bucket treatment applies if boilerplate concentrates one
    hash (lsh_bucket_skew_profile's contract; a HAVING-style cap
    would mirror _band_candidates_capped)."""
    fps = _winnow_fps(spark, sf_dir).select("doc_id", "h").distinct()
    a = fps.select(F.col("doc_id").alias("a_id"), "h")
    b = fps.select(F.col("doc_id").alias("b_id"), "h")
    return (
        a.join(b, "h")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.countDistinct("h").cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .orderBy("a_id", "b_id")
    )


# --------------------------------------------------------------------------
# winnowing_capped_recall — the hot-fingerprint cap for the winnowing
# overlap join, GRADED (the dedup_lsh_capped_recall treatment applied to
# document-frequency-capped fingerprints).
# --------------------------------------------------------------------------
WINNOW_DF_CAP = 2  # bites at test scale (keeps 21/25 pairs, recall 0.84, at sf0.01); at
#                     100 TB read the df distribution first, as with BAND_CAP


@query(
    "winnowing_capped_recall",
    oracle=f"""
    WITH {_WINNOW_FPS_CTES},
    fp AS (SELECT DISTINCT doc_id, h FROM wfps),
    hot AS (SELECT h FROM fp GROUP BY h
            HAVING count(*) > {WINNOW_DF_CAP}),
    kept AS (SELECT f.* FROM fp f ANTI JOIN hot USING (h)),
    cpairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(DISTINCT a.h) >= {WINNOW_MIN_SHARED}),
    fpairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(DISTINCT a.h) >= {WINNOW_MIN_SHARED})
    SELECT {WINNOW_DF_CAP} AS df_cap,
           (SELECT count(*) FROM cpairs)::BIGINT AS n_capped_pairs,
           (SELECT count(*) FROM fpairs)::BIGINT AS n_exact_pairs,
           round((SELECT count(*) FROM cpairs) * 1.0
                 / nullif((SELECT count(*) FROM fpairs), 0), 6) AS recall
    """,
)
def winnowing_capped_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The winnowing overlap join's hot-fingerprint cap, GRADED:
    pairs found after dropping fingerprints shared by more than
    {WINNOW_DF_CAP} documents (corpus-wide boilerplate runs — licence
    headers, templates — whose equi-join fan-out grows as df²) vs the
    exact join. The df-capped candidate set can only LOSE pairs, so
    the count ratio is the recall — the same deliberate, priced
    truncation as dedup_lsh_capped_recall, applied to the positional
    family (and what the docstring of winnowing_overlap_pairs
    promised). At 100 TB set the cap from the fingerprint
    document-frequency distribution the same way the band cap reads
    lsh_bucket_skew_profile.

    Scale: the hot set is one map-combinable count over the
    fingerprint frame (bounded by #fingerprints-over-cap — the
    boilerplate tail), excluded via an AQE-broadcast anti-join; both
    pair joins are the bounded hash equi-joins of the base query."""
    fps = _winnow_fps(spark, sf_dir).select("doc_id", "h").distinct()
    fps = pin("winnow_fp_capped", fps, fill=True)
    hot = (
        fps.groupBy("h")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") > WINNOW_DF_CAP)
        .select("h")
    )
    kept = fps.join(hot, "h", "left_anti")

    def pairs_of(f: DataFrame) -> DataFrame:
        a = f.select(F.col("doc_id").alias("a_id"), "h")
        b = f.select(F.col("doc_id").alias("b_id"), "h")
        return (
            a.join(b, "h")
            .where(F.col("a_id") < F.col("b_id"))
            .groupBy("a_id", "b_id")
            .agg(F.countDistinct("h").alias("n_shared"))
            .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
        )

    c = pairs_of(kept).agg(
        F.count("*").cast("bigint").alias("n_capped_pairs")
    )
    e = pairs_of(fps).agg(F.count("*").cast("bigint").alias("n_exact_pairs"))
    return c.crossJoin(e).select(
        F.lit(WINNOW_DF_CAP).alias("df_cap"),
        "n_capped_pairs",
        "n_exact_pairs",
        F.when(
            F.col("n_exact_pairs") > 0,
            F.round(
                F.col("n_capped_pairs") * F.lit(1.0) / F.col("n_exact_pairs"),
                6,
            ),
        ).alias("recall"),
    )


@query(
    "winnowing_shared_runs",
    oracle=f"""
    WITH {_WINNOW_FPS_CTES},
    fp AS (SELECT DISTINCT doc_id, h, fpos FROM wfps),
    fph AS (SELECT DISTINCT doc_id, h FROM wfps),
    pairsq AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(DISTINCT a.h) >= {WINNOW_MIN_SHARED}),
    sh AS (
        SELECT DISTINCT p.a_id, p.b_id, a.fpos AS pa,
               (a.fpos - b.fpos) AS delta
        FROM pairsq p
        JOIN fp a ON a.doc_id = p.a_id
        JOIN fp b ON b.doc_id = p.b_id AND b.h = a.h),
    rn AS (
        SELECT a_id, b_id, delta, pa,
               CASE WHEN pa - lag(pa) OVER (
                        PARTITION BY a_id, b_id, delta ORDER BY pa)
                        > {WINNOW_GUARANTEE}
                    THEN 1 ELSE 0 END AS brk
        FROM sh),
    runs AS (
        SELECT a_id, b_id, delta, pa,
               sum(brk) OVER (PARTITION BY a_id, b_id, delta ORDER BY pa
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM rn),
    per_run AS (
        SELECT a_id, b_id, delta, run_id, count(*)::BIGINT AS n_fp,
               (max(pa) - min(pa) + {WINNOW_K})::BIGINT AS span
        FROM runs GROUP BY a_id, b_id, delta, run_id)
    SELECT a_id, b_id, count(*)::BIGINT AS n_runs,
           max(span)::BIGINT AS longest_run_tokens,
           sum(span)::BIGINT AS aligned_tokens,
           sum(n_fp)::BIGINT AS n_aligned_fp
    FROM per_run GROUP BY a_id, b_id
    ORDER BY a_id, b_id
    """,
)
def winnowing_shared_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-LENGTH profile for every winnowing overlap pair: the
    shared fingerprints carry POSITIONS (fpos), so each pair's overlap
    decomposes into aligned runs — groups of shared fingerprints at a
    constant positional offset (delta = fpos_a − fpos_b; a verbatim
    quote keeps one delta for its whole length), split where the gap
    between consecutive aligned fingerprints exceeds
    {WINNOW_GUARANTEE} (inside a contiguous shared run the winnowing
    guarantee keeps selected fingerprints ≤ {WINNOW_W} grams apart;
    the run boundary adds ≤ {WINNOW_K}−1). Per pair: how many distinct
    quoted blocks, the longest one in tokens (gram span + {WINNOW_K}),
    total aligned tokens and fingerprint mass — turning
    winnowing_overlap_pairs' yes/no detector into the trim-pass
    work-list (which pairs share a licence header vs a wholesale
    copied section), the positional answer doc_containment_pairs
    (set-level) cannot give.

    Scale: the pair gate and the position join are the same
    hash-equi-joins as winnowing_overlap_pairs (fan-out bounded by
    real content overlap; the df cap applies upstream if boilerplate
    concentrates a hash); the run windows partition by
    (pair, delta) — millions of tiny groups, never a global window.
    All integer arithmetic."""
    fps = _winnow_fps(spark, sf_dir)
    fp = fps.select("doc_id", "h", "fpos").distinct()
    fph = fp.select("doc_id", "h").distinct()
    a = fph.select(F.col("doc_id").alias("a_id"), "h")
    b = fph.select(F.col("doc_id").alias("b_id"), "h")
    pairsq = (
        a.join(b, "h")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.countDistinct("h").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .select("a_id", "b_id")
    )
    fa = fp.select(
        F.col("doc_id").alias("a_id"), "h", F.col("fpos").alias("pa")
    )
    fb = fp.select(
        F.col("doc_id").alias("b_id"), "h", F.col("fpos").alias("pb")
    )
    sh = (
        pairsq.join(fa, "a_id")
        .join(fb, ["b_id", "h"])
        .select("a_id", "b_id", "pa", (F.col("pa") - F.col("pb")).alias("delta"))
        .distinct()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("a_id", "b_id", "delta").orderBy("pa")
    runs = sh.withColumn(
        "brk",
        F.when(
            F.col("pa") - F.lag("pa").over(w) > WINNOW_GUARANTEE, 1
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    per_run = runs.groupBy("a_id", "b_id", "delta", "run_id").agg(
        F.count("*").cast("bigint").alias("n_fp"),
        (F.max("pa") - F.min("pa") + F.lit(WINNOW_K))
        .cast("bigint")
        .alias("span"),
    )
    return (
        per_run.groupBy("a_id", "b_id")
        .agg(
            F.count("*").cast("bigint").alias("n_runs"),
            F.max("span").cast("bigint").alias("longest_run_tokens"),
            F.sum("span").cast("bigint").alias("aligned_tokens"),
            F.sum("n_fp").cast("bigint").alias("n_aligned_fp"),
        )
        .orderBy("a_id", "b_id")
    )


@query(
    "winnowing_cross_source_matrix",
    oracle=f"""
    WITH {_WINNOW_FPS_CTES},
    fp AS (SELECT DISTINCT doc_id, h, fpos FROM wfps),
    fph AS (SELECT DISTINCT doc_id, h FROM wfps),
    pairsq AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id
        FROM fph a JOIN fph b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING count(DISTINCT a.h) >= {WINNOW_MIN_SHARED}),
    sh AS (
        SELECT DISTINCT p.a_id, p.b_id, a.fpos AS pa,
               (a.fpos - b.fpos) AS delta
        FROM pairsq p
        JOIN fp a ON a.doc_id = p.a_id
        JOIN fp b ON b.doc_id = p.b_id AND b.h = a.h),
    rn AS (
        SELECT a_id, b_id, delta, pa,
               CASE WHEN pa - lag(pa) OVER (
                        PARTITION BY a_id, b_id, delta ORDER BY pa)
                        > {WINNOW_GUARANTEE}
                    THEN 1 ELSE 0 END AS brk
        FROM sh),
    runs AS (
        SELECT a_id, b_id, delta, pa,
               sum(brk) OVER (PARTITION BY a_id, b_id, delta ORDER BY pa
                              ROWS UNBOUNDED PRECEDING) AS run_id
        FROM rn),
    per_run AS (
        SELECT a_id, b_id,
               (max(pa) - min(pa) + {WINNOW_K})::BIGINT AS span
        FROM runs GROUP BY a_id, b_id, delta, run_id),
    per_pair AS (
        SELECT a_id, b_id, sum(span)::BIGINT AS aligned_tokens,
               max(span)::BIGINT AS longest_run
        FROM per_run GROUP BY a_id, b_id),
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(sa.source, sb.source) AS source_a,
           greatest(sa.source, sb.source) AS source_b,
           count(*)::BIGINT AS n_pairs,
           sum(p.aligned_tokens)::BIGINT AS aligned_tokens,
           max(p.longest_run)::BIGINT AS longest_run_tokens
    FROM per_pair p
    JOIN src sa ON sa.doc_id = p.a_id
    JOIN src sb ON sb.doc_id = p.b_id
    GROUP BY 1, 2
    ORDER BY source_a, source_b
    """,
)
def winnowing_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quote-run PROVENANCE matrix: the winnowing shared-run profile
    rolled up to (source, source) — which source pairs exchange
    verbatim runs, how much aligned text flows between them, and the
    longest single run per pair of sources. The positional companion
    to source_neardup_matrix (whole-doc similarity): that says two
    sources publish near-identical documents; this catches the
    subtler cross-source QUOTING (syndication, shared licence blocks,
    scraped mirrors embedding fragments) that never crosses a
    whole-doc threshold, with the token mass that a trim pass would
    reclaim per source relationship. Same-source pairs appear on the
    diagonal — the within-source boilerplate load.

    Determinism and scale: identical to winnowing_shared_runs (this
    IS its per-run frame — same pins, same equi-joins, same
    (pair, delta) windows) plus two broadcastable doc→source lookups
    and a |sources|² -bounded rollup."""
    fps = _winnow_fps(spark, sf_dir)
    fp = fps.select("doc_id", "h", "fpos").distinct()
    fph = fp.select("doc_id", "h").distinct()
    a = fph.select(F.col("doc_id").alias("a_id"), "h")
    b = fph.select(F.col("doc_id").alias("b_id"), "h")
    pairsq = (
        a.join(b, "h")
        .where(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id")
        .agg(F.countDistinct("h").alias("n_shared"))
        .where(F.col("n_shared") >= WINNOW_MIN_SHARED)
        .select("a_id", "b_id")
    )
    fa = fp.select(
        F.col("doc_id").alias("a_id"), "h", F.col("fpos").alias("pa")
    )
    fb = fp.select(
        F.col("doc_id").alias("b_id"), "h", F.col("fpos").alias("pb")
    )
    sh = (
        pairsq.join(fa, "a_id")
        .join(fb, ["b_id", "h"])
        .select(
            "a_id", "b_id", "pa", (F.col("pa") - F.col("pb")).alias("delta")
        )
        .distinct()
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("a_id", "b_id", "delta").orderBy("pa")
    runs = sh.withColumn(
        "brk",
        F.when(
            F.col("pa") - F.lag("pa").over(w) > WINNOW_GUARANTEE, 1
        ).otherwise(0),
    ).withColumn(
        "run_id",
        F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)),
    )
    per_run = runs.groupBy("a_id", "b_id", "delta", "run_id").agg(
        (F.max("pa") - F.min("pa") + F.lit(WINNOW_K))
        .cast("bigint")
        .alias("span")
    )
    per_pair = per_run.groupBy("a_id", "b_id").agg(
        F.sum("span").cast("bigint").alias("aligned_tokens"),
        F.max("span").cast("bigint").alias("longest_run"),
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("a_id"), F.col("source").alias("src_a"))
    sb = src.select(F.col("doc_id").alias("b_id"), F.col("source").alias("src_b"))
    return (
        per_pair.join(sa, "a_id")
        .join(sb, "b_id")
        .select(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
            "aligned_tokens",
            "longest_run",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum("aligned_tokens").cast("bigint").alias("aligned_tokens"),
            F.max("longest_run").cast("bigint").alias("longest_run_tokens"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# doc_boilerplate_coverage — C4-style EXACT repeated-block screen: the
# df-thresholded twin of the paragraph NEAR-dup family.
# --------------------------------------------------------------------------
BOILER_DF_SHARED = 2  # block seen in ≥2 docs: shared content
BOILER_DF_RULE = 3    # the C4 line rule: drop content seen in ≥3 docs


@query(
    "doc_boilerplate_coverage",
    oracle=f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr
               FROM documents),
    b AS (
        SELECT doc_id, g.i AS block_id,
               md5(array_to_string(
                   list_slice(t.arr, g.i * {PARA_W} + 1,
                              g.i * {PARA_W} + {PARA_W}), ' ')) AS h
        FROM t, LATERAL (SELECT unnest(generate_series(0,
                             len(t.arr) // {PARA_W})) AS i) g
        WHERE g.i * {PARA_W} < len(t.arr)
          AND least(len(t.arr) - g.i * {PARA_W}, {PARA_W})
              >= {PARA_MIN_TOKS}),
    df AS (SELECT h, count(DISTINCT doc_id)::BIGINT AS d
           FROM b GROUP BY h)
    SELECT b.doc_id,
           count(*)::BIGINT AS n_blocks,
           sum(CASE WHEN df.d >= {BOILER_DF_SHARED} THEN 1 ELSE 0 END)
               ::BIGINT AS n_shared_blocks,
           sum(CASE WHEN df.d >= {BOILER_DF_RULE} THEN 1 ELSE 0 END)
               ::BIGINT AS n_boiler_blocks,
           (sum(CASE WHEN df.d >= {BOILER_DF_RULE} THEN 1 ELSE 0 END)
               * 1000000 // count(*))::BIGINT AS boiler_coverage_ppm
    FROM b JOIN df ON df.h = b.h
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
)
def doc_boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT repeated-block boilerplate screen — the C4 preprocessing
    rule ('drop any line occurring ≥{BOILER_DF_RULE} times in the
    corpus') measured per document: each {PARA_W}-word block (the
    paragraph family's deterministic splitter) hashes once, document
    frequency is one distinct-count per hash, and every doc reports
    how many of its blocks are corpus-SHARED (df ≥ {BOILER_DF_SHARED})
    vs corpus-BOILERPLATE (df ≥ {BOILER_DF_RULE}), with the rule's
    removal coverage in ppm. Sits exactly between
    paragraph_neardup_pairs (fuzzy, pairwise) and
    doc_repeated_substring_coverage (positional windows): exact,
    df-thresholded, and per-doc actionable — the cheapest of the
    three screens and the one C4 actually shipped.

    Scale: one map-side block explode (|doc|/{PARA_W} rows per doc —
    far below the shingle fan-out), a map-combinable per-hash distinct
    count, one hash-keyed equi-join back, one doc rollup. No windows,
    no pairs.

    Determinism: md5 keys, integer counts, one trunc-div ppm."""
    docs = load_table(spark, sf_dir, "documents")
    b = (
        docs.select(
            "doc_id", F.split("text", " ").alias("arr")
        )
        .select(
            "doc_id",
            "arr",
            F.explode(
                F.expr(f"sequence(0, size(arr) div {PARA_W})")
            ).alias("i"),
        )
        .where(
            F.expr(
                f"i * {PARA_W} < size(arr) AND"
                f" least(size(arr) - i * {PARA_W}, {PARA_W})"
                f" >= {PARA_MIN_TOKS}"
            )
        )
        .select(
            "doc_id",
            F.md5(
                F.expr(
                    f"concat_ws(' ', slice(arr, i * {PARA_W} + 1,"
                    f" {PARA_W}))"
                )
            ).alias("h"),
        )
    )
    b = pin("boiler_blocks", b, fill=False)
    df = b.groupBy("h").agg(
        F.countDistinct("doc_id").cast("bigint").alias("d")
    )
    return (
        b.join(df, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_blocks"),
            F.sum(
                F.when(F.col("d") >= BOILER_DF_SHARED, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_shared_blocks"),
            F.sum(
                F.when(F.col("d") >= BOILER_DF_RULE, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_boiler_blocks"),
            F.expr(
                f"cast(sum(CASE WHEN d >= {BOILER_DF_RULE} THEN 1"
                f" ELSE 0 END) * 1000000 div count(*) as bigint)"
            ).alias("boiler_coverage_ppm"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# dedup_cluster_size_histogram — the SHAPE of near-duplication: how much
# of the corpus sits in clusters of each size.
# --------------------------------------------------------------------------
@query(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    {_CLOSURE_CTES},
    sizes AS (
        SELECT cluster_rep, count(*)::BIGINT AS k
        FROM labels GROUP BY 1),
    tot AS (
        SELECT sum(k)::BIGINT AS n_docs,
               sum(k - 1)::BIGINT AS n_droppable FROM sizes)
    SELECT k AS cluster_size,
           count(*)::BIGINT AS n_clusters,
           (count(*) * k)::BIGINT AS n_docs,
           (count(*) * (k - 1))::BIGINT AS n_droppable,
           (count(*) * (k - 1) * 1000000
               // greatest((SELECT n_droppable FROM tot), 1))::BIGINT
               AS droppable_share_ppm
    FROM sizes
    GROUP BY k
    ORDER BY cluster_size
    """,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SHAPE of near-duplication: cluster-size histogram over the
    MinHash-verified transitive closure — how many near-dup clusters
    of each size exist, how many documents they hold, and what share
    of the total DROPPABLE mass (size−1 per cluster) each size class
    carries. dedup_clusters says which doc to keep; this says whether
    duplication is a long tail of pairs (trim as you go) or a few
    giant clusters (investigate the source before deduping —
    template/mirror content behaves differently from organic
    near-dups). The dedup-strategy readout next to
    dedup_token_savings' byte accounting.

    Scale: rides closure_labels' shared component machinery (pinned
    pair graph, min-label propagation); the rollups run on the
    cluster frame, bounded by the verified-pair graph.

    Determinism: integer counts, one trunc-div share."""
    labels = closure_labels(spark, _minhash_pairs(spark, sf_dir))
    sizes = labels.groupBy(F.col("label").alias("cluster_rep")).agg(
        F.count("*").cast("bigint").alias("k")
    )
    tot = sizes.agg(
        F.sum(F.col("k") - 1).cast("bigint").alias("nd")
    ).first()
    schema = (
        "cluster_size BIGINT, n_clusters BIGINT, n_docs BIGINT,"
        " n_droppable BIGINT, droppable_share_ppm BIGINT"
    )
    if tot.nd is None:
        return spark.createDataFrame([], schema)
    nd = max(int(tot.nd), 1)
    return (
        sizes.groupBy(F.col("k").alias("cluster_size"))
        .agg(F.count("*").cast("bigint").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("n_clusters") * F.col("cluster_size"))
            .cast("bigint")
            .alias("n_docs"),
            (F.col("n_clusters") * (F.col("cluster_size") - 1))
            .cast("bigint")
            .alias("n_droppable"),
            F.expr(
                f"cast(n_clusters * (cluster_size - 1) * 1000000"
                f" div {nd} as bigint)"
            ).alias("droppable_share_ppm"),
        )
        .orderBy("cluster_size")
    )



# --------------------------------------------------------------------------
# dedup_containment — ASYMMETRIC near-dup detection. Jaccard misses the
# quote/subset case: a 100-shingle doc fully embedded in a 2000-shingle
# doc scores J ≈ 0.05 (invisible below any sane threshold) but
# containment C(A,B) = |A∩B|/|A| = 1.0. This is the metric that finds
# excerpts, mirrored sections, and doc-inside-doc duplication that the
# symmetric family structurally cannot.
# --------------------------------------------------------------------------
CONT_DF_CAP = 16       # shingles in > CAP docs are corpus boilerplate:
#                        excluded from the metric's universe in BOTH
#                        engines (the WINNOW_DF_CAP pattern — a
#                        semantic definition, not a silent truncation).
#                        Cluster-scale repetition (near-dup clusters
#                        are far smaller than 16) stays in.
CONT_MIN_PPM = 500000  # report pairs with max-direction containment ≥ 0.5


@query(
    "dedup_containment",
    oracle=f"""
    WITH shingled AS ({_SHINGLE_SQL}),
    ex AS (
        SELECT doc_id, unnest(list_distinct(list_transform(sh,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))) AS h
        FROM shingled),
    grouped AS (
        SELECT h, list_sort(list(doc_id)) AS ds
        FROM ex GROUP BY h HAVING count(*) <= {CONT_DF_CAP}),
    szc AS (SELECT doc_id, count(*)::BIGINT AS n
            FROM (SELECT unnest(ds) AS doc_id FROM grouped)
            GROUP BY doc_id),
    posting AS (SELECT h, unnest(ds) AS d FROM grouped),
    inter AS (
        SELECT a.d AS a_id, b.d AS b_id, count(*)::BIGINT AS n_shared
        FROM posting a JOIN posting b ON b.h = a.h AND b.d > a.d
        GROUP BY a.d, b.d)
    SELECT i.a_id, i.b_id, i.n_shared,
           sa.n AS n_a, sb.n AS n_b,
           (i.n_shared * 1000000 // sa.n)::BIGINT AS cont_a_ppm,
           (i.n_shared * 1000000 // sb.n)::BIGINT AS cont_b_ppm
    FROM inter i
    JOIN szc sa ON sa.doc_id = i.a_id
    JOIN szc sb ON sb.doc_id = i.b_id
    WHERE greatest(i.n_shared * 1000000 // sa.n,
                   i.n_shared * 1000000 // sb.n) >= {CONT_MIN_PPM}
    ORDER BY a_id, b_id
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle CONTAINMENT pairs: over the df-capped HASHED-shingle
    universe (60-bit md5 per 3-gram shingle — the shared hash rule, so
    both engines see the identical universe; df ≤ {CONT_DF_CAP}
    excludes corpus-wide boilerplate from the metric itself), every
    ordered pair sharing shingles gets both directional scores
    C(A,B) = |A∩B|/|A| and C(B,A) = |A∩B|/|B| on a ppm grid; pairs
    where EITHER direction ≥ {CONT_MIN_PPM/10000:.0f}% are reported.
    The asymmetric complement of dedup_ngram_jaccard: a short document
    swallowed by a long one is invisible to Jaccard but scores 1.0
    here — the excerpt/quote/subset-dup detector.

    Determinism: hashing is md5 on both engines; per-doc hash sets
    dedup map-side; integer intersection counts, trunc-div ppm.

    Scale (round-9 rewrite, 9.5 → fewer shuffles): postings carry a
    60-bit INTEGER key, not a ~30-byte string; ONE groupBy builds the
    df-capped adjacency (h → sorted doc list), candidate pairs explode
    MAP-SIDE from each list (the _undirected_pairs idiom — C(df,2) ≤
    C({CONT_DF_CAP},2) per shingle BY CONSTRUCTION, no posting
    self-join), and the denominators re-explode the same capped
    adjacency. No all-pairs pass exists anywhere; the join output is
    linear in the index size."""
    shingled = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= 3)
        .select(
            "doc_id",
            F.expr(
                "array_distinct(transform("
                " transform(sequence(1, size(toks) - 2),"
                "  i -> concat(element_at(toks, i), ' ',"
                "              element_at(toks, i + 1), ' ',"
                "              element_at(toks, i + 2))),"
                " s -> cast(conv(substring(md5(s), 1, 15), 16, 10)"
                "      as bigint)))"
            ).alias("hs"),
        )
    )
    ex = shingled.select("doc_id", F.explode("hs").alias("h"))
    grouped = pin(
        "containment_adj",
        ex.groupBy("h")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .where(F.size("ds") <= CONT_DF_CAP)
        .select("ds"),
        fill=False,
    )
    # Pinned: the per-doc size frame feeds BOTH denominator joins
    # below as separate broadcast builds (aliased a_id/b_id output, so
    # ReuseExchange cannot canonicalize them together) — without the
    # pin the explode+aggregate over the capped adjacency ran twice
    # (visible as two identical HashAggregate+Exchange subtrees in
    # plans/r12/dedup_containment_before.txt).
    sz = pin(
        "containment_sz",
        grouped.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n")),
        fill=False,
    )
    inter = (
        grouped.select(
            F.explode(
                F.expr(
                    "flatten(transform(ds, (x, i) ->"
                    " transform(slice(ds, i + 2, size(ds) - i - 1),"
                    "           y -> struct(x AS a_id, y AS b_id))))"
                )
            ).alias("p")
        )
        .select("p.a_id", "p.b_id")
        .groupBy("a_id", "b_id")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
    )
    return (
        inter.join(sz.select(F.col("doc_id").alias("a_id"),
                             F.col("n").alias("n_a")), "a_id")
        .join(sz.select(F.col("doc_id").alias("b_id"),
                        F.col("n").alias("n_b")), "b_id")
        .select(
            "a_id",
            "b_id",
            "n_shared",
            "n_a",
            "n_b",
            F.expr("cast(n_shared * 1000000 div n_a as bigint)").alias(
                "cont_a_ppm"
            ),
            F.expr("cast(n_shared * 1000000 div n_b as bigint)").alias(
                "cont_b_ppm"
            ),
        )
        .where(
            F.greatest("cont_a_ppm", "cont_b_ppm") >= CONT_MIN_PPM
        )
        .orderBy("a_id", "b_id")
    )
