"""L4 corpus-curation operators over `documents`: the decisions a
large-scale pretraining-data pipeline makes between "raw crawl" and
"training mix" — stratified sampling, source mixing weights, benchmark
contamination checks, unigram-LM quality scoring, PII scrubbing.

Scale posture, per operator:
  - stratified sampling: a map-only hash predicate (no RNG state, no
    shuffle) that pushes to the scan — the only correct way to sample
    100 TB repeatably; re-running on an updated corpus keeps or drops
    the SAME documents.
  - mixing weights: one groupBy over (source) — output is O(#sources),
    the shuffle is a rollup, and the weights then drive the sampler
    above without materializing any intermediate corpus.
  - contamination: the corpus side stays map-only until the final
    per-(doc, bench) count; the benchmark side is small relative to
    the corpus but NOT statically bounded, so the join is AQE-decided
    (broadcast when it fits, shuffle when not). Never corpus×corpus.
  - unigram surprisal: two shuffles (vocabulary rollup, per-doc
    re-join on token). The vocabulary is Zipf-skewed: the join is on
    the token itself, so AQE's skew-join handles the head terms; at
    100 TB you would additionally cap the vocab to top-N with a
    min-count floor, which bounds the broadcast/shuffle side.
  - PII scrub: map-only regexp work, JVM-side, whole-stage codegen.

Reference parity: extends the reference's scalar string/regex layer
(`agent-loop.sh` classify_error regex policy, reference
`telegram-agent.py:200` truncation/sanitization) to the corpus-level
operators the north star calls for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import pin
from open_pulsar_spark.operators.dedup import _MINHASH_PAIRS_CTE
from open_pulsar_spark.operators.prefix import global_prefix
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table

# Per-language keep rates (percent) for the stratified sampler: the
# usual "downsample the head language, keep the tail" pretraining mix.
SAMPLE_RATES = {"en": 60, "de": 90, "fr": 90, "es": 90, "zh": 80}
SAMPLE_RATE_DEFAULT = 50

MIX_WEIGHT_CAP = 5.0

CONTAM_NGRAM = 5          # word-5-grams as the contamination unit
CONTAM_MIN_SHARED = 2     # ≥2 shared 5-grams → flagged
BENCH_MOD = 23            # doc_id % 23 == 0 → the held-out benchmark set


def _hash_raw_spark(col, nhex: int = 8):
    """First `nhex` hex chars (4·nhex bits) of md5(x) as a BIGINT — the
    ONE deterministic hash every derived coin reduces (mod 100 for
    sampling, mod 2 for A/B assignment; nhex=15 for 60-bit node ids).
    The DuckDB twin is _hash_raw_sql."""
    return F.conv(
        F.substring(F.md5(col.cast("string")), 1, nhex), 16, 10
    ).cast("bigint")


def _hash_raw_sql(col_sql: str, nhex: int = 8) -> str:
    """DuckDB form of _hash_raw_spark; `col_sql` must already be a
    VARCHAR expression (cast at the call site, e.g. user_id::VARCHAR)."""
    return f"('0x' || substr(md5({col_sql}), 1, {nhex}))::BIGINT"


def _hash_bucket_spark(col):
    """The raw hash reduced to [0, 100) — the sampling coin."""
    return _hash_raw_spark(col) % 100


_HASH_BUCKET_SQL = _hash_raw_sql("doc_id::VARCHAR") + " % 100"

_RATE_SQL = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in SAMPLE_RATES.items())
    + f" ELSE {SAMPLE_RATE_DEFAULT} END"
)


# --------------------------------------------------------------------------
# corpus_sample_stratified — deterministic hash-based stratified sampling.
# --------------------------------------------------------------------------
@query(
    "corpus_sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, {_HASH_BUCKET_SQL} AS bucket
    FROM documents
    WHERE {_HASH_BUCKET_SQL} < {_RATE_SQL}
    ORDER BY doc_id
    """,
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep each document iff hash(doc_id) mod 100 < rate(lang).

    No RNG, no state: the sample is a pure function of the row, so it
    is reproducible across runs/engines, composable (a 50% sample of a
    60% sample is a 30% sample), and pushes down to the scan as a
    plain predicate — the only sampling strategy that stays correct
    when the 100 TB corpus is re-crawled incrementally.
    """
    docs = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket_spark(F.col("doc_id"))
    rate = F.lit(SAMPLE_RATE_DEFAULT)
    for lang, pct in SAMPLE_RATES.items():
        rate = F.when(F.col("lang") == lang, pct).otherwise(rate)
    return (
        docs.select("doc_id", "lang", bucket.alias("bucket"))
        .where(F.col("bucket") < rate)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# corpus_mix_weights — per-source sampling weights for a target mix.
# --------------------------------------------------------------------------
@query(
    "corpus_mix_weights",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               count(*)                          AS n_docs,
               sum(len(str_split(text, ' ')))::BIGINT AS n_tokens
        FROM documents GROUP BY source
    )
    SELECT source, n_docs, n_tokens,
           round(n_tokens * 1.0 / sum(n_tokens) OVER (), 6) AS token_share,
           round(least({MIX_WEIGHT_CAP},
                 (1.0 / count(*) OVER ()) /
                 (n_tokens * 1.0 / sum(n_tokens) OVER ())), 6) AS weight
    FROM per_source
    ORDER BY source
    """,
)
def corpus_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights: per-source token share vs a uniform target
    share; weight = target/actual capped at 5× (the usual 'upsample the
    tail, never explode it' rule). One rollup shuffle; output is
    O(#sources) and feeds the stratified sampler as its rate table.
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    share = F.col("n_tokens") * F.lit(1.0) / F.sum("n_tokens").over(w)
    target = F.lit(1.0) / F.count("*").over(w)
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(share, 6).alias("token_share"),
        F.round(F.least(F.lit(MIX_WEIGHT_CAP), target / share), 6).alias("weight"),
    ).orderBy("source")


def _contam_frames(docs):
    """(corpus_grams, bench_grams): the distinct 5-gram streams of the
    corpus and the held-out benchmark slice — the ONE construction
    shared by benchmark_contamination and the curation pipeline."""
    grams = (
        docs.select("doc_id", F.split("text", " ").alias("toks"))
        .where(F.size("toks") >= CONTAM_NGRAM)
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        f"transform(sequence(0, size(toks) - {CONTAM_NGRAM}),"
                        f" i -> array_join(slice(toks, i + 1, {CONTAM_NGRAM}), ' '))"
                    )
                )
            ).alias("g"),
        )
    )
    bench = grams.where(F.col("doc_id") % BENCH_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "g"
    )
    return grams.where(F.col("doc_id") % BENCH_MOD != 0), bench


# --------------------------------------------------------------------------
# benchmark_contamination — n-gram overlap against a held-out set.
# --------------------------------------------------------------------------
_CONTAM_CAT = " || ' ' || ".join(f"toks[i+{j}]" for j in range(CONTAM_NGRAM))
_CONTAM_GRAMS_SQL = f"""
    SELECT doc_id,
           unnest(list_distinct([{_CONTAM_CAT}
                                 for i in range(1, len(toks) - {CONTAM_NGRAM - 2})]))
               AS g
    FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
    WHERE len(toks) >= {CONTAM_NGRAM}
"""


@query(
    "benchmark_contamination",
    oracle=f"""
    WITH grams AS ({_CONTAM_GRAMS_SQL}),
    bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % {BENCH_MOD} = 0),
    corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % {BENCH_MOD} <> 0)
    SELECT c.doc_id, b.bench_id, count(*)::BIGINT AS n_shared
    FROM corpus c JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id, b.bench_id
    HAVING count(*) >= {CONTAM_MIN_SHARED}
    ORDER BY doc_id, bench_id
    """,
)
def benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test contamination check: corpus documents sharing ≥2
    distinct word-5-grams with any held-out benchmark document
    (doc_id % 23 == 0 stands in for the eval set).

    The benchmark n-gram set is small by construction → broadcast it;
    the corpus side is a map-only explode, so the only shuffle is the
    final per-(doc, bench) count. At 100 TB this is the standard
    decontamination pass shape: corpus-side linear scan, never
    corpus×corpus.
    """
    docs = load_table(spark, sf_dir, "documents")
    corpus, bench = _contam_frames(docs)
    # No forced broadcast: the benchmark side is small relative to the
    # corpus but NOT statically bounded (here it is 1/BENCH_MOD of the
    # gram stream; in production it is a benchmark suite that grows
    # over time) — AQE picks broadcast when it fits, shuffle when not.
    return (
        corpus.join(bench, "g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= CONTAM_MIN_SHARED)
        .orderBy("doc_id", "bench_id")
    )


# --------------------------------------------------------------------------
# doc_unigram_logprob — corpus-LM surprisal as a quality signal.
# --------------------------------------------------------------------------
@query(
    "doc_unigram_logprob",
    oracle="""
    WITH tok AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents
    ),
    vocab AS (SELECT t, count(*) AS c FROM tok GROUP BY t),
    tot AS (SELECT sum(c) AS total FROM vocab)
    SELECT doc_id,
           count(*)::BIGINT AS n_tokens,
           round(avg(-ln(c * 1.0 / total)), 6) AS avg_surprisal
    FROM tok JOIN vocab USING (t) CROSS JOIN tot
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average unigram surprisal −avg(ln p(token)) under
    the corpus's own unigram LM — the cheap perplexity proxy used to
    rank document quality (gibberish and boilerplate score abnormally
    high/low).

    Two shuffles: the vocabulary rollup (map-side partial aggregation
    compresses it to vocab-sized traffic) and the token re-join. The
    probe key is Zipf-skewed, and a JOIN is deliberately the right
    shape for that: AQE's OptimizeSkewedJoin can SPLIT a hot probe
    partition, while a count-window over the raw token key cannot be
    split — a window rewrite (tried and reverted in round 5) put
    every 'the' row in one unsplittable task, the straggler shape
    that melts at 100 TB. The price is that the token explode runs
    twice (model + probe branch — exchange reuse measurably does not
    fire across differently-keyed consumers of one lineage); that is
    linear, parallel scan I/O, the safe side of the trade. At 100 TB,
    cap the vocabulary with a min-count floor so the model side stays
    bounded.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    vocab = tok.groupBy("t").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").alias("total"))
    return (
        tok.join(vocab, "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(F.avg(-F.log(F.col("c") * F.lit(1.0) / F.col("total"))), 6).alias(
                "avg_surprisal"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# corpus_embedding_coverage — docs ↔ embeddings completeness audit.
# --------------------------------------------------------------------------
@query(
    "corpus_embedding_coverage",
    oracle="""
    SELECT coalesce(d.source, '(orphan vectors)') AS source,
           count(d.doc_id)::BIGINT AS n_docs,
           count(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
                      THEN 1 END)::BIGINT AS n_embedded,
           count(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NULL
                      THEN 1 END)::BIGINT AS n_missing,
           round(count(CASE WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
                            THEN 1 END) * 1.0
                 / greatest(count(d.doc_id), 1), 6) AS coverage
    FROM documents d FULL JOIN embeddings e ON d.doc_id = e.vec_id
    GROUP BY 1 ORDER BY 1
    """,
)
def corpus_embedding_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completeness audit of the embedding side-table against the
    corpus (vec_id ≡ doc_id contract): per source, how many documents
    have an embedding, how many are missing one, and the coverage
    ratio — plus an '(orphan vectors)' row for embeddings whose
    document no longer exists (deleted after embedding, or an id-space
    bug). Every multimodal/ANN operator in the engine assumes this
    join is total; this is the query that checks it before they run.

    Scale: both sides project to keys before the join (doc_id+source
    vs vec_id alone — the embedding payload never moves), one
    full-outer shuffle on the id, then a |sources|-row aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    vecs = load_table(spark, sf_dir, "embeddings").select("vec_id")
    j = docs.join(vecs, docs["doc_id"] == vecs["vec_id"], "full")
    has_doc = F.col("doc_id").isNotNull()
    has_vec = F.col("vec_id").isNotNull()
    n_embedded = F.count(F.when(has_doc & has_vec, 1))
    return (
        j.groupBy(
            F.coalesce("source", F.lit("(orphan vectors)")).alias("source")
        )
        .agg(
            F.count("doc_id").alias("n_docs"),
            n_embedded.alias("n_embedded"),
            F.count(F.when(has_doc & ~has_vec, 1)).alias("n_missing"),
            F.round(
                n_embedded * 1.0 / F.greatest(F.count("doc_id"), F.lit(1)), 6
            ).alias("coverage"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# doc_bigram_logprob — conditional-LM surprisal (the sharper quality
# signal next to the unigram proxy).
# --------------------------------------------------------------------------
# tok/pairs CTEs: per-doc adjacent token pairs (prev, cur), guarded to
# ≥2-token docs — the ONE SQL copy of the pair explode shared by the
# bigram-LM and PMI oracles (their Spark twins share _token_pairs).
_TOKEN_PAIRS_CTES = """tok AS (
        SELECT doc_id, str_split(text, ' ') AS t FROM documents
        WHERE len(str_split(text, ' ')) >= 2
    ),
    pairs AS (
        SELECT doc_id, t[g.i] AS prev, t[g.i + 1] AS cur
        FROM tok CROSS JOIN LATERAL (
            SELECT unnest(generate_series(1, len(t) - 1)) AS i
        ) g
    )"""


def _token_pairs(docs: DataFrame) -> DataFrame:
    """(doc_id, prev, cur): adjacent-token pairs per document. Splits
    ONCE into a column, then transforms over it (the repo-wide
    tokenize idiom): Spark does not hoist loop-invariant expressions
    out of higher-order-function lambdas, so splitting inside the
    lambda would re-split the text per sequence element. The size
    guard also keeps sequence() ascending — sequence(1, 0) is the
    DESCENDING [1, 0] in Spark, which would throw in element_at on
    sub-2-token docs (the oracle's empty generate_series just skips
    them)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= 2
    )
    return toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) as prev,"
                "             element_at(t, i + 1) as cur))"
            )
        ).alias("pr"),
    ).select("doc_id", "pr.prev", "pr.cur")


@query(
    "doc_bigram_logprob",
    oracle=f"""
    WITH {_TOKEN_PAIRS_CTES},
    cb AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
    cx AS (SELECT prev, count(*) AS c1 FROM pairs GROUP BY prev)
    SELECT p.doc_id,
           count(*)::BIGINT AS n_bigrams,
           round(avg(-ln(cb.c2 * 1.0 / cx.c1)), 6) AS avg_surprisal
    FROM pairs p JOIN cb USING (prev, cur) JOIN cx USING (prev)
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
)
def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document average bigram surprisal −avg(ln p(wᵢ|wᵢ₋₁)) under
    the corpus's own bigram LM — the next rung above
    doc_unigram_logprob on the perplexity-filter ladder: unigram
    surprisal can't see scrambled word order, a bigram model can
    (shuffled boilerplate scores high here while scoring normal
    there). MLE conditionals, no smoothing: every observed bigram has
    c₂ ≥ 1, so the model is total on its own corpus.

    Scale: the model side explodes ONCE — the context margin derives
    from the pair-count table (c1 = Σc2 by prev, the contingency
    identity) over a PINNED cb instead of a second corpus rollup
    (exchange reuse measurably does not fire across differently-keyed
    consumers of one lineage) — and the probe side re-joins both
    model tables. Joins, not count-windows, deliberately: the context
    key is Zipf-skewed and AQE's OptimizeSkewedJoin can split a hot
    probe partition, while a window over raw `prev` would put every
    'the'-context pair in one unsplittable task (a window rewrite was
    tried and reverted in round 5 for exactly that straggler shape);
    the (prev, cur) pair join key is flatter still. At 100 TB floor
    cb by min-count and back off to the unigram score (stupid
    backoff) to bound the model side.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _token_pairs(docs)
    cb = pin(
        "bigram_pair_counts",
        pairs.groupBy("prev", "cur").agg(F.count("*").alias("c2")),
        fill=False,
    )
    cx = cb.groupBy("prev").agg(F.sum("c2").alias("c1"))
    return (
        pairs.join(cb, ["prev", "cur"])
        .join(cx, "prev")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.avg(-F.log(F.col("c2") * F.lit(1.0) / F.col("c1"))), 6
            ).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# token_pmi_pairs — collocation mining (phrase candidates by PMI).
# --------------------------------------------------------------------------
PMI_MIN_COUNT = 5  # floor: PMI of rare pairs is pure noise


@query(
    "token_pmi_pairs",
    oracle=f"""
    WITH {_TOKEN_PAIRS_CTES},
    cb AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
    n AS (SELECT sum(c2) AS np FROM cb),
    cl AS (SELECT prev, sum(c2) AS c1l FROM cb GROUP BY prev),
    cr AS (SELECT cur, sum(c2) AS c1r FROM cb GROUP BY cur)
    SELECT prev, cur, c2::BIGINT AS c2,
           round(ln(c2 * 1.0 * np / (c1l * 1.0 * c1r)), 6) AS pmi
    FROM cb JOIN cl USING (prev) JOIN cr USING (cur) CROSS JOIN n
    WHERE c2 >= {PMI_MIN_COUNT}
    ORDER BY pmi DESC, prev, cur LIMIT 20
    """,
)
def token_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top collocations by pointwise mutual information — the phrase-
    mining step (word2vec-style phrase detection, Mikolov et al. 2013)
    a tokenizer/vocab pipeline runs to decide which adjacent tokens
    deserve a merged vocabulary entry: PMI = ln(p(a,b)/(p(a)·p(b)))
    over adjacent-pair, left-margin, and right-margin counts, floored
    at PMI_MIN_COUNT occurrences (rare-pair PMI is noise — the
    standard min-count guard).

    Scale: the pair explode is shared with doc_bigram_logprob
    (_token_pairs), and the corpus is scanned ONCE: both margins and
    the grand total are re-aggregations of the pair-count table cb
    (c1l = Σc2 by prev, c1r = Σc2 by cur, N = Σc2 — the contingency-
    table identity), so the three extra aggregates run over the
    vocab²-bounded cb, PINNED once (the pin generation cache —
    verified: without it Spark plans four independent corpus explodes;
    exchange reuse does NOT fire across the differently-keyed
    consumers). The 1-row total broadcasts onto the floored pair table;
    top-20 plans as TakeOrdered. All counts stay exact integers; the
    single ln is computed per surviving row and sorted on its ROUNDED
    value in both engines so ordering cannot hinge on sub-1e-6 libm
    drift.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = _token_pairs(docs)
    cb = pin(
        "pmi_pair_counts",
        pairs.groupBy("prev", "cur").agg(F.count("*").alias("c2")),
        fill=False,
    )
    cl = cb.groupBy("prev").agg(F.sum("c2").alias("c1l"))
    cr = cb.groupBy("cur").agg(F.sum("c2").alias("c1r"))
    tot = cb.agg(F.sum("c2").alias("np"))
    pmi = F.round(
        F.log(
            F.col("c2") * 1.0 * F.col("np") / (F.col("c1l") * 1.0 * F.col("c1r"))
        ),
        6,
    )
    return (
        cb.where(F.col("c2") >= PMI_MIN_COUNT)
        .join(cl, "prev")
        .join(cr, "cur")
        .crossJoin(F.broadcast(tot))
        .select("prev", "cur", F.col("c2").cast("bigint").alias("c2"), pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "prev", "cur")
        .limit(20)
    )


# --------------------------------------------------------------------------
# doc_pii_scrub — regex PII redaction (emails / phones).
# --------------------------------------------------------------------------
# The synthetic corpus contains no PII, so the scrub operates on the
# document text AUGMENTED with a deterministic contact line — both
# engines build the same line, redact it, and fingerprint the result,
# which pins the whole redact pipeline (patterns, replacement,
# counting) rather than trivially matching nothing.
_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PHONE_RE = "\\+1-555-[0-9]{4}"

_AUG_SQL = (
    "text || ' contact user' || doc_id::VARCHAR || '@example.com or +1-555-' "
    "|| lpad((doc_id % 10000)::VARCHAR, 4, '0')"
)


@query(
    "doc_pii_scrub",
    oracle=f"""
    WITH aug AS (SELECT doc_id, {_AUG_SQL} AS body FROM documents)
    SELECT doc_id,
           len(regexp_extract_all(body, '{_EMAIL_RE}'))::BIGINT AS n_emails,
           len(regexp_extract_all(body, '{_PHONE_RE}'))::BIGINT AS n_phones,
           md5(regexp_replace(regexp_replace(body, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                              '{_PHONE_RE}', '<PHONE>', 'g')) AS scrubbed_md5
    FROM aug
    ORDER BY doc_id
    """,
)
def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count and redact emails/phone numbers; fingerprint the scrubbed
    text so the oracle pins the exact replacement output. Map-only
    regexp work that stays in whole-stage codegen — the shape of every
    PII / boilerplate / markup-strip pass in a corpus pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    body = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    scrubbed = F.regexp_replace(
        F.regexp_replace(body, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(body, F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(body, F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# corpus_curation_pipeline — the end-to-end funnel, stage survivor counts.
# --------------------------------------------------------------------------
_QUALITY_KEEP_SQL = """
    SELECT doc_id, text, lang FROM (
        SELECT doc_id, text, lang,
               len(str_split(text, ' ')) AS n_toks,
               len(list_distinct(str_split(text, ' '))) * 1.0
                   / len(str_split(text, ' ')) AS ttr,
               len(list_filter(str_split(text, ' '),
                               x -> x IN ('the','a','of','and','to','in','is','it'))) * 1.0
                   / len(str_split(text, ' ')) AS swr
        FROM documents)
    WHERE 0.4 * least(n_toks / 100.0, 1.0) + 0.4 * ttr
        + 0.2 * least(swr / 0.1, 1.0) >= 0.6
"""

# grams/bench/contaminated CTEs: the flagged-as-contaminated doc set —
# the ONE SQL copy shared by the funnel-count and per-doc-verdict
# oracles (their Spark twins share _survival_flags).
_CONTAM_SET_CTES = f"""grams AS ({_CONTAM_GRAMS_SQL}),
    bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % {BENCH_MOD} = 0),
    contaminated AS (
        SELECT DISTINCT c.doc_id
        FROM (SELECT doc_id, g FROM grams WHERE doc_id % {BENCH_MOD} <> 0) c
        JOIN bench b ON c.g = b.g
        GROUP BY c.doc_id, b.bench_id
        HAVING count(*) >= {CONTAM_MIN_SHARED}
    )"""


def _survival_flags(docs: DataFrame) -> DataFrame:
    """Per-doc curation survival flags — ONE corpus scan producing
    (doc_id, lang, q, dedup_keep, contam, coin), the shared engine
    behind corpus_curation_pipeline (which aggregates the flags into
    funnel counts) and doc_curation_verdicts (which cascades them into
    per-doc verdicts). Text is dropped before the window shuffle: only
    (doc_id, lang, hash, flags) move, not document bodies. The dedup
    survivor is the first QUALITY row of each text-hash group (a
    running conditional count over the md5 window). Contaminated is a
    small id set but NOT statically bounded at 100 TB — plain
    equi-join on doc_id, AQE turns it into a broadcast when it fits."""
    from open_pulsar_spark.operators.text import quality_from_toks

    rate = F.coalesce(
        *[
            F.when(F.col("lang") == lang, F.lit(pct))
            for lang, pct in SAMPLE_RATES.items()
        ],
        F.lit(SAMPLE_RATE_DEFAULT),
    )
    # toks hoisted into its own projection so the quality score
    # tokenizes each document once (performance note at
    # text.quality_from_toks)
    flagged = docs.select(
        "doc_id",
        "lang",
        F.md5("text").alias("h"),
        F.split("text", " ").alias("toks"),
        (_hash_bucket_spark(F.col("doc_id")) < rate).alias("coin"),
    ).select(
        "doc_id",
        "lang",
        "h",
        (quality_from_toks(F.col("toks")) >= 0.6).alias("q"),
        "coin",
    )
    w = (
        Window.partitionBy("h")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run_q = F.sum(F.when(F.col("q"), 1).otherwise(0)).over(w)
    flagged = flagged.withColumn("dedup_keep", F.col("q") & (run_q == 1))

    corpus_grams, bench = _contam_frames(docs)
    contaminated = (
        corpus_grams
        .join(bench, "g")  # AQE-decided, same rationale as benchmark_contamination
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= CONTAM_MIN_SHARED)
        .select("doc_id")
        .distinct()
        .withColumn("contam", F.lit(True))
    )
    return flagged.join(contaminated, "doc_id", "left")


@query(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH quality AS ({_QUALITY_KEEP_SQL}),
    deduped AS (
        SELECT doc_id, text, lang FROM (
            SELECT doc_id, text, lang,
                   row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
            FROM quality)
        WHERE rn = 1
    ),
    {_CONTAM_SET_CTES},
    decontam AS (
        SELECT d.doc_id, d.lang FROM deduped d
        WHERE d.doc_id % {BENCH_MOD} <> 0
          AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    sampled AS (
        SELECT doc_id FROM decontam
        WHERE {_HASH_BUCKET_SQL} < {_RATE_SQL}
    )
    SELECT * FROM (
        SELECT 0 AS stage_id, 'input' AS stage, count(*) AS n_docs FROM documents
        UNION ALL SELECT 1, 'quality', count(*) FROM quality
        UNION ALL SELECT 2, 'exact_dedup', count(*) FROM deduped
        UNION ALL SELECT 3, 'decontaminated', count(*) FROM decontam
        UNION ALL SELECT 4, 'sampled', count(*) FROM sampled)
    ORDER BY stage_id
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation funnel in one plan: quality filter → exact
    dedup → benchmark decontamination → stratified sample, reporting
    survivor counts per stage.

    Stage semantics are identical to the standalone operators
    (doc_quality_score, dedup_exact, benchmark_contamination,
    corpus_sample_stratified), but the counts are computed as per-doc
    SURVIVAL FLAGS in one pass rather than five cascading aggregates:
    naively counting each stage re-executes the shared prefix (text
    scan + tokenize + dedup window) once per stage — measured ~5× the
    work at sf0.1, and at 100 TB five full corpus scans instead of
    one. Here: one scan computes quality + dedup-survivor flags (one
    window shuffle on md5(text); dedup survivor = first quality row of
    the hash group, via a running conditional count), the
    contamination pass contributes a flag through a left join on
    doc_id, and a single aggregate of the flags unpivots (stack) into
    the 5-row funnel.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    flagged = _survival_flags(docs)

    decontam_keep = (
        F.col("dedup_keep")
        & (F.col("doc_id") % BENCH_MOD != 0)
        & F.col("contam").isNull()
    )
    sampled_keep = decontam_keep & F.col("coin")

    def n(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0)).cast("long")

    counts = flagged.agg(
        F.count("*").alias("c0"),
        n(F.col("q")).alias("c1"),
        n(F.col("dedup_keep")).alias("c2"),
        n(decontam_keep).alias("c3"),
        n(sampled_keep).alias("c4"),
    )
    return counts.select(
        F.expr(
            "stack(5, 0, 'input', c0, 1, 'quality', c1, 2, 'exact_dedup', c2,"
            " 3, 'decontaminated', c3, 4, 'sampled', c4)"
            " AS (stage_id, stage, n_docs)"
        )
    ).orderBy("stage_id")


# --------------------------------------------------------------------------
# doc_curation_verdicts — the per-doc verdict table (WHY each document
# survives or drops), the funnel's complementary artifact.
# --------------------------------------------------------------------------
@query(
    "doc_curation_verdicts",
    oracle=f"""
    WITH quality AS ({_QUALITY_KEEP_SQL}),
    dq AS (SELECT doc_id,
                  row_number() OVER (PARTITION BY md5(text)
                                     ORDER BY doc_id) AS rn
           FROM quality),
    {_CONTAM_SET_CTES}
    SELECT d.doc_id,
           CASE WHEN q.doc_id IS NULL THEN 'low_quality'
                WHEN k.rn <> 1 THEN 'exact_dup'
                WHEN d.doc_id % {BENCH_MOD} = 0 THEN 'benchmark_member'
                WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                WHEN NOT d.coin THEN 'not_sampled'
                ELSE 'keep' END AS verdict
    FROM (SELECT doc_id, ({_HASH_BUCKET_SQL} < {_RATE_SQL}) AS coin
          FROM documents) d
    LEFT JOIN (SELECT doc_id FROM quality) q USING (doc_id)
    LEFT JOIN dq k USING (doc_id)
    LEFT JOIN contaminated ct USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def doc_curation_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document verdict table — the artifact a data owner
    actually reads when asking "why was my document dropped": every
    doc labeled with the FIRST stage of the curation funnel that
    rejects it (low_quality → exact_dup → benchmark_member →
    contaminated → not_sampled → keep), using semantics identical to
    corpus_curation_pipeline (the two compose the same
    _survival_flags scan — the funnel's stage counts ARE this table's
    verdict histogram, cumulatively).

    Scale: identical to the funnel query — one flag scan, one hash
    window, the contamination join — because it IS the same plan with
    a CASE projection instead of a final aggregate.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    verdict = (
        F.when(~F.col("q"), "low_quality")
        .when(~F.col("dedup_keep"), "exact_dup")
        .when(F.col("doc_id") % BENCH_MOD == 0, "benchmark_member")
        .when(F.col("contam").isNotNull(), "contaminated")
        .when(~F.col("coin"), "not_sampled")
        .otherwise("keep")
    )
    return (
        _survival_flags(docs)
        .select("doc_id", verdict.alias("verdict"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_shard_packing — token-budget shard assignment for training layout.
# --------------------------------------------------------------------------
SHARD_TOKEN_BUDGET = 2_000


@query(
    "doc_shard_packing",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, lang, len(str_split(text, ' '))::BIGINT AS n_toks
        FROM documents
    ),
    packed AS (
        SELECT doc_id, lang, n_toks,
               floor((sum(n_toks) OVER (PARTITION BY lang ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      - n_toks) * 1.0 / {SHARD_TOKEN_BUDGET})::BIGINT AS shard_id
        FROM sized
    )
    SELECT lang, shard_id,
           count(*)::BIGINT        AS n_docs,
           sum(n_toks)::BIGINT     AS sum_tokens,
           min(doc_id)             AS first_doc,
           max(doc_id)             AS last_doc
    FROM packed
    GROUP BY lang, shard_id
    ORDER BY lang, shard_id
    """,
)
def doc_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed token-budget training shards: within
    each language, docs are laid out in doc_id order and a document
    starts in the shard its EXCLUSIVE running token offset falls in
    (offset div budget) — the deterministic contiguous-layout rule a
    tokenize-and-concatenate training pipeline uses to split a corpus
    into ~equal shard files.

    One window shuffle on lang (the layout key), one rollup. Offsets,
    not greedy bin-packing state: the assignment for a doc depends
    only on the prefix sum before it, so it is reproducible, O(1) per
    row, and recomputable incrementally when docs are appended — the
    property that matters when re-sharding a 100 TB corpus. At real
    scale the partition key is (lang, doc_id range) and the prefix
    offsets chain across ranges from a per-range token-total manifest.
    """
    docs = load_table(spark, sf_dir, "documents")
    return (
        assign_shards(docs)
        .groupBy("lang", "shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_toks").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "shard_id")
    )


def assign_shards(
    docs: DataFrame, budget: int = SHARD_TOKEN_BUDGET
) -> DataFrame:
    """Per-document shard assignment (doc_id, lang, n_toks, shard_id):
    shard = exclusive-prefix token offset div budget, within lang in
    doc_id order. Shared by the doc_shard_packing query (aggregated
    view) and write_training_shards (the physical writer)."""
    sized = docs.select(
        "doc_id", "lang", F.size(F.split("text", " ")).cast("long").alias("n_toks")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # floor, explicitly, on BOTH sides: Spark's double->long cast
    # truncates but DuckDB's ::BIGINT rounds half-even, so an implicit
    # cast silently disagrees at shard boundaries.
    return sized.withColumn(
        "shard_id",
        F.floor((F.sum("n_toks").over(w) - F.col("n_toks")) / budget).cast("long"),
    )


# --------------------------------------------------------------------------
# corpus_sample_exact_k — exactly-k-per-group deterministic sampling.
# --------------------------------------------------------------------------
SAMPLE_EXACT_K = 20


@query(
    "corpus_sample_exact_k",
    oracle=f"""
    SELECT lang, doc_id, rk FROM (
        SELECT lang, doc_id,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
        FROM documents)
    WHERE rk <= {SAMPLE_EXACT_K}
    ORDER BY lang, rk
    """,
)
def corpus_sample_exact_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACTLY k documents per language, deterministically: rank by
    md5(doc_id) within each group and keep the first k.

    The rate-based sampler (corpus_sample_stratified) is map-only but
    delivers a BINOMIAL count per group; when the contract is "exactly
    k eval docs per language", you rank on the hash instead — one
    window shuffle on the group key, still reproducible across
    runs/engines, and stable under corpus growth in the sense that a
    doc only leaves the sample when a lower-hashed doc arrives. At
    100 TB with a hot group, pre-filter with a loose hash-threshold
    pass (keep ~3k per group probabilistically, map-only) before the
    exact rank, so the window sorts thousands, not billions.
    """
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= SAMPLE_EXACT_K)
        .orderBy("lang", "rk")
    )


# --------------------------------------------------------------------------
# corpus_sample_pps — token-weighted systematic sampling (PPS).
# --------------------------------------------------------------------------
PPS_K = 120  # lattice points = total hit count (exactly, by telescoping)


@query(
    "corpus_sample_pps",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang,
               len(str_split(text, ' '))::BIGINT AS n_tokens
        FROM documents
    ), pre AS (
        SELECT doc_id, lang, n_tokens,
               (sum(n_tokens) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - n_tokens)::BIGINT AS cum_before,
               sum(n_tokens) OVER ()::BIGINT AS total
        FROM toks
    ), hits AS (
        SELECT doc_id, lang, n_tokens, cum_before,
               (((cum_before + n_tokens) * {PPS_K} + total - 1) // total
                - (cum_before * {PPS_K} + total - 1) // total)::BIGINT
                   AS n_hits
        FROM pre
    )
    SELECT doc_id, lang, n_tokens, cum_before, n_hits
    FROM hits WHERE n_hits >= 1 ORDER BY doc_id
    """,
)
def corpus_sample_pps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sampling: lay
    PPS_K evenly spaced lattice points over the corpus's cumulative
    token axis (anchor 0) and keep every document whose token interval
    [cum_before, cum_before + n_tokens) contains one; n_hits — the
    interval's lattice count, ceil((end*K)/T) - ceil((start*K)/T) —
    is the standard PPS replication factor for long documents.

    This is the WEIGHTED sampler the hash-coin family can't express:
    stratified/exact-k pick documents uniformly, so a token-budgeted
    eval slice over-represents short documents; PPS hits each doc
    with probability ∝ its token mass using pure integer arithmetic —
    no RNG, no libm (the parity hazard a u^(1/w) A-ES key would
    carry), reproducible across engines and partitionings. The prefix
    sum is the distributed one (prefix.global_prefix — range
    partition + broadcast offsets, never Spark's single-partition
    global window); output is ≤ PPS_K rows (total hits telescope to
    exactly K), so the materialize-then-release idiom of
    revenue_pareto applies.
    """

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    with global_prefix(
        spark, docs, [F.col("doc_id")], cum_cols=("n_tokens",)
    ) as (aug, totals):
        total = totals["n_tokens"]
        out = (
            aug.withColumn(
                "cum_before", (F.col("cum_n_tokens") - F.col("n_tokens"))
            )
            .withColumn(
                "n_hits",
                F.expr(
                    f"((cum_before + n_tokens) * {PPS_K} + {total} - 1)"
                    f" div {total}"
                    f" - (cum_before * {PPS_K} + {total} - 1) div {total}"
                ),
            )
            .where(F.col("n_hits") >= 1)
            .select("doc_id", "lang", "n_tokens", "cum_before", "n_hits")
            .orderBy("doc_id")
        )
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# corpus_source_drift — per-source language-mix drift vs the corpus.
# --------------------------------------------------------------------------
@query(
    "corpus_source_drift",
    oracle="""
    WITH per AS (SELECT source, lang, count(*)::DOUBLE AS n
                 FROM documents GROUP BY 1, 2),
    shares AS (
        SELECT source, lang, n,
               n / sum(n) OVER (PARTITION BY source)                  AS ps,
               sum(n) OVER (PARTITION BY lang) / sum(n) OVER ()       AS pg
        FROM per
    )
    SELECT source,
           round(sum(ps * ln(ps / pg)), 6) AS kl_vs_corpus,
           round(max(abs(ps - pg)), 6)     AS max_share_delta
    FROM shares GROUP BY source ORDER BY source
    """,
)
def corpus_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-monitoring signal: per-source language-share KL
    divergence against the corpus-wide language mix, plus the largest
    absolute share delta — the drift alarm a curation pipeline watches
    when a source's crawl composition shifts.

    Scale: one (source × lang) count aggregate over the corpus; the
    window arithmetic runs on the tiny counts frame (|sources|·|langs|
    rows), so the global-share windows are negligible even though one
    is unpartitioned.
    """
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count("*").cast("double").alias("n")
    )
    ps = F.col("n") / F.sum("n").over(Window.partitionBy("source"))
    pg = F.sum("n").over(Window.partitionBy("lang")) / F.sum("n").over(
        Window.partitionBy()
    )
    return (
        per.select("source", ps.alias("ps"), pg.alias("pg"))
        .groupBy("source")
        .agg(
            F.round(F.sum(F.col("ps") * F.log(F.col("ps") / F.col("pg"))), 6).alias(
                "kl_vs_corpus"
            ),
            F.round(F.max(F.abs(F.col("ps") - F.col("pg"))), 6).alias(
                "max_share_delta"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# corpus_snapshot_diff — what changed between two corpus versions.
# --------------------------------------------------------------------------
@query(
    "corpus_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT doc_id, source, md5(text) AS fp FROM documents
        WHERE doc_id % 3 <> 0
    ),
    new AS (
        -- docs with doc_id % 7 = 0 are "edited" in the new snapshot
        SELECT doc_id, source,
               md5(CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END) AS fp
        FROM documents WHERE doc_id % 2 <> 0
    ),
    joined AS (
        SELECT coalesce(n.source, o.source) AS source,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN n.fp = o.fp THEN 'unchanged'
                    ELSE 'modified' END AS change
        FROM new n FULL OUTER JOIN old o USING (doc_id)
    )
    SELECT source, change, count(*) AS n_docs
    FROM joined
    GROUP BY source, change
    ORDER BY source, change
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-over-version corpus diff: per (source, change-kind) doc
    counts between two snapshots — the audit every corpus release
    publishes (what did this crawl/filter change?). Identity is
    doc_id; content identity is a full-text fingerprint, so the four
    states are added / removed / modified / unchanged (docs with
    doc_id % 7 = 0 are deterministically 'edited' in the new snapshot
    so the modified branch is exercised, not vacuous). Snapshot slices
    are deterministic id-arithmetic stand-ins for two real corpus
    versions (the same convention as snapshot_incremental_dedup).

    Scale: both sides project (doc_id, source, fp) — the fingerprint
    collapses full text to 32 bytes BEFORE the join, so the full-outer
    join on doc_id (the natural bucket key: co-located, zero-shuffle
    under a bucketed layout) never moves text; the classification is
    a CASE over the join result and the rollup is a tiny aggregate.
    Full-outer is required — added and removed rows each exist on one
    side only (same pattern as user_day_activity_fulljoin).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.md5("text").alias("fp")
    )
    old = docs.where(F.col("doc_id") % 3 != 0).select(
        F.col("doc_id"), F.col("source").alias("o_source"), F.col("fp").alias("o_fp")
    )
    edited = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.md5(
            F.when(F.col("doc_id") % 7 == 0, F.upper("text")).otherwise(F.col("text"))
        ).alias("fp"),
    )
    new = edited.where(F.col("doc_id") % 2 != 0).select(
        F.col("doc_id"), F.col("source").alias("n_source"), F.col("fp").alias("n_fp")
    )
    return (
        new.join(old, "doc_id", "full_outer")
        .select(
            F.coalesce("n_source", "o_source").alias("source"),
            F.when(F.col("o_fp").isNull(), "added")
            .when(F.col("n_fp").isNull(), "removed")
            .when(F.col("n_fp") == F.col("o_fp"), "unchanged")
            .otherwise("modified")
            .alias("change"),
        )
        .groupBy("source", "change")
        .agg(F.count("*").alias("n_docs"))
        .orderBy("source", "change")
    )


# The ONE split-assignment rule (engine + SQL forms): md5 of the key,
# first 15 hex digits, mod 10 -> buckets 8='val', 9='test', else 'train'.
_SPLIT_BUCKET_EXPR = (
    "cast(conv(substring(md5(cast({col} as string)), 1, 15), 16, 10)"
    " as bigint) % 10"
)
_SPLIT_BUCKET_SQL = _hash_raw_sql("{col}::VARCHAR", 15) + " % 10"


def _split_name(col_sql: str) -> str:
    return (
        f"CASE {_SPLIT_BUCKET_SQL.format(col=col_sql)} "
        "WHEN 8 THEN 'val' WHEN 9 THEN 'test' ELSE 'train' END"
    )


def _split_name_col(col_sql: str) -> "F.Column":
    b = F.expr(_SPLIT_BUCKET_EXPR.format(col=col_sql))
    return F.when(b == 8, "val").when(b == 9, "test").otherwise("train")


# --------------------------------------------------------------------------
# cluster_aware_split — leakage-free train/val/test assignment.
# --------------------------------------------------------------------------
@query(
    "cluster_aware_split",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    reps AS (SELECT u AS doc_id, min(v) AS rep FROM reach GROUP BY u),
    assigned AS (
        SELECT d.doc_id,
               coalesce(r.rep, d.doc_id) AS rep,
               {_split_name("coalesce(r.rep, d.doc_id)")} AS split
        FROM documents d LEFT JOIN reps r USING (doc_id)
    )
    SELECT split, count(*) AS n_docs,
           count(DISTINCT rep) AS n_clusters
    FROM assigned
    GROUP BY split
    ORDER BY split
    """,
)
def cluster_aware_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test assignment that CANNOT leak near-duplicates
    across splits: the split is hashed from the doc's near-dup CLUSTER
    representative (dedup_clusters' transitive closure; singletons are
    their own rep), so every member of a near-dup cluster lands in the
    same split by construction — the leakage guard a naive per-doc
    hash split lacks (a val doc with a train near-copy inflates eval).
    80/10/10 by md5(rep) % 10; md5 is engine-identical, so assignment
    is reproducible everywhere.

    Scale: the cluster closure is dedup_clusters' banded/iterative
    plan; attaching reps is a left join on doc_id (bucket key), and
    the summary is a 3-row aggregate. The per-doc assignment frame
    (doc_id, rep, split) is the actual product — the summary keeps the
    oracle bounded.
    """
    from open_pulsar_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    reps = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_rep")
    assigned = docs.join(reps, "doc_id", "left").select(
        "doc_id",
        F.coalesce("cluster_rep", "doc_id").alias("rep"),
    )
    return (
        assigned.withColumn("split", _split_name_col("rep"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("rep").alias("n_clusters"),
        )
        .orderBy("split")
    )


# --------------------------------------------------------------------------
# corpus_temperature_mix — temperature-based source sampling probabilities.
# --------------------------------------------------------------------------
MIX_TEMPERATURE = 0.7   # α: p_i ∝ share_i^α (α=1 natural, α→0 uniform)


@query(
    "corpus_temperature_mix",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               count(*)                               AS n_docs,
               sum(len(str_split(text, ' ')))::BIGINT AS n_tokens
        FROM documents GROUP BY source),
    shares AS (
        SELECT source, n_docs, n_tokens,
               n_tokens * 1.0 / sum(n_tokens) OVER () AS p_raw
        FROM per_source)
    SELECT source, n_docs, n_tokens,
           round(p_raw, 6) AS p_raw,
           round(pow(p_raw, {MIX_TEMPERATURE})
                 / sum(pow(p_raw, {MIX_TEMPERATURE})) OVER (), 6) AS p_temp,
           round(pow(p_raw, {MIX_TEMPERATURE})
                 / sum(pow(p_raw, {MIX_TEMPERATURE})) OVER ()
                 / p_raw, 6) AS boost
    FROM shares ORDER BY source
    """,
)
def corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source sampling: p_i ∝ (token share)^α with
    α={MIX_TEMPERATURE} — the multilingual-LM mixing rule (mT5/XLM-R)
    that up-samples tail sources smoothly instead of snapping every
    source to uniform. Complements corpus_mix_weights (uniform target,
    hard 5× cap): temperature keeps the mix ordered by size — a
    source never outweighs a bigger one — while the boost column
    reports the effective per-source oversampling an epoch scheduler
    applies.

    Scale: one rollup shuffle to O(#sources) rows; the tempered
    normalization is a window over that tiny frame. The double-sum in
    the normalizer is over #sources values; 6-dp rounding absorbs
    engine summation-order differences (similarity.py's float-parity
    contract).
    """
    docs = load_table(spark, sf_dir, "documents")
    per_source = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
    )
    w = Window.partitionBy()
    p_raw = F.col("n_tokens") * F.lit(1.0) / F.sum("n_tokens").over(w)
    shares = per_source.withColumn("p_raw", p_raw)
    tempered = F.pow(F.col("p_raw"), F.lit(MIX_TEMPERATURE))
    p_temp = tempered / F.sum(tempered).over(w)
    return shares.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("p_raw", 6).alias("p_raw"),
        F.round(p_temp, 6).alias("p_temp"),
        F.round(p_temp / F.col("p_raw"), 6).alias("boost"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# curation_agreement_kappa — do the two curation raters agree?
# --------------------------------------------------------------------------
def _kappa_oracle() -> str:
    # composes text._QUALITY_Q_CTE — the ONE definition of the quality
    # weights — so a weight change cannot desynchronize this oracle
    from open_pulsar_spark.operators.text import _LLM_SCORE_SQL, _QUALITY_Q_CTE

    return f"""
    WITH {_QUALITY_Q_CTE},
    r AS (SELECT CASE WHEN q.quality >= 0.6 THEN 1 ELSE 0 END AS ra,
                 CASE WHEN {_LLM_SCORE_SQL.format(col="d.text")} >= 0.5
                      THEN 1 ELSE 0 END AS rb
          FROM q JOIN documents d USING (doc_id)),
    m AS (SELECT count(*) AS n,
                 sum(CASE WHEN ra = 1 AND rb = 1 THEN 1 ELSE 0 END) AS kk,
                 sum(CASE WHEN ra = 0 AND rb = 0 THEN 1 ELSE 0 END) AS dd,
                 sum(ra) AS a_keep, sum(rb) AS b_keep
          FROM r)
    SELECT n::BIGINT AS n_docs,
           (kk + dd)::BIGINT AS n_agree,
           round((kk + dd) * 1.0 / n, 6) AS po,
           round((a_keep * b_keep + (n - a_keep) * (n - b_keep)) * 1.0
                 / (n * n), 6) AS pe,
           CASE WHEN a_keep * b_keep + (n - a_keep) * (n - b_keep) = n * n
                THEN NULL
                ELSE round(((kk + dd) * 1.0 / n
                            - (a_keep * b_keep + (n - a_keep) * (n - b_keep))
                              * 1.0 / (n * n))
                           / (1.0 - (a_keep * b_keep
                                     + (n - a_keep) * (n - b_keep))
                                    * 1.0 / (n * n)), 6)
           END AS kappa
    FROM m
    """


@query("curation_agreement_kappa", oracle=_kappa_oracle())
def curation_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the engine's two keep/drop raters — the
    heuristic quality gate (doc_quality_score, threshold 0.6) and the
    model scorer (doc_llm_score's deterministic md5 stub, threshold
    0.5): chance-corrected agreement po−pe / 1−pe, the standard
    annotator-reliability check run before trusting either filter's
    verdicts as training labels. κ≈0 here is the expected answer for
    an md5 stub (independent of quality by construction) — swapping a
    real classifier into the same seam makes this the live audit.
    Degenerate marginals (pe = 1) yield NULL rather than 0/0.

    Scale: one map-only pass computes both verdicts per document (the
    model column is the same JVM md5 expression the oracle uses — no
    Python boundary), then a single 4-counter aggregate; the kappa
    arithmetic runs on one driver-sized row. Integer counts all the
    way to the final division, so Spark/DuckDB parity is exact.
    """
    from open_pulsar_spark.operators.text import llm_score_col, quality_from_toks

    docs = load_table(spark, sf_dir, "documents")
    model = llm_score_col("text")
    # toks hoisted (performance note at text.quality_from_toks)
    r = docs.select(
        F.split("text", " ").alias("toks"),
        F.when(model >= 0.5, 1).otherwise(0).alias("rb"),
    ).select(
        F.when(quality_from_toks(F.col("toks")) >= 0.6, 1)
        .otherwise(0)
        .alias("ra"),
        "rb",
    )
    m = r.agg(
        F.count("*").alias("n"),
        F.sum(F.when((F.col("ra") == 1) & (F.col("rb") == 1), 1).otherwise(0)).alias("kk"),
        F.sum(F.when((F.col("ra") == 0) & (F.col("rb") == 0), 1).otherwise(0)).alias("dd"),
        F.sum("ra").alias("a_keep"),
        F.sum("rb").alias("b_keep"),
    )
    n, kk, dd = F.col("n"), F.col("kk"), F.col("dd")
    ak, bk = F.col("a_keep"), F.col("b_keep")
    chance = (ak * bk + (n - ak) * (n - bk)) * 1.0 / (n * n)
    po = (kk + dd) * 1.0 / n
    return m.select(
        n.cast("bigint").alias("n_docs"),
        (kk + dd).cast("bigint").alias("n_agree"),
        F.round(po, 6).alias("po"),
        F.round(chance, 6).alias("pe"),
        F.when(
            ak * bk + (n - ak) * (n - bk) == n * n,
            F.lit(None).cast("double"),
        )
        .otherwise(F.round((po - chance) / (1.0 - chance), 6))
        .alias("kappa"),
    )


# --------------------------------------------------------------------------
# split_leakage_audit — measure what cluster_aware_split prevents.
# --------------------------------------------------------------------------
def _leakage_oracle() -> str:
    from open_pulsar_spark.operators.dedup import _CLOSURE_CTES

    return f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    {_CLOSURE_CTES},
    assigned AS (
        SELECT d.doc_id,
               {_split_name('d.doc_id')} AS naive_split,
               {_split_name('coalesce(l.cluster_rep, d.doc_id)')} AS cluster_split
        FROM documents d LEFT JOIN labels l ON l.ldoc = d.doc_id
    ),
    m AS (
        SELECT count(*) AS n_pairs,
               sum(CASE WHEN a.naive_split <> b.naive_split
                        THEN 1 ELSE 0 END) AS naive_cross,
               sum(CASE WHEN a.cluster_split <> b.cluster_split
                        THEN 1 ELSE 0 END) AS cluster_cross
        FROM pairs p
        JOIN assigned a ON p.a_id = a.doc_id
        JOIN assigned b ON p.b_id = b.doc_id
    )
    SELECT 'cluster' AS policy, n_pairs::BIGINT AS n_pairs,
           cluster_cross::BIGINT AS n_cross_split,
           CASE WHEN n_pairs = 0 THEN NULL
                ELSE round(cluster_cross * 1.0 / n_pairs, 6) END AS leak_rate
    FROM m
    UNION ALL
    SELECT 'naive', n_pairs::BIGINT, naive_cross::BIGINT,
           CASE WHEN n_pairs = 0 THEN NULL
                ELSE round(naive_cross * 1.0 / n_pairs, 6) END
    FROM m
    ORDER BY policy
    """


@query("split_leakage_audit", oracle=_leakage_oracle())
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantifies the eval-set contamination each split policy admits:
    of all verified near-dup pairs, how many straddle a split boundary
    under (a) the naive per-doc hash split and (b) the cluster-aware
    split. The cluster policy's count is ZERO BY CONSTRUCTION (both
    members hash the same representative) — this query is the audit
    that proves it on data and prices the naive policy's leakage, the
    number an eval-integrity review asks for first.

    Scale: reuses the minhash pair pipeline and the cluster closure
    (both already linear-measured); the audit itself is two key joins
    of the pair list against the per-doc assignment and ONE aggregate
    producing a single row — the two policy rows are stack()ed from
    it rather than re-scanning anything (the 1-row-agg/N-branches
    anti-pattern this module's review history flags).
    """
    from open_pulsar_spark.operators.dedup import _minhash_pairs, closure_labels

    # ONE minhash pass: pin the verified pair list and materialize it,
    # then feed BOTH consumers (the closure and the audit join) from
    # the cache — calling dedup_clusters here would re-run the whole
    # signature scan + band join a second time.
    pairs = pin(
        "leakage_pairs",
        _minhash_pairs(spark, sf_dir).select("a_id", "b_id"),
        fill=True,
    )
    reps = closure_labels(spark, pairs).select(
        F.col("u").alias("doc_id"), F.col("label").alias("cluster_rep")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    assign = docs.join(reps, "doc_id", "left").select(
        "doc_id",
        _split_name_col("doc_id").alias("naive_split"),
        _split_name_col("coalesce(cluster_rep, doc_id)").alias(
            "cluster_split"
        ),
    )
    a = assign.select(
        F.col("doc_id").alias("a_id"),
        F.col("naive_split").alias("na"),
        F.col("cluster_split").alias("ca"),
    )
    b = assign.select(
        F.col("doc_id").alias("b_id"),
        F.col("naive_split").alias("nb"),
        F.col("cluster_split").alias("cb"),
    )
    m = (
        pairs.join(a, "a_id")
        .join(b, "b_id")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(F.when(F.col("na") != F.col("nb"), 1).otherwise(0)).alias(
                "naive_cross"
            ),
            F.sum(F.when(F.col("ca") != F.col("cb"), 1).otherwise(0)).alias(
                "cluster_cross"
            ),
        )
    )
    stacked = m.select(
        F.expr(
            "stack(2, 'cluster', n_pairs, cluster_cross,"
            " 'naive', n_pairs, naive_cross)"
            " as (policy, n_pairs, n_cross_split)"
        )
    )
    return stacked.select(
        "policy",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("n_cross_split").cast("bigint").alias("n_cross_split"),
        F.when(F.col("n_pairs") == 0, F.lit(None).cast("double"))
        .otherwise(F.round(F.col("n_cross_split") * 1.0 / F.col("n_pairs"), 6))
        .alias("leak_rate"),
    ).orderBy("policy")


# --------------------------------------------------------------------------
# dedup_token_savings — what near-dup dedup is worth, in tokens.
# --------------------------------------------------------------------------
def _token_savings_oracle() -> str:
    from open_pulsar_spark.operators.dedup import _CLOSURE_CTES

    return f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    {_CLOSURE_CTES}
    SELECT d.source,
           count(*)::BIGINT AS n_docs,
           sum(len(str_split(d.text, ' ')))::BIGINT AS n_tokens,
           sum(CASE WHEN l.ldoc IS NULL OR l.cluster_rep = d.doc_id
                    THEN 1 ELSE 0 END)::BIGINT AS n_docs_kept,
           sum(CASE WHEN l.ldoc IS NULL OR l.cluster_rep = d.doc_id
                    THEN len(str_split(d.text, ' ')) ELSE 0 END)::BIGINT
               AS n_tokens_kept,
           round(1.0 - sum(CASE WHEN l.ldoc IS NULL OR l.cluster_rep = d.doc_id
                                THEN len(str_split(d.text, ' ')) ELSE 0 END)
                       * 1.0 / sum(len(str_split(d.text, ' '))), 6)
               AS token_savings
    FROM documents d LEFT JOIN labels l ON l.ldoc = d.doc_id
    GROUP BY d.source
    ORDER BY d.source
    """


@query("dedup_token_savings", oracle=_token_savings_oracle())
def dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TOKEN cost of near-duplication: documents and tokens
    before vs after keep-the-representative dedup (dedup_clusters'
    min-id survivor; singletons survive), and the fraction of training
    tokens dedup deletes. Doc counts understate the win — near-dups
    cluster among LONG boilerplate documents — so budget planning and
    per-source mixing (corpus_mix_weights consumes token masses, not
    doc counts) need the token-denominated number.

    Scale: the closure is dedup_clusters' measured-linear plan; this
    adds one token-count projection on the documents scan, a left key
    join to the (small) cluster-member frame, and a |sources|-row
    aggregate. Text is tokenized exactly once, map-side.
    """
    from open_pulsar_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", F.size(F.split("text", " ")).alias("nt")
    )
    reps = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_rep")
    keep = F.col("cluster_rep").isNull() | (
        F.col("cluster_rep") == F.col("doc_id")
    )
    return (
        docs.join(reps, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("nt").cast("bigint").alias("n_tokens"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("bigint").alias(
                "n_docs_kept"
            ),
            F.sum(F.when(keep, F.col("nt")).otherwise(0))
            .cast("bigint")
            .alias("n_tokens_kept"),
            F.round(
                1.0
                - F.sum(F.when(keep, F.col("nt")).otherwise(0))
                * 1.0
                / F.sum("nt"),
                6,
            ).alias("token_savings"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# token_communities — PMI collocation graph -> connected components.
# --------------------------------------------------------------------------
# 60-bit md5 node ids for the closure (tokens are strings; the closure
# machinery labels LONGs) — the shared hash rule at nhex=15.
def _communities_oracle() -> str:
    from open_pulsar_spark.operators.dedup import _CLOSURE_CTES

    closure = _CLOSURE_CTES.replace("FROM pairs", "FROM idp")
    return f"""
    WITH RECURSIVE {_TOKEN_PAIRS_CTES},
    cb AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
    n AS (SELECT sum(c2) AS np FROM cb),
    cl AS (SELECT prev, sum(c2) AS c1l FROM cb GROUP BY prev),
    cr AS (SELECT cur, sum(c2) AS c1r FROM cb GROUP BY cur),
    e AS (
        SELECT prev, cur FROM cb
        JOIN cl USING (prev) JOIN cr USING (cur) CROSS JOIN n
        WHERE c2 >= {PMI_MIN_COUNT} AND c2 * np > c1l * c1r
    ),
    idp AS (SELECT {_hash_raw_sql('prev', 15)} AS a_id,
                   {_hash_raw_sql('cur', 15)} AS b_id
            FROM e),
    {closure},
    nodes AS (
        SELECT DISTINCT t, {_hash_raw_sql('t', 15)} AS h
        FROM (SELECT prev AS t FROM e UNION SELECT cur FROM e)
    ),
    lab AS (SELECT nd.t, l.cluster_rep
            FROM nodes nd JOIN labels l ON l.ldoc = nd.h),
    sz AS (SELECT cluster_rep, count(*) AS n_members FROM lab GROUP BY 1)
    SELECT lab.t AS token, r.t AS community,
           sz.n_members::BIGINT AS n_members
    FROM lab
    JOIN nodes r ON r.h = lab.cluster_rep
    JOIN sz USING (cluster_rep)
    ORDER BY community, token
    """


@query("token_communities", oracle=_communities_oracle())
def token_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components of the POSITIVE-PMI collocation graph —
    word communities: tokens linked (directly or transitively) by
    above-chance adjacency. The phrase candidates token_pmi_pairs
    ranks are this graph's edges; the components are the level up —
    topic/phrase fields a vocabulary designer reviews as units, and
    the same composition (association edges → closure) a product
    team runs on co-view/co-purchase graphs. Edge admission is the
    INTEGER predicate c2·N > c1l·c1r (PMI > 0 exactly, no logarithm
    anywhere), floored at {PMI_MIN_COUNT} pair occurrences; node ids
    are 60-bit md5 hashes so the closure runs on longs and both
    engines agree on representatives (min hash id; its token is the
    reported community name).

    Scale: the pair explode is the shared _token_pairs scan; edges
    are vocab²-bounded and floored; the closure is closure_labels'
    measured path (union-find under SMALL_GRAPH_PAIRS, distributed
    min-label above); everything downstream is component-sized.
    """
    from open_pulsar_spark.operators.dedup import closure_labels

    docs = load_table(spark, sf_dir, "documents")
    cb = pin(
        "community_pair_counts",
        _token_pairs(docs).groupBy("prev", "cur").agg(F.count("*").alias("c2")),
        fill=False,
    )
    cl = cb.groupBy("prev").agg(F.sum("c2").alias("c1l"))
    cr = cb.groupBy("cur").agg(F.sum("c2").alias("c1r"))
    tot = cb.agg(F.sum("c2").alias("np"))
    e = pin(
        "community_edges",
        cb.where(F.col("c2") >= PMI_MIN_COUNT)
        .join(cl, "prev")
        .join(cr, "cur")
        .crossJoin(F.broadcast(tot))
        .where(F.col("c2") * F.col("np") > F.col("c1l") * F.col("c1r"))
        .select("prev", "cur"),
        fill=False,
    )
    idp = e.select(
        _hash_raw_spark(F.col("prev"), 15).alias("a_id"),
        _hash_raw_spark(F.col("cur"), 15).alias("b_id"),
    )
    labels = closure_labels(spark, idp)
    nodes = (
        e.select(F.col("prev").alias("t"))
        .union(e.select("cur"))
        .distinct()
        .withColumn("h", _hash_raw_spark(F.col("t"), 15))
    )
    lab = nodes.join(labels, nodes["h"] == labels["u"]).select(
        "t", F.col("label").alias("cluster_rep")
    )
    sz = lab.groupBy("cluster_rep").agg(
        F.count("*").cast("bigint").alias("n_members")
    )
    reps = nodes.select(
        F.col("h").alias("cluster_rep"), F.col("t").alias("community")
    )
    return (
        lab.join(reps, "cluster_rep")
        .join(sz, "cluster_rep")
        .select(F.col("t").alias("token"), "community", "n_members")
        .orderBy("community", "token")
    )


# --------------------------------------------------------------------------
# context_window_packing — fixed-context concat-and-chunk layout profile
# (the LLM pretraining packing: how many windows, how much padding, how
# many documents fragment across window boundaries).
# --------------------------------------------------------------------------
CTX_TOKENS = 512


@query(
    "context_window_packing",
    oracle=f"""
    WITH sized AS (
        SELECT doc_id, source,
               len(str_split(text, ' '))::BIGINT AS n_toks
        FROM documents),
    laid AS (
        SELECT doc_id, source, n_toks,
               (sum(n_toks) OVER (PARTITION BY source ORDER BY doc_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) - n_toks) AS start_off
        FROM sized),
    marked AS (
        SELECT source, n_toks,
               CASE WHEN start_off // {CTX_TOKENS}
                        <> (start_off + n_toks - 1) // {CTX_TOKENS}
                    THEN 1 ELSE 0 END AS split
        FROM laid)
    SELECT source,
           count(*)::BIGINT AS n_docs,
           sum(n_toks)::BIGINT AS total_tokens,
           ((sum(n_toks) + {CTX_TOKENS} - 1) // {CTX_TOKENS})::BIGINT
               AS n_windows,
           (((sum(n_toks) + {CTX_TOKENS} - 1) // {CTX_TOKENS})
               * {CTX_TOKENS} - sum(n_toks))::BIGINT AS pad_tokens,
           ((((sum(n_toks) + {CTX_TOKENS} - 1) // {CTX_TOKENS})
               * {CTX_TOKENS} - sum(n_toks)) * 1000000
               // (((sum(n_toks) + {CTX_TOKENS} - 1) // {CTX_TOKENS})
                   * {CTX_TOKENS}))::BIGINT AS pad_ppm,
           sum(split)::BIGINT AS split_docs,
           (sum(split) * 1000000 // count(*))::BIGINT AS split_ppm
    FROM marked
    GROUP BY source
    ORDER BY source
    """,
)
def context_window_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-context PACKING profile per source: lay each source's
    documents out in doc_id order, concatenate, and chunk into
    {CTX_TOKENS}-token training windows (the standard LLM pretraining
    'concat-and-chunk' — no per-document padding, one partial window
    at the end). Reports window count, padding (absolute + ppm — the
    compute wasted on pad tokens), and the documents that FRAGMENT
    across a window boundary (split_docs / split_ppm — the fraction of
    examples whose context is cut mid-document, the quality cost the
    padding saving buys). Next to doc_shard_packing (file-level
    layout) this is the example-level layout readout a training-data
    team quotes when choosing context length and whether to add
    document-boundary resets.

    Determinism: a doc splits iff its exclusive prefix offset and its
    last token land in different windows — pure integer trunc-div on
    non-negative operands, identical in both engines; every reported
    quantity is an exact integer.

    Scale: one window shuffle on the layout key (source, doc_id
    order) for the prefix offsets, then one aggregate per source. At
    100 TB the per-source prefix chains across doc_id ranges from a
    per-range token-total manifest exactly like doc_shard_packing —
    the assignment depends only on the prefix sum, so it is
    incrementally recomputable when docs are appended."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_toks"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    laid = sized.withColumn(
        "start_off", F.sum("n_toks").over(w) - F.col("n_toks")
    )
    marked = laid.select(
        "source",
        "n_toks",
        F.expr(
            f"CASE WHEN start_off div {CTX_TOKENS}"
            f" <> (start_off + n_toks - 1) div {CTX_TOKENS}"
            " THEN 1 ELSE 0 END"
        ).alias("split"),
    )
    nw = f"((sum(n_toks) + {CTX_TOKENS} - 1) div {CTX_TOKENS})"
    return (
        marked.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("total_tokens"),
            F.expr(f"cast({nw} as bigint)").alias("n_windows"),
            F.expr(
                f"cast({nw} * {CTX_TOKENS} - sum(n_toks) as bigint)"
            ).alias("pad_tokens"),
            F.expr(
                f"cast(({nw} * {CTX_TOKENS} - sum(n_toks)) * 1000000"
                f" div ({nw} * {CTX_TOKENS}) as bigint)"
            ).alias("pad_ppm"),
            F.sum("split").cast("bigint").alias("split_docs"),
            F.expr(
                "cast(sum(split) * 1000000 div count(*) as bigint)"
            ).alias("split_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# chunk_overlap_grid — RAG chunking-policy cost curve: emitted-token
# redundancy for a grid of (chunk_size, overlap) configs.
# --------------------------------------------------------------------------
CHUNK_GRID = ((256, 0), (256, 32), (512, 0), (512, 64), (512, 128))


@query(
    "chunk_overlap_grid",
    oracle=f"""
    WITH sized AS (
        SELECT len(str_split(text, ' '))::BIGINT AS n FROM documents),
    g AS (SELECT s, o FROM (VALUES
            {", ".join(f"({s}, {o})" for s, o in CHUNK_GRID)}) AS t(s, o)),
    per AS (
        SELECT g.s, g.o, sized.n,
               CASE WHEN sized.n <= g.s THEN 1
                    ELSE 1 + (sized.n - g.s + (g.s - g.o) - 1)
                             // (g.s - g.o) END AS m
        FROM g CROSS JOIN sized)
    SELECT s AS chunk_tokens, o AS overlap_tokens,
           count(*)::BIGINT AS n_docs,
           sum(m)::BIGINT AS n_chunks,
           sum(n)::BIGINT AS corpus_tokens,
           sum(n + (m - 1) * o)::BIGINT AS emitted_tokens,
           (sum((m - 1) * o) * 1000000
               // sum(n + (m - 1) * o))::BIGINT AS redundancy_ppm
    FROM per
    GROUP BY s, o
    ORDER BY chunk_tokens, overlap_tokens
    """,
)
def chunk_overlap_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking-policy COST CURVE: for each (chunk_size, overlap)
    config in {CHUNK_GRID}, the chunk count, the emitted token volume
    and its redundancy (ppm of emitted tokens that are overlap
    copies) over the whole corpus — the storage/embedding-compute
    price of boundary context, from closed-form integer arithmetic
    per document (chunks m = 1 + ceil((n−s)/(s−o)); emitted = n +
    (m−1)·o — no chunk materialization at all). Read next to
    doc_chunk_plan (which lays out ONE policy's actual chunks):
    sweep here, materialize there. At embedding prices, redundancy
    ppm × corpus tokens IS the overlap bill.

    Determinism: pure integer ceil-div arithmetic, identical on both
    engines; the grid is a constant VALUES list.

    Scale: one token-count projection per doc, a |grid|× map-side
    explode of the 1-column count frame, one |grid|-group aggregate —
    the whole sweep costs one scan regardless of grid size."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(F.size(F.split("text", " ")).cast("long").alias("n"))
    grid_rows = ", ".join(
        f"struct({s} as s, {o} as o)" for s, o in CHUNK_GRID
    )
    per = sized.select(
        "n", F.explode(F.expr(f"array({grid_rows})")).alias("g")
    ).select(
        F.col("g.s").alias("s"),
        F.col("g.o").alias("o"),
        "n",
        F.expr(
            "CASE WHEN n <= g.s THEN 1"
            " ELSE 1 + (n - g.s + (g.s - g.o) - 1) div (g.s - g.o) END"
        ).alias("m"),
    )
    return (
        per.groupBy(
            F.col("s").alias("chunk_tokens"),
            F.col("o").alias("overlap_tokens"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("m").cast("bigint").alias("n_chunks"),
            F.sum("n").cast("bigint").alias("corpus_tokens"),
            F.sum(F.expr("n + (m - 1) * o"))
            .cast("bigint")
            .alias("emitted_tokens"),
            F.expr(
                "cast(sum((m - 1) * o) * 1000000"
                " div sum(n + (m - 1) * o) as bigint)"
            ).alias("redundancy_ppm"),
        )
        .orderBy("chunk_tokens", "overlap_tokens")
    )


# --------------------------------------------------------------------------
# corpus_neyman_allocation — variance-OPTIMAL stratified sample design
# (proportional allocation is what corpus_sample_stratified executes;
# this computes what the allocation SHOULD be, and what optimality buys).
# --------------------------------------------------------------------------
@query(
    "corpus_neyman_allocation",
    oracle="""
    WITH g AS (
        SELECT source,
               count(*)::HUGEINT AS n_h,
               sum(n_chars)::HUGEINT AS s_h,
               sum(n_chars::HUGEINT * n_chars) AS s2_h
        FROM documents GROUP BY source),
    m AS (
        -- x_h = N_h·Σx² − S² = N_h²·σ_h²; w_h = isqrt(x_h) = N_h·σ_h.
        -- Exact integer sqrt: floor(sqrt(double)) corrected ±1 — the
        -- correction is exact while sqrt(radicand) < ~9e15 (radicand
        -- up to ~8e31, where double conversion + sqrt error stays
        -- under 1), the same contract brand_return_rate_wilson and
        -- event_type_burstiness state.
        SELECT source, n_h, s_h, s2_h,
               (n_h * s2_h - s_h * s_h) AS x_h,
               (SELECT s + (CASE WHEN (s+1)*(s+1) <= (n_h*s2_h - s_h*s_h)
                                 THEN 1 ELSE 0 END)
                          - (CASE WHEN s*s > (n_h*s2_h - s_h*s_h)
                                 THEN 1 ELSE 0 END)
                FROM (SELECT floor(sqrt((n_h*s2_h - s_h*s_h)::DOUBLE))
                          ::HUGEINT AS s)) AS w_h
        FROM g),
    tot AS (
        SELECT sum(n_h) AS n, sum(w_h) AS w,
               sum(x_h * 1000000 // n_h) AS a_scaled
        FROM m)
    SELECT m.source,
           m.n_h::BIGINT AS n_docs,
           (m.s_h // m.n_h)::BIGINT AS mean_chars,
           (m.w_h // m.n_h)::BIGINT AS sigma_chars,
           (m.n_h * 1000000 // (SELECT n FROM tot))::BIGINT
               AS proportional_ppm,
           -- all-constant strata (w = 0): Neyman degenerates to
           -- proportional rather than dividing by zero
           (CASE WHEN (SELECT w FROM tot) > 0
                 THEN m.w_h * 1000000 // (SELECT w FROM tot)
                 ELSE m.n_h * 1000000 // (SELECT n FROM tot)
            END)::BIGINT AS neyman_ppm,
           (SELECT CASE WHEN a_scaled > 0
                   THEN w * w * 1000000 * 1000000 // (n * a_scaled)
                   ELSE 1000000 END FROM tot)::BIGINT
               AS variance_ratio_ppm
    FROM m
    ORDER BY m.source
    """,
)
def corpus_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEYMAN (variance-optimal) allocation for stratified sampling of
    the corpus by source, sized on document length: the optimal share
    of a fixed sampling budget for stratum h is N_h·σ_h / Σ N_k·σ_k —
    big AND internally-diverse sources deserve more of the budget than
    proportional allocation gives them. Output per source: size, mean
    and σ of n_chars, the proportional share corpus_sample_stratified
    would draw, the Neyman share it SHOULD draw, and the realized
    variance ratio V_neyman/V_proportional for estimating mean doc
    length (ppm; < 10⁶ means optimality buys that much variance).

    Determinism — exact integer sqrt as a first-class trick:
    N_h·σ_h = √(N_h·Σx² − S_h²) exactly, so the Neyman weight is the
    INTEGER square root of an exact moment — Python's math.isqrt on
    one side, floor(sqrt(double)) with a ±1 correction on the other
    (exact below the documented ~2^52 envelope). The variance ratio
    closes on a 10⁶-scaled trunc-div grid with the same formula on
    both engines.

    Scale: ONE map-combinable moment aggregate per source; everything
    after runs on the ≤|sources|-row frame, closed in Python ints."""
    import math

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "n_chars"
    )
    g = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_h"),
        F.sum("n_chars").cast("decimal(38,0)").alias("s_h"),
        F.sum(F.expr("cast(n_chars as decimal(38,0)) * n_chars")).alias(
            "s2_h"
        ),
    )
    schema = (
        "source STRING, n_docs BIGINT, mean_chars BIGINT,"
        " sigma_chars BIGINT, proportional_ppm BIGINT, neyman_ppm BIGINT,"
        " variance_ratio_ppm BIGINT"
    )
    rows = sorted(
        (r.source, int(r.n_h), int(r.s_h), int(r.s2_h))
        for r in g.collect()
    )
    if not rows:
        return spark.createDataFrame([], schema)
    m = [
        (src, n_h, s_h, n_h * s2_h - s_h * s_h)
        for src, n_h, s_h, s2_h in rows
    ]
    ws = {src: math.isqrt(x_h) for src, _, _, x_h in m}
    n = sum(r[1] for r in m)
    w = sum(ws.values())
    a_scaled = sum(x_h * 1000000 // n_h for _, n_h, _, x_h in m)
    ratio = (
        w * w * 1000000 * 1000000 // (n * a_scaled)
        if a_scaled > 0
        else 1000000
    )
    out = [
        (
            src,
            n_h,
            s_h // n_h,
            ws[src] // n_h,
            n_h * 1000000 // n,
            ws[src] * 1000000 // w if w > 0 else n_h * 1000000 // n,
            ratio,
        )
        for src, n_h, s_h, x_h in m
    ]
    return spark.createDataFrame(out, schema).orderBy("source")


# --------------------------------------------------------------------------
# dedup_quality_shift — does dedup make the corpus BETTER, not just
# smaller? Near-dups concentrate in low-quality boilerplate, so
# keep-one-per-cluster dedup should RAISE mean quality; a source where
# it doesn't is duplicating its good documents (a crawler revisiting
# canonical pages), which flips the curation decision from "dedup
# harder" to "dedup is eating signal". The per-source before/after
# mean-quality ledger is that check.
# --------------------------------------------------------------------------
def _quality_shift_oracle() -> str:
    from open_pulsar_spark.operators.dedup import (
        _CLOSURE_CTES,
        _MINHASH_PAIRS_CTE,
    )
    from open_pulsar_spark.operators.text import _QUALITY_Q_CTE

    return f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTE},
    {_CLOSURE_CTES},
    {_QUALITY_Q_CTE},
    j AS (
        SELECT d.source,
               round(q.quality * 1000000)::BIGINT AS q_ppm,
               CASE WHEN l.ldoc IS NULL OR l.cluster_rep = d.doc_id
                    THEN 1 ELSE 0 END AS kept
        FROM documents d
        JOIN q ON q.doc_id = d.doc_id
        LEFT JOIN labels l ON l.ldoc = d.doc_id),
    m AS (
        SELECT source,
               count(*)::BIGINT AS n_docs,
               sum(kept)::BIGINT AS n_kept,
               (sum(q_ppm) // count(*))::BIGINT AS mean_q_pre_ppm,
               (sum(CASE WHEN kept = 1 THEN q_ppm ELSE 0 END)
                // sum(kept))::BIGINT AS mean_q_post_ppm
        FROM j GROUP BY source)
    SELECT source, n_docs, n_kept, mean_q_pre_ppm, mean_q_post_ppm,
           (mean_q_post_ppm - mean_q_pre_ppm)::BIGINT AS shift_ppm
    FROM m
    ORDER BY source
    """


@query("dedup_quality_shift", oracle=_quality_shift_oracle())
def dedup_quality_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean document quality per source BEFORE vs AFTER near-dup dedup
    (dedup_clusters' keep-the-min-id survivor; singletons survive),
    with the shift in ppm. dedup_token_savings prices dedup in tokens
    removed; this prices it in SIGNAL — a positive shift confirms
    duplication was concentrated in low-quality boilerplate, a
    negative shift on a source is the "crawler is duplicating the
    good pages" alarm that says tighten the near-dup threshold before
    training on it.

    Determinism: each document's quality lands on the ppm integer
    grid BEFORE any sum (the per-cell rounding contract); means are
    integer trunc-divs; every source keeps ≥ 1 document (cluster
    survivors are members), so the post-dedup divisor is never zero.

    Scale: the closure is dedup_clusters' measured-linear plan; this
    adds the map-side quality projection on the documents scan, one
    key join to the (small) cluster-member frame, and a
    |sources|-row aggregate."""
    from open_pulsar_spark.operators.dedup import dedup_clusters
    from open_pulsar_spark.operators.text import quality_from_toks

    # toks hoisted (performance note at text.quality_from_toks)
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "source", F.split("text", " ").alias("toks"))
        .select(
            "doc_id",
            "source",
            F.round(quality_from_toks(F.col("toks")) * 1000000, 0)
            .cast("bigint")
            .alias("q_ppm"),
        )
    )
    reps = dedup_clusters(spark, sf_dir).select("doc_id", "cluster_rep")
    kept = F.when(
        F.col("cluster_rep").isNull()
        | (F.col("cluster_rep") == F.col("doc_id")),
        1,
    ).otherwise(0)
    return (
        docs.join(reps, "doc_id", "left")
        .withColumn("kept", kept)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("kept").cast("bigint").alias("n_kept"),
            F.expr("cast(sum(q_ppm) div count(*) as bigint)").alias(
                "mean_q_pre_ppm"
            ),
            F.expr(
                "cast(sum(CASE WHEN kept = 1 THEN q_ppm ELSE 0 END)"
                " div sum(kept) as bigint)"
            ).alias("mean_q_post_ppm"),
        )
        .select(
            "*",
            (F.col("mean_q_post_ppm") - F.col("mean_q_pre_ppm"))
            .cast("bigint")
            .alias("shift_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# dsir_importance_weights — Data Selection via Importance Resampling
# (Xie et al., 2023): score every document by how target-like its
# HASHED n-gram profile is, log p_target(f)/p_raw(f) summed over the
# document's features under two smoothed bag-of-hashed-bigrams models.
# The scalable stand-in for "run a classifier over 100 TB": two count
# aggregates and a broadcast join, no model inference. Target here: the
# English slice (the reference-corpus role); raw: the full corpus.
# --------------------------------------------------------------------------
DSIR_BUCKETS = 1024  # hashed-feature space (power of two, fits broadcast)
DSIR_TARGET_LANG = "en"


@query(
    "dsir_importance_weights",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS toks
               FROM documents),
    f AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(bg), 1, 15))::BIGINT % {DSIR_BUCKETS}
                   AS b
        FROM (SELECT doc_id, lang,
                     unnest(list_transform(
                         generate_series(1, len(toks) - 1),
                         i -> toks[i] || ' ' || toks[i + 1])) AS bg
              FROM t)),
    cb AS (
        SELECT b,
               count(*)::BIGINT AS c_r,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0
                   END)::BIGINT AS c_t
        FROM f GROUP BY b),
    term AS (
        SELECT b,
               (CAST(round(ln(c_t + 1) * 1000000000) AS BIGINT)
                - CAST(round(ln(c_r + 1) * 1000000000) AS BIGINT))
                   AS lt_nano
        FROM cb),
    tot AS (
        SELECT CAST(round(ln(count(*) + {DSIR_BUCKETS}) * 1000000000)
                    AS BIGINT)
               - CAST(round(ln(sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                                        THEN 1 ELSE 0 END)
                                + {DSIR_BUCKETS}) * 1000000000) AS BIGINT)
                   AS norm_nano
        FROM f),
    per_doc AS (
        SELECT f.doc_id, count(*)::BIGINT AS n_feats,
               sum(term.lt_nano)::BIGINT AS s_nano
        FROM f JOIN term ON term.b = f.b
        GROUP BY f.doc_id)
    SELECT d.doc_id, d.lang,
           coalesce(p.n_feats, 0)::BIGINT AS n_feats,
           coalesce(p.s_nano + p.n_feats * t.norm_nano, 0)::BIGINT
               AS logw_nano,
           CASE WHEN coalesce(p.s_nano + p.n_feats * t.norm_nano, 0) > 0
                THEN 1 ELSE 0 END AS target_like
    FROM documents d
    LEFT JOIN per_doc p ON p.doc_id = d.doc_id
    CROSS JOIN tot t
    ORDER BY d.doc_id
    """,
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weight per document: log of the likelihood
    ratio of the doc's hashed-bigram features under an add-one-
    smoothed TARGET model (lang = '{DSIR_TARGET_LANG}', the reference-
    corpus role) vs the RAW corpus model —
    Σ_f [ln(c_t(f)+1) − ln(c_r(f)+1)] + n·[ln(R+B) − ln(T+B)],
    features hashed md5-60-bit into B = {DSIR_BUCKETS} buckets (the
    shared hash rule). Positive means "looks like the target"; the
    resampling step keeps documents ∝ exp(w), so the weight IS the
    curation signal. This is the importance-resampling leg the
    corpus_* sampling family was missing: quality gates score form,
    DSIR scores DISTRIBUTIONAL fit to a reference.

    Determinism: every ln lands on the nano integer grid as a SINGLE
    rounding of a count-valued ln (the keyness contract — ln is
    IEEE-identical across engines on integer-valued doubles); all
    sums and the n·norm close are exact integer arithmetic.

    Scale: features explode map-side; ONE shuffle builds the
    {DSIR_BUCKETS}-bucket count table, which is config-bounded and
    broadcasts back onto the feature stream; the per-doc close is one
    map-combinable aggregate plus a doc-grain left join. The global
    scalar rides a 1-row broadcast. Nothing quadratic, nothing
    collected."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", F.split("text", " ").alias("toks"))
        .select("doc_id", "lang", _bigram_col())
    )

    # The feature stream feeds THREE consumers (bucket counts, the
    # global norm scalar, the per-doc close) — pin it so the parquet
    # scan + bigram explode + md5 run once, not three times.
    f = pin(
        "dsir_feats",
        docs.select(
            "doc_id",
            "lang",
            (
                F.conv(
                    F.substring(F.md5(F.col("bg")), 1, 15), 16, 10
                ).cast("bigint")
                % DSIR_BUCKETS
            ).alias("b"),
        ),
        fill=False,
    )
    cb = f.groupBy("b").agg(
        F.count("*").cast("bigint").alias("c_r"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("c_t"),
    )
    term = cb.select(
        "b",
        (
            F.round(F.log(F.col("c_t") + 1) * 1000000000, 0).cast("bigint")
            - F.round(F.log(F.col("c_r") + 1) * 1000000000, 0).cast(
                "bigint"
            )
        ).alias("lt_nano"),
    )
    # The norm scalar needs only the GLOBAL raw/target feature counts,
    # which are exactly sum(c_r)/sum(c_t) over the {DSIR_BUCKETS}-row
    # bucket table — summing cb instead of re-scanning the pinned
    # feature stream drops one full pass over f (guide §1.2). The ln
    # expressions are unchanged (same engine, same integer-valued
    # operands), so the grid values are identical.
    tot = cb.agg(
        (
            F.round(
                F.log(F.sum("c_r") + DSIR_BUCKETS) * 1000000000, 0
            ).cast("bigint")
            - F.round(
                F.log(F.sum("c_t") + DSIR_BUCKETS) * 1000000000,
                0,
            ).cast("bigint")
        ).alias("norm_nano")
    )
    per_doc = (
        f.join(F.broadcast(term), "b")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_feats"),
            F.sum("lt_nano").cast("bigint").alias("s_nano"),
        )
    )
    spine = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    return (
        spine.join(per_doc, "doc_id", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "lang",
            F.coalesce("n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.coalesce(
                F.col("s_nano") + F.col("n_feats") * F.col("norm_nano"),
                F.lit(0),
            )
            .cast("bigint")
            .alias("logw_nano"),
        )
        .withColumn(
            "target_like",
            F.when(F.col("logw_nano") > 0, 1).otherwise(0),
        )
        .orderBy("doc_id")
    )


def _bigram_col():
    """Word-bigram explode column over a PRE-SPLIT `toks` array column
    (1-based element_at, matching the oracle's 1-based list indexing).
    Guarded for < 2 tokens: Spark's sequence(1, 0) counts DOWN
    ([1, 0] — element_at(_, 0) throws) where DuckDB's
    generate_series(1, 0) is empty, so the short-doc case must
    short-circuit to an empty array (explode then drops the row,
    matching the oracle's zero-feature behavior).

    Callers must project ``split(text, ' ') AS toks`` in a PRIOR
    select: the old inline form called split() inside the transform
    lambda — twice per bigram, interpreted — which re-tokenized each
    document ~2·|toks| times (measured 2.6 s -> 0.34 s at sf0.1; see
    the performance note at text.quality_from_toks)."""
    return F.explode(
        F.expr(
            "CASE WHEN size(toks) < 2"
            " THEN array()"
            " ELSE transform(sequence(1, size(toks) - 1),"
            " i -> concat(element_at(toks, i), ' ',"
            "             element_at(toks, i + 1))) END"
        )
    ).alias("bg")
