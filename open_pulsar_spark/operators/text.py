"""L4 text-analysis operators over the `documents` table: token stats,
quality scoring, language-ID heuristic, BPE-ish token counting,
content fingerprinting.

Everything is built-in expression work (split / array lambdas / regexp
/ md5) — JVM-side, whole-stage-codegen-able, zero Python UDFs. At
100 TB these are embarrassingly parallel map-only plans: no shuffle at
all except the final orderBy the driver's compare needs.

Reference parity: generalizes the reference's scalar string layer
(SURVEY.md §2.8 X1-X11 — slugify, truncation, hashing, JSON pulls)
into the text-pipeline operators the north star calls for.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import pin
from open_pulsar_spark.operators.prefix import global_prefix
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

# The doc-quality score on the 1e-6 integer grid, as a SQL expression
# over a PRE-SPLIT `toks` array column — one tokenize per document
# (see the performance note at quality_from_toks). Shared by
# quality_llm_calibration and quality_token_lorenz.
_Q_INT_TOKS_EXPR = (
    "cast(floor((0.4 * least(size(toks) / 100.0d, 1.0d)"
    " + 0.4 * (size(array_distinct(toks)) * 1.0d / size(toks))"
    " + 0.2 * least((size(filter(toks,"
    f"                x -> x IN {_SW_SQL}))"
    "                * 1.0d / size(toks)) / 0.1d, 1.0d))"
    " * 1000000 + 0.5d) as bigint)"
)


def _tokens(col):
    return F.split(col, " ")


# PERFORMANCE NOTE (round 12): expressions containing higher-order
# functions (transform/filter/array_distinct over a lambda) run
# INTERPRETED (CodegenFallback), so codegen's common-subexpression
# elimination never sees them — every textual occurrence of
# split(text, ' ') inside such an expression re-tokenizes the document.
# The fix is structural: project the token array ONCE into a named
# column (its own Project node — CollapseProject declines to inline a
# non-cheap alias referenced more than once) and reference that column.
# Measured on the dsir bigram build at sf0.1: 2.6 s -> 0.34 s map time.


def quality_from_toks(toks_col) -> "F.Column":
    """quality_expr over a PRE-SPLIT token-array column — use this
    form whenever the frame can carry the token array as a column, so
    the document tokenizes once instead of once per sub-expression
    (see the performance note above)."""
    n_tokens = F.size(toks_col)
    ttr = F.size(F.array_distinct(toks_col)) * F.lit(1.0) / n_tokens
    swr = (
        F.size(F.filter(toks_col, lambda x: x.isin(*STOPWORDS)))
        * F.lit(1.0)
        / n_tokens
    )
    return (
        0.4 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.4 * ttr
        + 0.2 * F.least(swr / F.lit(0.1), F.lit(1.0))
    )


def quality_expr(text_col) -> "F.Column":
    """The corpus quality score (0.4·length + 0.4·type-token-ratio +
    0.2·stopword signal) as a column expression — the ONE definition
    shared by doc_quality_score and the curation pipeline's quality
    gate, so a weight change cannot silently desynchronize them.

    Prefer quality_from_toks when the caller can hoist the token array
    into its own column (performance note above) — this form
    re-tokenizes per sub-expression and exists for call sites that
    score inside a single predicate (streaming filters)."""
    return quality_from_toks(_tokens(text_col))


# --------------------------------------------------------------------------
# doc_text_stats — token counting + lexical stats.
# --------------------------------------------------------------------------
@query(
    "doc_text_stats",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS toks, length(text) AS n_chars
               FROM documents)
    SELECT doc_id, lang, n_chars,
           len(toks)                                   AS n_tokens,
           len(list_distinct(toks))                    AS n_distinct_tokens,
           round((n_chars - len(toks) + 1) * 1.0 / len(toks), 6) AS avg_token_len,
           round(len(list_filter(toks, x -> x IN {_SW_SQL})) * 1.0 / len(toks), 6)
                                                       AS stopword_ratio
    FROM t
    ORDER BY doc_id
    """,
)
def doc_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical statistics (map-only plan, no shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    # hoist the token array into its own projection (performance note
    # at quality_from_toks): the stats reference it six times, and the
    # filter lambda blocks codegen CSE, so the inline form re-split the
    # document per reference
    n_tokens = F.size("toks")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.length("text").alias("n_chars"),
            _tokens(F.col("text")).alias("toks"),
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            n_tokens.alias("n_tokens"),
            F.size(F.array_distinct("toks")).alias("n_distinct_tokens"),
            F.round(
                (F.col("n_chars") - n_tokens + 1) * F.lit(1.0) / n_tokens, 6
            ).alias("avg_token_len"),
            F.round(
                F.size(F.filter("toks", lambda x: x.isin(*STOPWORDS)))
                * F.lit(1.0)
                / n_tokens,
                6,
            ).alias("stopword_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_quality_score — composite quality heuristic.
# --------------------------------------------------------------------------
# `q` CTE: per-doc UNROUNDED quality in the doc_quality_score formula —
# the ONE SQL copy of the 0.4/0.4/0.2 weights. Every cluster-survivor
# oracle (dedup's quality pick, similarity's semantic actions) AND
# doc_quality_score's own oracle compose this fragment, so the weights
# cannot drift between the registry query and its consumers.
_QUALITY_Q_CTE = f"""q AS (SELECT doc_id,
            0.4 * least(len(toks) / 100.0, 1.0)
          + 0.4 * (len(list_distinct(toks)) * 1.0 / len(toks))
          + 0.2 * least((len(list_filter(toks, x -> x IN {_SW_SQL})) * 1.0
                         / len(toks)) / 0.1, 1.0) AS quality
          FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents))"""


@query(
    "doc_quality_score",
    oracle=f"""
    WITH {_QUALITY_Q_CTE}
    SELECT doc_id,
           round(quality, 6) AS quality,
           CASE WHEN quality >= 0.6 THEN 'keep' ELSE 'drop' END AS verdict
    FROM q
    ORDER BY doc_id
    """,
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality score = 0.4·length + 0.4·type-token-ratio + 0.2·stopword
    signal, with a keep/drop verdict — the standard pretraining-corpus
    filter shape, all JVM-side arithmetic."""
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once, score once: toks and the raw quality each live in
    # their own projection so neither is re-evaluated per reference
    # (performance note at quality_from_toks)
    return (
        docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .select("doc_id", quality_from_toks(F.col("toks")).alias("q_raw"))
        .select(
            "doc_id",
            F.round("q_raw", 6).alias("quality"),
            F.when(F.col("q_raw") >= 0.6, "keep")
            .otherwise("drop")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_lang_id — n-gram/marker language-ID heuristic vs the labeled lang.
# --------------------------------------------------------------------------
_MARKERS = {
    "en": ("the", "a", "and", "of"),
    "es": ("el", "la", "de", "y"),
    "fr": ("le", "la", "de", "et"),
    "de": ("der", "die", "das", "und"),
    "zh": ("的", "是", "了", "和"),
}


def _marker_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in _MARKERS[lang])
    return f"len(list_filter(toks, x -> x IN ({words})))"


@query(
    "doc_lang_id",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 {_marker_sql('en')} AS s_en, {_marker_sql('es')} AS s_es,
                 {_marker_sql('fr')} AS s_fr, {_marker_sql('de')} AS s_de,
                 {_marker_sql('zh')} AS s_zh
          FROM t)
    SELECT doc_id, lang,
           CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
                WHEN s_en >= greatest(s_es, s_fr, s_de, s_zh) THEN 'en'
                WHEN s_es >= greatest(s_fr, s_de, s_zh) THEN 'es'
                WHEN s_fr >= greatest(s_de, s_zh) THEN 'fr'
                WHEN s_de >= s_zh THEN 'de'
                ELSE 'zh' END AS lang_pred
    FROM s
    ORDER BY doc_id
    """,
)
def doc_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language-ID vote (deterministic tie order
    en>es>fr>de>zh), compared against the labeled lang column."""
    docs = load_table(spark, sf_dir, "documents")

    def _score(markers: tuple[str, ...]):
        # NB: a one-arg lambda — F.filter treats two-arg lambdas as (x, i)
        return F.size(F.filter("toks", lambda x: x.isin(*markers)))

    scores = {lang: _score(markers) for lang, markers in _MARKERS.items()}
    # toks hoisted into its own projection: five marker filters (all
    # interpreted HOFs) would otherwise each re-split the document
    # (performance note at quality_from_toks)
    s = docs.select(
        "doc_id", "lang", _tokens(F.col("text")).alias("toks")
    ).select("doc_id", "lang", *[v.alias(f"s_{k}") for k, v in scores.items()])
    c = {k: F.col(f"s_{k}") for k in _MARKERS}
    pred = (
        F.when(F.greatest(*c.values()) == 0, "und")
        .when(c["en"] >= F.greatest(c["es"], c["fr"], c["de"], c["zh"]), "en")
        .when(c["es"] >= F.greatest(c["fr"], c["de"], c["zh"]), "es")
        .when(c["fr"] >= F.greatest(c["de"], c["zh"]), "fr")
        .when(c["de"] >= c["zh"], "de")
        .otherwise("zh")
    )
    return s.select("doc_id", "lang", pred.alias("lang_pred")).orderBy("doc_id")


# --------------------------------------------------------------------------
# langid_confusion — the measured-accuracy harness for the lang-ID vote.
# --------------------------------------------------------------------------
_LANGID_PRED_SQL = f"""
    WITH t AS (SELECT doc_id, lang, str_split(text, ' ') AS toks FROM documents),
    s AS (SELECT doc_id, lang,
                 {_marker_sql('en')} AS s_en, {_marker_sql('es')} AS s_es,
                 {_marker_sql('fr')} AS s_fr, {_marker_sql('de')} AS s_de,
                 {_marker_sql('zh')} AS s_zh
          FROM t),
    pred AS (
        SELECT doc_id, lang,
               CASE WHEN greatest(s_en, s_es, s_fr, s_de, s_zh) = 0 THEN 'und'
                    WHEN s_en >= greatest(s_es, s_fr, s_de, s_zh) THEN 'en'
                    WHEN s_es >= greatest(s_fr, s_de, s_zh) THEN 'es'
                    WHEN s_fr >= greatest(s_de, s_zh) THEN 'fr'
                    WHEN s_de >= s_zh THEN 'de'
                    ELSE 'zh' END AS lang_pred
        FROM s)
"""


@query(
    "langid_confusion",
    oracle=f"""{_LANGID_PRED_SQL}
    SELECT lang, lang_pred, count(*) AS n_docs,
           round(count(*) * 1.0
                 / sum(count(*)) OVER (PARTITION BY lang), 6) AS row_share
    FROM pred
    GROUP BY lang, lang_pred
    ORDER BY lang, lang_pred
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the lang-ID heuristic against the labeled
    lang column — the measured-accuracy harness every heuristic
    classifier in this engine ships with (same contract as the LSH /
    PQ recall harnesses): per (true, predicted) counts plus each
    cell's share of its true-label row, so per-language accuracy is
    the diagonal's row_share.

    Scale: rides doc_lang_id's map-only scoring; the rollup is a tiny
    aggregate over a ≤ |langs|² cell space, and the row-share window
    partitions on lang (bounded cardinality, no global sort).
    """
    pred = doc_lang_id(spark, sf_dir)
    w = Window.partitionBy("lang")
    return (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
        .withColumn(
            "row_share",
            F.round(F.col("n_docs") * 1.0 / F.sum("n_docs").over(w), 6),
        )
        .orderBy("lang", "lang_pred")
    )


# --------------------------------------------------------------------------
# doc_token_bpeish — regex token counting (BPE-ish pre-tokenizer classes).
# --------------------------------------------------------------------------
@query(
    "doc_token_bpeish",
    oracle=r"""
    SELECT doc_id,
           len(regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]'))
             AS n_bpeish_tokens,
           len(str_split(text, ' ')) AS n_ws_tokens
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_token_bpeish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace and a BPE-ish regex class
    split (letters / capitalized / digits / punct) — the cheap
    proxy-token-count every corpus pipeline wants."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.size(
                F.expr(
                    r"regexp_extract_all(text, '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]', 0)"
                )
            ).alias("n_bpeish_tokens"),
            F.size(_tokens(F.col("text"))).alias("n_ws_tokens"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# bpe_merge_candidates — first-iteration BPE pair statistics over the
# compressed vocabulary (tokenizer induction at corpus scale).
# --------------------------------------------------------------------------
@query(
    "bpe_merge_candidates",
    oracle="""
    WITH w AS (SELECT unnest(str_split(text, ' ')) AS word FROM documents),
    v AS (SELECT word, count(*)::BIGINT AS n FROM w
          WHERE len(word) >= 2 GROUP BY word),
    p AS (SELECT substr(word, g.i, 2) AS pair, n, word
          FROM v CROSS JOIN LATERAL (
              SELECT unnest(generate_series(1, len(word) - 1)) AS i
          ) g),
    agg AS (SELECT pair, sum(n)::BIGINT AS weight,
                   count(DISTINCT word)::BIGINT AS n_types
            FROM p GROUP BY pair)
    SELECT pair, weight, n_types
    FROM agg ORDER BY weight DESC, pair LIMIT 20
    """,
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The top adjacent-character pairs a BPE trainer would merge
    FIRST, weighted by corpus word frequency — the first iteration of
    byte-pair-encoding vocabulary induction (Sennrich et al. 2016),
    the step a tokenizer-training pipeline runs over the whole corpus.
    `weight` is total corpus occurrences (via word frequencies);
    `n_types` is how many distinct word forms contain the pair.

    Scale: the critical move is VOCAB COMPRESSION FIRST — the corpus
    collapses to (word, count) in one hash aggregate (map-side partial
    on a heavy-tailed key: the exchange carries word types, not corpus
    tokens), and the character-pair explode + pair aggregate run over
    the vocabulary, orders of magnitude smaller than the token stream.
    Exactly how production BPE trainers structure the count phase.
    Full BPE iterates merge → re-pair over the vocab (a driver loop
    over config-sized state, the kmeans_embeddings shape); this query
    is that loop's per-round aggregate, published once as the
    candidate table.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .where(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    pairs = vocab.select(
        "word",
        "n",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1),"
                " i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("n").alias("weight"),
            F.count_distinct("word").alias("n_types"),
        )
        .orderBy(F.desc("weight"), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# doc_llm_score — Arrow-batched pandas_udf scoring (the U-family path).
# --------------------------------------------------------------------------
# The ONE deterministic "model score" stub (first md5 byte / 255),
# shared by doc_llm_score's Arrow UDF + oracle and by
# curation_agreement_kappa's JVM + SQL raters — a change to the stub
# lands everywhere or nowhere.
_LLM_SCORE_SQL = "('0x' || substr(md5({col}), 1, 2))::BIGINT / 255.0"
_LLM_SCORE_EXPR = (
    "cast(conv(substring(md5({col}), 1, 2), 16, 10) as bigint) / 255.0"
)


def llm_score_col(col_sql: str) -> "F.Column":
    return F.expr(_LLM_SCORE_EXPR.format(col=col_sql))


@query(
    "doc_llm_score",
    oracle=f"""
    SELECT doc_id,
           round({_LLM_SCORE_SQL.format(col='text')}, 6) AS model_score,
           CASE WHEN {_LLM_SCORE_SQL.format(col='text')} >= 0.5
                THEN 'keep' ELSE 'drop' END AS verdict
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_llm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-scoring through the REAL batched-UDF contract
    (SURVEY §2.10 U1-U3: rows stream through an Arrow-batched
    `pandas_udf`, the model consumes a whole batch per call). The
    "model" here is a deterministic stub (md5-derived score) so the
    oracle can replicate it — a live classifier swaps in behind the
    same signature with zero plan changes.

    Scale: map-only; batch size (spark.sql.execution.arrow.
    maxRecordsPerBatch) is the model's amortization unit.
    """
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def score_batch(texts: pd.Series) -> pd.Series:
        # stands in for a batched model call: one vectorized pass per
        # Arrow batch, never per-row Python. MUST stay equal to
        # _LLM_SCORE_SQL/_LLM_SCORE_EXPR (first md5 byte / 255).
        return texts.map(
            lambda t: int(hashlib.md5(t.encode()).hexdigest()[:2], 16) / 255.0
        )

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", score_batch("text").alias("raw"))
    return scored.select(
        "doc_id",
        F.round("raw", 6).alias("model_score"),
        F.when(F.col("raw") >= 0.5, "keep").otherwise("drop").alias("verdict"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# doc_tfidf_topterms — corpus TF-IDF, top terms per document.
# --------------------------------------------------------------------------
@query(
    "doc_tfidf_topterms",
    oracle="""
    WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               round(tf.tf * ln(n.n_docs * 1.0 / df.df), 6) AS tfidf
        FROM tf JOIN df USING (term) CROSS JOIN n),
    ranked AS (
        SELECT doc_id, term, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, term) AS rk
        FROM scored)
    SELECT doc_id, term, tfidf, rk
    FROM ranked WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)
def doc_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic corpus-statistics
    join: explode → per-doc term counts → document frequencies →
    broadcast df back onto tf → window top-k.

    Scale: DF is derived FROM the tf aggregate (the count of
    (doc, term) groups per term IS the document frequency), so the
    model chain explodes once; tf then re-joins df on the term key.
    The tokenize does run once per branch — ReusedExchange measurably
    does NOT fire across a join of two aggregates of one lineage
    (this docstring used to claim otherwise; falsified on the final
    AQE plan in round 5) — and a count-window over the raw term key
    would avoid that at the price of an unsplittable hot partition
    for stop-word terms (AQE can split a skewed JOIN probe, never a
    window partition — tried and reverted). Linear extra scan I/O
    over an un-mitigable straggler is the right side of the trade.
    ln() is IEEE-identical across engines; rounded to 6 dp anyway.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tf.groupBy("term").agg(F.count("*").alias("df"))
    # n_docs stays INSIDE the plan (1-row aggregate, broadcast cross
    # join — same pattern as doc_unigram_logprob): an eager .count()
    # here would launch a separate job and re-list the whole table per
    # invocation; the scan is map-only (no explode). The df join is
    # AQE-decided — a web-scale vocabulary is not statically
    # broadcastable.
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") * 1.0 / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


# --------------------------------------------------------------------------
# doc_fingerprint — md5 content fingerprint + per-source rollup.
# --------------------------------------------------------------------------
@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id, md5(text) AS fingerprint,
           substr(md5(text), 1, 8) AS shard_key
    FROM documents
    ORDER BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content fingerprint (md5 hex) — the reference's
    SHA-256 input-integrity fingerprint idea (agent-loop.sh:250-251,
    SURVEY §2.8 X3) as a per-document column, plus the 8-hex shard key
    a 100 TB layout would bucket on."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.md5("text").alias("fingerprint"),
            F.substring(F.md5("text"), 1, 8).alias("shard_key"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_repetition_stats — within-document repetition signals (quality).
# --------------------------------------------------------------------------
@query(
    "doc_repetition_stats",
    oracle="""
    WITH t AS (SELECT doc_id, str_split(text,' ') AS toks FROM documents),
    bi AS (
        SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bg
        FROM t, unnest(range(1, len(toks))) AS u(i)
    ),
    cnt AS (SELECT doc_id, bg, count(*) AS n FROM bi GROUP BY 1, 2),
    top AS (SELECT doc_id AS tdoc, max(n) AS mx, sum(n) AS tot FROM cnt GROUP BY 1)
    SELECT t.doc_id,
           len(toks) AS n_tokens,
           round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS distinct_token_ratio,
           round(COALESCE(mx * 1.0 / tot, 0.0), 6) AS top_bigram_frac,
           CASE WHEN COALESCE(mx * 1.0 / tot, 0.0) > 0.1
                  OR len(list_distinct(toks)) * 1.0 / len(toks) < 0.2
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM t LEFT JOIN top ON t.doc_id = top.tdoc
    ORDER BY doc_id
    """,
)
def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition filter (the Gopher-rule family):
    distinct-token ratio plus the fraction of bigram slots taken by the
    single most frequent bigram; high repetition → 'drop'.

    Scale: the bigram count is keyed by doc_id, so both shuffles
    (bigram count, per-doc max/total) move rows partitioned by
    document — no global hot key, volume proportional to token count.
    The distinct-token half is map-only array arithmetic.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = docs.select("doc_id", toks.alias("toks"))
    bigrams = base.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(toks, 1, size(toks) - 1),"
                "         slice(toks, 2, size(toks) - 1),"
                "         (a, b) -> concat(a, ' ', b))"
            )
        ).alias("bg"),
    )
    top = (
        bigrams.groupBy("doc_id", "bg")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .withColumnRenamed("doc_id", "tdoc")
    )
    ttr = F.size(F.array_distinct("toks")) * F.lit(1.0) / F.size("toks")
    top_frac = F.coalesce(F.col("mx") * F.lit(1.0) / F.col("tot"), F.lit(0.0))
    return (
        base.join(top, base.doc_id == top.tdoc, "left")
        .select(
            "doc_id",
            F.size("toks").alias("n_tokens"),
            F.round(ttr, 6).alias("distinct_token_ratio"),
            F.round(top_frac, 6).alias("top_bigram_frac"),
            F.when((top_frac > 0.1) | (ttr < 0.2), "drop")
            .otherwise("keep")
            .alias("verdict"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_length_log_histogram — power-of-two token-length histogram by lang.
# --------------------------------------------------------------------------
@query(
    "doc_length_log_histogram",
    oracle="""
    WITH t AS (SELECT lang, len(str_split(text,' ')) AS n FROM documents)
    SELECT lang, floor(log2(n))::BIGINT AS bucket, count(*) AS n_docs,
           min(n) AS min_tokens, max(n) AS max_tokens
    FROM t GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def doc_length_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution in power-of-two buckets per language —
    the length profile a sequence-packing / batch-shaping stage reads
    before choosing context lengths. Map-side bucket assignment, one
    tiny (lang × ~40 buckets) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    n = F.size(F.split("text", " "))
    return (
        docs.select("lang", n.alias("n"))
        .groupBy("lang", F.floor(F.log2("n")).cast("bigint").alias("bucket"))
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n").alias("min_tokens"),
            F.max("n").alias("max_tokens"),
        )
        .orderBy("lang", "bucket")
    )


# --------------------------------------------------------------------------
# doc_ngram_novelty — how much of each doc is first-seen, in corpus order.
# --------------------------------------------------------------------------
@query(
    "doc_ngram_novelty",
    oracle="""
    WITH shingled AS (
        SELECT doc_id,
               list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                              for i in range(1, len(toks) - 1)]) AS sh
        FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
        WHERE len(toks) >= 3
    ),
    tok AS (SELECT doc_id, unnest(sh) AS t FROM shingled),
    first_use AS (SELECT t, min(doc_id) AS first_doc FROM tok GROUP BY t)
    SELECT k.doc_id,
           count(*) AS n_shingles,
           sum(CASE WHEN f.first_doc = k.doc_id THEN 1 ELSE 0 END)::BIGINT
               AS n_novel,
           round(sum(CASE WHEN f.first_doc = k.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6) AS novelty
    FROM tok k JOIN first_use f USING (t)
    GROUP BY k.doc_id
    ORDER BY k.doc_id
    """,
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty in corpus order: the fraction of a doc's
    distinct 3-gram shingles whose FIRST corpus occurrence is this doc
    (min doc_id owns the shingle). Low novelty late in the corpus =
    boilerplate/recombination — the shingle-level redundancy signal
    that complements whole-doc near-dup detection (a doc can be 0.3
    novel yet match nothing at the Jaccard threshold).

    Scale: ONE pass over the shingle explode (the largest intermediate
    in the engine). The first-corpus-occurrence test is a window —
    ``min(doc_id) OVER (PARTITION BY shingle)`` — not an aggregate +
    self-join, so the documents scan + explode executes once instead of
    twice (measured 2.4x at sf0.1). The shuffle key is ``xxhash64`` of
    the shingle (8 bytes) and the string is dropped BEFORE the
    exchange: per-shingle min only needs shingle identity, and a
    64-bit collision over ~1e6 distinct shingles is ~1e-7 — verified
    exact against the string-keyed DuckDB oracle. The trailing
    groupBy(doc_id) partial-aggregates map-side, so the second
    exchange carries per-doc partials, not shingle rows. At 100 TB the
    window's hash partitioning is uniform by construction (hashed
    shingles never skew), and this is the same global shingle index an
    exact-substring dedup pass builds, so the two share storage in a
    production pipeline.
    """
    from open_pulsar_spark.operators.dedup import _shingled

    tok = (
        _shingled(spark, sf_dir)
        .select("doc_id", F.explode("sh").alias("t"))
        .select("doc_id", F.xxhash64("t").alias("h"))
    )
    first_doc = F.min("doc_id").over(Window.partitionBy("h"))
    return (
        tok.withColumn("first_doc", first_doc)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_novel",
            F.round(F.col("n_novel") * 1.0 / F.col("n_shingles"), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_repeated_substring_coverage — positional exact-substring dedup signal.
# --------------------------------------------------------------------------
SUBSTR_K = 8  # token-window length for "repeated substring"

# toks/pos/dupw/dpos CTEs: 0-based positional SUBSTR_K-token windows,
# filtered to windows occurring ≥2 times in the corpus — the ONE SQL
# copy of the dup-window pipeline shared by the coverage and spans
# oracles (their Spark twins share _dup_window_positions).
_DUP_WINDOW_CTES = f"""toks AS (
        SELECT doc_id, str_split(text, ' ') AS t
        FROM documents WHERE len(str_split(text, ' ')) >= {SUBSTR_K}
    ),
    pos AS (
        SELECT doc_id, g.i - 1 AS i,
               array_to_string(t[g.i : g.i + {SUBSTR_K} - 1], ' ') AS w
        FROM toks CROSS JOIN LATERAL (
            SELECT unnest(generate_series(1, len(t) - {SUBSTR_K} + 1)) AS i
        ) g
    ),
    dupw AS (SELECT w FROM pos GROUP BY w HAVING count(*) >= 2),
    dpos AS (SELECT doc_id, i FROM pos JOIN dupw USING (w))"""


def _dup_window_positions(docs: DataFrame, k: int):
    """(toks, dpos): per-doc token arrays and the 0-based start
    positions of k-token windows that occur ≥2 times in the corpus.
    Windows are keyed by xxhash64 of the window text (8 B — the string
    never reaches the exchange); the occurs-≥2 test is one
    count-window over that uniform key. Shared producer behind
    doc_repeated_substring_coverage and doc_repeated_spans, so the
    hashing/windowing scheme cannot drift between them."""
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).where(
        F.size("t") >= k
    )
    pos = toks.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(0, size(t) - {k}),"
            f" j -> xxhash64(concat_ws(' ', slice(t, j + 1, {k}))))"
        )).alias("i", "w"),
    )
    wcount = F.count("*").over(Window.partitionBy("w"))
    dpos = (
        pos.withColumn("wc", wcount).where(F.col("wc") >= 2).select("doc_id", "i")
    )
    return toks, dpos


@query(
    "doc_repeated_substring_coverage",
    oracle=f"""
    WITH {_DUP_WINDOW_CTES},
    lagged AS (
        SELECT doc_id, i, lag(i) OVER (PARTITION BY doc_id ORDER BY i) AS pi
        FROM dpos
    ),
    cov AS (
        SELECT doc_id,
               sum(CASE WHEN pi IS NULL THEN {SUBSTR_K}
                        ELSE least({SUBSTR_K}, i - pi) END)::BIGINT AS covered
        FROM lagged GROUP BY doc_id
    )
    SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens,
           coalesce(c.covered, 0)::BIGINT AS covered_tokens,
           round(coalesce(c.covered, 0) * 1.0 / len(t.t), 6) AS dup_coverage
    FROM toks t LEFT JOIN cov c USING (doc_id)
    ORDER BY t.doc_id
    """,
)
def doc_repeated_substring_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fraction of each document's token POSITIONS covered by a
    {SUBSTR_K}-token window that occurs at least twice in the corpus —
    the exact-substring dedup signal of Lee et al.'s "Deduplicating
    Training Data Makes Language Models Better": whole-doc near-dup
    (Jaccard) misses a unique page quoting a boilerplate paragraph,
    and per-doc-distinct novelty (doc_ngram_novelty) counts shingle
    TYPES, not the span of text they cover. High coverage late in a
    curation funnel = memorization risk worth trimming even when the
    doc as a whole is unique.

    Scale: positional windows explode to ~n_tokens rows/doc keyed by
    ``xxhash64`` of the window (8 B — the string never reaches the
    exchange); the occurs-≥2 test is one count-window over that
    uniform key (same single-shuffle shape as doc_ngram_novelty);
    coverage is an interval-union in one per-doc window pass — equal
    window lengths make the union a lag() sum, no interval tree. The
    candidate spans this flags are exactly what a production
    suffix-array pass would extend to maximal repeats; at 100 TB this
    operator IS the candidate generator for that pass.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = SUBSTR_K
    toks, dpos = _dup_window_positions(docs, k)
    lag_i = F.lag("i").over(Window.partitionBy("doc_id").orderBy("i"))
    cov = (
        dpos.withColumn("pi", lag_i)
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("pi").isNull(), k).otherwise(
                    F.least(F.lit(k), F.col("i") - F.col("pi"))
                )
            ).alias("covered")
        )
    )
    return (
        toks.select("doc_id", F.size("t").cast("bigint").alias("n_tokens"))
        .join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered", F.lit(0)).cast("bigint").alias("covered_tokens"),
            F.round(
                F.coalesce("covered", F.lit(0)) * 1.0 / F.col("n_tokens"), 6
            ).alias("dup_coverage"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# quality_llm_calibration — decile calibration of the heuristic quality
# score against the (stub) model score.
# --------------------------------------------------------------------------
@query(
    "quality_llm_calibration",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, str_split(text, ' ') AS toks FROM documents),
    m AS (SELECT doc_id,
                 CAST(floor((0.4 * least(len(toks) / 100.0, 1.0)
                      + 0.4 * (len(list_distinct(toks)) * 1.0 / len(toks))
                      + 0.2 * least((len(list_filter(toks, x -> x IN {_SW_SQL}))
                                     * 1.0 / len(toks)) / 0.1, 1.0))
                      * 1000000 + 0.5) AS BIGINT) AS q_int,
                 ('0x' || substr(md5(text), 1, 2))::BIGINT AS mbyte
          FROM t),
    n AS (SELECT count(*) AS n_docs FROM m),
    d AS (SELECT doc_id, q_int, mbyte,
                 ((row_number() OVER (ORDER BY q_int, doc_id) - 1) * 10)
                     // n.n_docs + 1 AS decile
          FROM m CROSS JOIN n)
    SELECT decile::BIGINT AS decile,
           count(*) AS n_docs,
           round(sum(q_int) * 1.0 / (count(*) * 1000000), 6) AS avg_quality,
           round(sum(mbyte) * 1.0 / (count(*) * 255), 6)     AS avg_model_score,
           round(sum(CASE WHEN mbyte >= 128 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS model_keep_rate
    FROM d GROUP BY 1 ORDER BY decile
    """,
)
def quality_llm_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALIBRATION of the cheap heuristic quality score against the
    model judge: decile-bucket the corpus by heuristic quality, then
    per decile report the model's mean score and keep-rate. This is
    the curation-QA query behind "can the heuristic pre-filter for the
    expensive model": a monotone keep-rate curve means the heuristic
    orders documents the way the model does and the bottom deciles can
    be dropped without paying model inference for them.

    Determinism: both scores are carried as INTEGERS through the
    aggregate (quality at a fixed 1e-6 grid, the model score as its
    raw md5 byte) so per-decile means are exact integer sums with one
    deterministic division — no float-summation-order drift between
    engines (the round(sum(double)) hazard the money queries document).

    Scale: map-only scoring; the decile needs a GLOBAL rank, which is
    the single-partition-window trap — so this rides the engine's
    shared DISTRIBUTED PREFIX RANK (operators/prefix.py::
    global_prefix, the revenue_pareto pattern): range-partition on the
    sort key, per-partition counts to the driver (≤32 rows),
    per-partition row_number + broadcast offsets. The decile rule is
    the rank formula ((rk-1)·10) div n + 1 in BOTH engines, so bucket
    sizes match exactly; the aggregate is 10 groups.
    """

    docs = load_table(spark, sf_dir, "documents")
    mbyte = F.conv(F.substring(F.md5("text"), 1, 2), 16, 10).cast("bigint")
    # toks hoisted (performance note at quality_from_toks); the q_int
    # expression itself is unchanged — same ops on the same array —
    # so the 1e-6 grid values are identical
    m = docs.select(
        "doc_id", _tokens(F.col("text")).alias("toks"), mbyte.alias("mbyte")
    ).select("doc_id", F.expr(_Q_INT_TOKS_EXPR).alias("q_int"), "mbyte")

    with global_prefix(spark, m, ["q_int", "doc_id"]) as (aug, totals):
        out = (
            aug.withColumn(
                "decile", F.expr(f"((rk - 1) * 10) div {totals['n']} + 1")
            )
            .groupBy(F.col("decile").cast("bigint").alias("decile"))
            .agg(
                F.count("*").alias("n_docs"),
                F.round(
                    F.sum("q_int") * 1.0 / (F.count("*") * 1000000), 6
                ).alias("avg_quality"),
                F.round(F.sum("mbyte") * 1.0 / (F.count("*") * 255), 6).alias(
                    "avg_model_score"
                ),
                F.round(
                    F.sum(F.when(F.col("mbyte") >= 128, 1).otherwise(0))
                    * 1.0
                    / F.count("*"),
                    6,
                ).alias("model_keep_rate"),
            )
            .orderBy("decile")
        )
        # 10-row result: materialize inside the block (the
        # revenue_pareto idiom)
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# doc_repeated_spans — the MAXIMAL repeated spans themselves (what a
# trimming pass actually removes), islands over the dup windows.
# --------------------------------------------------------------------------
@query(
    "doc_repeated_spans",
    oracle=f"""
    WITH {_DUP_WINDOW_CTES},
    flagged AS (
        SELECT doc_id, i,
               CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i)
                         > {SUBSTR_K} THEN 1 ELSE 0 END AS new_span
        FROM dpos
    ),
    islands AS (
        SELECT doc_id, i,
               sum(new_span) OVER (PARTITION BY doc_id ORDER BY i
                                   ROWS UNBOUNDED PRECEDING) AS span_seq
        FROM flagged
    )
    SELECT doc_id, span_seq::BIGINT AS span_seq,
           min(i)::BIGINT AS span_start,
           (max(i) + {SUBSTR_K} - 1)::BIGINT AS span_end,
           (max(i) + {SUBSTR_K} - min(i))::BIGINT AS span_tokens,
           count(*) AS n_windows
    FROM islands
    GROUP BY doc_id, span_seq
    ORDER BY doc_id, span_start
    """,
)
def doc_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MAXIMAL corpus-repeated spans per document — the concrete
    artifact a dedup-trimming pass removes (doc_repeated_substring_
    coverage reports how MUCH is repeated; this reports WHERE):
    {SUBSTR_K}-token windows occurring ≥2 times in the corpus, merged
    into maximal spans wherever their covered ranges overlap or adjoin
    (gap ≤ {SUBSTR_K}) — the gaps-and-islands pattern over window
    start positions. Span bounds are 0-based token indices, inclusive.

    Scale: identical posture to doc_repeated_substring_coverage (one
    xxhash64-keyed count-window over the positional explode), plus one
    per-doc islands pass (lag + running sum share the same per-doc
    sort). At 100 TB these spans ARE the work-list a maximal-repeat
    extension pass (suffix-array style) would refine.
    """
    docs = load_table(spark, sf_dir, "documents")
    k = SUBSTR_K
    _, dpos = _dup_window_positions(docs, k)
    per_doc = Window.partitionBy("doc_id").orderBy("i")
    flagged = dpos.withColumn(
        "new_span",
        F.when(F.col("i") - F.lag("i").over(per_doc) > k, 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "span_seq",
        F.sum("new_span").over(per_doc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", F.col("span_seq").cast("bigint").alias("span_seq"))
        .agg(
            F.min("i").cast("bigint").alias("span_start"),
            (F.max("i") + k - 1).cast("bigint").alias("span_end"),
            (F.max("i") + k - F.min("i")).cast("bigint").alias("span_tokens"),
            F.count("*").alias("n_windows"),
        )
        .orderBy("doc_id", "span_start")
    )


# --------------------------------------------------------------------------
# term_posting_index — per-term index statistics + bounded posting sample.
# --------------------------------------------------------------------------
POSTING_K = 8        # posting sample: the k smallest doc_ids per term
POSTING_TOP = 200    # emit the top terms by document frequency


def _posting_kernel():
    """The shared sketch.py bottom-k kernel bound to (term, doc_id) —
    per batch, the POSTING_K smallest doc_ids per term, truncated
    INSIDE the map task, so no term ever carries more than k ids per
    partial whatever the corpus size."""
    from open_pulsar_spark.operators.sketch import bottom_k_kernel

    return bottom_k_kernel("term", "doc_id", POSTING_K)


def _posting_merge(partial: DataFrame) -> DataFrame:
    """(term, posting_sample): the duplicate-tolerant bottom-k merge
    (sketch.bottom_k_merge_expr) over kernel partials, comma-joined.
    Module-level so the partition-invariance test exercises the SAME
    merge the operator ships, not a copy."""
    from open_pulsar_spark.operators.sketch import bottom_k_merge_expr

    return partial.groupBy("term").agg(
        F.concat_ws(
            ",",
            F.transform(
                bottom_k_merge_expr("doc_id", POSTING_K),
                lambda x: x.cast("string"),
            ),
        ).alias("posting_sample")
    )


@query(
    "term_posting_index",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS term FROM documents
    ), tf AS (
        SELECT term, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
    ), stats AS (
        SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS cf
        FROM tf GROUP BY term
    ), ranked AS (
        SELECT term, doc_id,
               row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
        FROM tf
    ), posting AS (
        SELECT term,
               string_agg(doc_id::VARCHAR, ',' ORDER BY doc_id)
                   AS posting_sample
        FROM ranked WHERE rk <= {POSTING_K} GROUP BY term
    )
    SELECT s.term, s.df, s.cf, p.posting_sample
    FROM stats s JOIN posting p USING (term)
    ORDER BY s.df DESC, s.term LIMIT {POSTING_TOP}
    """,
)
def term_posting_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BUILD side of an exact-match index: per term, document
    frequency, corpus frequency, and a bounded posting sample (the
    POSTING_K smallest doc_ids, comma-joined) — what contamination
    lookups and exact-substring attribution consult at serve time;
    emits the POSTING_TOP head terms by df.

    Scale contract: df/cf are plain hash aggregates (map-side partial
    combine — splittable, unlike a window over the raw Zipf term key,
    which doc_tfidf_topterms documents as an un-mitigable straggler).
    The posting sample cannot use collect_list per term (a stop word
    collects the whole corpus) NOR a per-term window (same straggler):
    it reuses the KMV two-phase shape — sketch.bottom_k_kernel runs
    MAP-ONLY on the raw token stream (no pre-shuffle; per-batch
    duplicates are the kernel's own drop_duplicates problem, and the
    merge is duplicate-tolerant), and the merge folds only the head
    terms: the bounded df top-k (TakeOrdered, never a global sort)
    broadcast-semi-joins the partial stream first, so the O(vocab)
    tail never pays the collect/sort/join of the merge aggregate.
    Per-term merge state is O(batches·k), not O(df).
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = tok.groupBy("term", "doc_id").agg(F.count("*").alias("tf"))
    stats = tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"),
        F.sum("tf").cast("long").alias("cf"),
    )
    # the head is consumed twice (semi-join filter AND final join);
    # ReusedExchange never fires across two consumers of one lineage,
    # so without the pin the corpus explode + tf aggregate compiles
    # twice — pin caps it at one computation, ≤ POSTING_TOP rows live

    head = pin(
        "posting_head",
        stats.orderBy(F.desc("df"), "term").limit(POSTING_TOP),
        fill=False,
    )
    partial = tok.select("term", "doc_id").mapInPandas(
        _posting_kernel(), "term STRING, doc_id LONG"
    )
    head_partial = partial.join(
        F.broadcast(head.select("term")), "term", "left_semi"
    )
    return (
        head.join(_posting_merge(head_partial), "term")
        .select("term", "df", "cf", "posting_sample")
        .orderBy(F.desc("df"), "term")
    )


# --------------------------------------------------------------------------
# vocab_oov_rate — per-doc out-of-vocabulary rate vs a min-count vocab.
# --------------------------------------------------------------------------
VOCAB_MIN_COUNT = 5   # a token is in-vocab iff it occurs ≥ 5 times corpus-wide


@query(
    "vocab_oov_rate",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest(str_split(text, ' ')) AS t
                 FROM documents),
    c AS (SELECT doc_id, count(*) OVER (PARTITION BY t) AS cnt FROM tok)
    SELECT doc_id,
           count(*)                                            AS n_tokens,
           sum(CASE WHEN cnt < {VOCAB_MIN_COUNT} THEN 1 ELSE 0 END)::BIGINT
                                                               AS n_oov,
           round(sum(CASE WHEN cnt < {VOCAB_MIN_COUNT} THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 6)                          AS oov_rate
    FROM c GROUP BY doc_id ORDER BY doc_id
    """,
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against a min-count
    vocabulary ({VOCAB_MIN_COUNT}+ corpus occurrences — the word2vec
    `min_count` convention): the tokenizer-fit signal a curation
    pass thresholds on. A high OOV share means the document is
    gibberish, boilerplate-encoded, or from a domain the tokenizer
    was never fit on — doc_quality_score's ratios cannot see this
    because they never consult corpus-global frequencies.

    Scale: the doc_unigram_logprob posture — ONE tokenize + explode,
    corpus counts via a count-window keyed by ``xxhash64(t)`` (8-byte
    uniform shuffle key; no vocabulary table is materialized and no
    join runs), then one per-doc re-aggregate. Two shuffles total,
    both on uniform keys; the vocabulary itself never exists as a
    driver-side object, so V can be arbitrarily large.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(_tokens(F.col("text"))).alias("t")
    ).select("doc_id", F.xxhash64("t").alias("h"))
    cnt = F.count("*").over(Window.partitionBy("h"))
    oov = F.when(F.col("cnt") < VOCAB_MIN_COUNT, 1).otherwise(0)
    return (
        tok.withColumn("cnt", cnt)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(oov).cast("bigint").alias("n_oov"),
            F.round(F.sum(oov) * F.lit(1.0) / F.count("*"), 6).alias("oov_rate"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# source_token_keyness — which words characterize each source.
# --------------------------------------------------------------------------
KEYNESS_MIN_CORPUS = 20  # ignore tokens rarer than this corpus-wide

@query(
    "source_token_keyness",
    oracle=f"""
    WITH tok AS (
        SELECT source, unnest(str_split(text, ' ')) AS t FROM documents
    ),
    c AS (SELECT source, t, count(*) AS y FROM tok GROUP BY source, t),
    v AS (SELECT t, sum(y) AS yw FROM c GROUP BY t),
    s AS (SELECT source, sum(y) AS ni FROM c GROUP BY source),
    n AS (SELECT sum(y) AS n FROM c)
    SELECT c.source, c.t,
           c.y::BIGINT AS y_src,
           (v.yw - c.y)::BIGINT AS y_rest,
           round((ln((c.y + v.yw) * 1.0 / (s.ni + n.n - c.y - v.yw))
                  - ln((v.yw - c.y + v.yw) * 1.0
                       / (n.n - s.ni + n.n - (v.yw - c.y) - v.yw)))
                 / sqrt(1.0 / (c.y + v.yw) + 1.0 / (v.yw - c.y + v.yw)),
                 6) AS z
    FROM c JOIN v USING (t) JOIN s USING (source) CROSS JOIN n
    WHERE v.yw >= {KEYNESS_MIN_CORPUS}
    ORDER BY source, t
    """,
)
def source_token_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, token) KEYNESS — the log-odds-ratio z-score with an
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words"), the corpus-comparison statistic that answers
    "which words characterize this source vs the rest of the corpus".
    Prior α_w = the token's corpus count (the paper's recommended
    empirical prior), so z is a pure function of four integer counts:
    y_src, its complement y_rest, the source totals, and the corpus
    total. |z| > 1.96 flags tokens whose usage genuinely differs —
    the signal a mixture designer reads before re-weighting sources,
    and the drift side of corpus_source_drift made word-level.

    Scale: ONE tokenize + explode feeds a (source, token) rollup —
    the pinned compression point every later frame derives from
    (vocab totals by re-agg over tokens, source totals by re-agg over
    sources, the corpus total from the source totals): the raw token
    stream is never re-scanned or re-shuffled. Joins: vocab on token
    (vocab-sized both sides), source totals + corpus total broadcast
    (|sources| + 1 rows). Output is |sources| × qualifying vocab.
    """

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(_tokens(F.col("text"))).alias("t"))
    c = pin("keyness_counts", tok.groupBy("source", "t").agg(F.count("*").alias("y")), fill=False)
    v = c.groupBy("t").agg(F.sum("y").alias("yw"))
    s = c.groupBy("source").agg(F.sum("y").alias("ni"))
    n = s.agg(F.sum("ni").alias("n"))
    y, yw, ni, nn = F.col("y"), F.col("yw"), F.col("ni"), F.col("n")
    delta = F.log((y + yw) * 1.0 / (ni + nn - y - yw)) - F.log(
        (yw - y + yw) * 1.0 / (nn - ni + nn - (yw - y) - yw)
    )
    var = 1.0 / (y + yw) + 1.0 / (yw - y + yw)
    return (
        c.join(v, "t")
        .join(F.broadcast(s), "source")
        .crossJoin(F.broadcast(n))
        .where(yw >= KEYNESS_MIN_CORPUS)
        .select(
            "source",
            "t",
            y.cast("bigint").alias("y_src"),
            (yw - y).cast("bigint").alias("y_rest"),
            F.round(delta / F.sqrt(var), 6).alias("z"),
        )
        .orderBy("source", "t")
    )


# --------------------------------------------------------------------------
# source_crossentropy_matrix — domain similarity via LM cross-scoring.
# --------------------------------------------------------------------------
@query(
    "source_crossentropy_matrix",
    oracle="""
    WITH tok AS (
        SELECT source, unnest(str_split(text, ' ')) AS t FROM documents
    ),
    c AS (SELECT source, t, count(*) AS y FROM tok GROUP BY source, t),
    tot AS (SELECT source, sum(y) AS n FROM c GROUP BY source),
    v AS (SELECT count(DISTINCT t) AS vsz FROM c),
    s AS (SELECT i.source AS train_source, j.source AS eval_source,
                 sum(j.y * ln(i.y + 1)) AS shared
          FROM c i JOIN c j USING (t)
          GROUP BY i.source, j.source)
    SELECT ti.source AS train_source,
           tj.source AS eval_source,
           tj.n::BIGINT AS n_eval_tokens,
           round(ln(ti.n + v.vsz)
                 - coalesce(s.shared, 0.0) / tj.n, 6) AS cross_entropy
    FROM tot ti CROSS JOIN tot tj CROSS JOIN v
    LEFT JOIN s ON s.train_source = ti.source AND s.eval_source = tj.source
    ORDER BY train_source, eval_source
    """,
)
def source_crossentropy_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """|sources|² cross-entropy matrix H(eval | LM_train): the average
    surprisal of each source's tokens under every OTHER source's
    add-one-smoothed unigram LM — the domain-similarity measure data-
    mixture design reads before choosing sampling weights (low
    off-diagonal H = redundant domains; a diagonal row far below its
    off-diagonals = a genuinely distinct domain worth up-weighting).
    Algebraically H_ij = ln(n_i + V) − (1/n_j)·Σ_{w shared} y_jw·ln(y_iw+1),
    since unseen-token terms contribute ln(1) = 0 — so only the shared
    vocabulary is ever scored.

    Scale: ONE tokenize feeds the pinned (source, token) rollup (the
    keyness compression point); the cross-scoring is a vocab-sized
    SELF equi-join on the token — never a corpus join — aggregated
    straight down to |sources|² rows; totals and the vocabulary size
    ride the rollup. The sources×sources grid is a deliberate
    config-sized cross join (|sources| rows a side) so domain pairs
    with zero shared vocabulary still report their ceiling entropy.
    """

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(_tokens(F.col("text"))).alias("t"))
    c = pin(
        "xent_counts",
        tok.groupBy("source", "t").agg(F.count("*").alias("y")),
        fill=False,
    )
    tot = c.groupBy("source").agg(F.sum("y").alias("n"))
    v = c.agg(F.countDistinct("t").alias("vsz"))
    i, j = c.alias("i"), c.alias("j")
    s = (
        i.join(j, F.col("i.t") == F.col("j.t"))
        .groupBy(
            F.col("i.source").alias("train_source"),
            F.col("j.source").alias("eval_source"),
        )
        .agg(F.sum(F.col("j.y") * F.log(F.col("i.y") + 1)).alias("shared"))
    )
    ti = tot.select(
        F.col("source").alias("train_source"), F.col("n").alias("n_train")
    )
    tj = tot.select(
        F.col("source").alias("eval_source"), F.col("n").alias("n_eval")
    )
    return (
        ti.crossJoin(tj)
        .crossJoin(F.broadcast(v))
        .join(s, ["train_source", "eval_source"], "left")
        .select(
            "train_source",
            "eval_source",
            F.col("n_eval").cast("bigint").alias("n_eval_tokens"),
            F.round(
                F.log(F.col("n_train") + F.col("vsz"))
                - F.coalesce(F.col("shared"), F.lit(0.0)) / F.col("n_eval"),
                6,
            ).alias("cross_entropy"),
        )
        .orderBy("train_source", "eval_source")
    )


# --------------------------------------------------------------------------
# corpus_vocab_growth — Heaps-law vocabulary growth curve in corpus order.
# --------------------------------------------------------------------------
VOCAB_BLOCK_DOCS = 50  # docs per corpus-order block


@query(
    "corpus_vocab_growth",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS t FROM documents),
    per_doc AS (
        SELECT floor(doc_id / {VOCAB_BLOCK_DOCS}.0)::BIGINT AS block_id,
               count(*)::BIGINT AS n_tok
        FROM tok GROUP BY 1),
    tokens_per_block AS (
        SELECT block_id, sum(n_tok)::BIGINT AS n_tokens
        FROM per_doc GROUP BY block_id),
    first_seen AS (
        SELECT t, floor(min(doc_id) / {VOCAB_BLOCK_DOCS}.0)::BIGINT AS block_id FROM tok GROUP BY t),
    new_per_block AS (
        SELECT block_id, count(*)::BIGINT AS n_new_types
        FROM first_seen GROUP BY block_id)
    SELECT tb.block_id,
           sum(tb.n_tokens) OVER w::BIGINT AS cum_tokens,
           sum(coalesce(nb.n_new_types, 0)) OVER w::BIGINT AS cum_vocab,
           coalesce(nb.n_new_types, 0)::BIGINT AS n_new_types,
           (sum(coalesce(nb.n_new_types, 0)) OVER w * 1000000
               // sum(tb.n_tokens) OVER w)::BIGINT AS type_token_ppm
    FROM tokens_per_block tb LEFT JOIN new_per_block nb USING (block_id)
    WINDOW w AS (ORDER BY tb.block_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ORDER BY tb.block_id
    """,
)
def corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: cumulative distinct token types vs
    cumulative token count at {VOCAB_BLOCK_DOCS}-doc corpus-order
    checkpoints, plus the type/token ratio (ppm). The curve's flatness
    is the 'is more data still adding vocabulary' readout that sizes
    tokenizer vocabularies and detects template-saturated sources
    (doc_ngram_novelty's per-doc signal, rolled up to corpus shape).

    Scale — the same first-occurrence rewrite as the novelty family:
    cumulative DISTINCT over an expanding corpus prefix is NOT
    computed per checkpoint; each type contributes exactly once at
    min(doc_id), so the plan is one token explode feeding two
    aggregates (per-block token counts, per-type first-seen block —
    both single-shuffle on uniform keys), and the cumulative sums are
    windows over the BOUNDED block series. Token totals and the ppm
    ratio are integers."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    tokens_per_block = (
        tok.groupBy(
            F.floor(F.col("doc_id") / VOCAB_BLOCK_DOCS).cast("bigint").alias("block_id")
        )
        .agg(F.count("*").cast("bigint").alias("n_tokens"))
    )
    new_per_block = (
        tok.groupBy("t")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy(
            F.floor(F.col("first_doc") / VOCAB_BLOCK_DOCS).cast("bigint").alias("block_id")
        )
        .agg(F.count("*").cast("bigint").alias("n_new_types"))
    )
    w = Window.orderBy("block_id").rowsBetween(Window.unboundedPreceding, 0)
    joined = tokens_per_block.join(new_per_block, "block_id", "left").select(
        "block_id",
        "n_tokens",
        F.coalesce("n_new_types", F.lit(0)).cast("bigint").alias("n_new_types"),
    )
    return (
        joined.select(
            "block_id",
            F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
            F.sum("n_new_types").over(w).cast("bigint").alias("cum_vocab"),
            "n_new_types",
            F.expr(
                "sum(n_new_types) over (order by block_id"
                " rows between unbounded preceding and current row)"
                " * 1000000 div sum(n_tokens) over (order by block_id"
                " rows between unbounded preceding and current row)"
            ).alias("type_token_ppm"),
        )
        .orderBy("block_id")
    )


# --------------------------------------------------------------------------
# corpus_zipf_fit — log-log OLS fit of the token rank-frequency curve
# (the corpus-health check: natural text slopes ≈ −1; a pipeline bug —
# dedup gone wrong, boilerplate floods, template spam — bends it).
# --------------------------------------------------------------------------
ZIPF_MIN_FREQ = 5  # rank tail below this is sampling noise, excluded


@query(
    "corpus_zipf_fit",
    oracle=f"""
    WITH tok AS (
        SELECT unnest(str_split(text, ' ')) AS t FROM documents),
    vocab AS (
        SELECT t, count(*)::BIGINT AS freq FROM tok GROUP BY t
        HAVING count(*) >= {ZIPF_MIN_FREQ}),
    ranked AS (
        SELECT freq,
               row_number() OVER (ORDER BY freq DESC, t) AS rk
        FROM vocab),
    pts AS (
        SELECT CAST(round(ln(rk) * 1000000000, 0) AS HUGEINT) AS x,
               CAST(round(ln(freq) * 1000000000, 0) AS HUGEINT) AS y
        FROM ranked),
    s AS (
        SELECT count(*)::HUGEINT AS n, sum(x) AS sx, sum(y) AS sy,
               sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
        FROM pts)
    SELECT n::BIGINT AS n_types,
           round((n * sxy - sx * sy)::DOUBLE
                 / (n * sxx - sx * sx)::DOUBLE, 6) AS slope,
           round((sy::DOUBLE / n::DOUBLE
                  - ((n * sxy - sx * sy)::DOUBLE
                     / (n * sxx - sx * sx)::DOUBLE)
                    * (sx::DOUBLE / n::DOUBLE)) / 1000000000, 6)
               AS intercept_ln,
           CASE WHEN (n * syy - sy * sy) > 0 THEN
               round(((n * sxy - sx * sy)::DOUBLE
                      * (n * sxy - sx * sy)::DOUBLE)
                     / ((n * sxx - sx * sx)::DOUBLE
                        * (n * syy - sy * sy)::DOUBLE), 6)
           END AS r2
    FROM s
    WHERE n >= 2 AND (n * sxx - sx * sx) > 0
    """,
)
def corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus vocabulary: OLS slope, intercept
    and r² of ln(freq) on ln(rank) over all types with freq ≥
    {ZIPF_MIN_FREQ} — the one-row corpus-health gauge (natural text
    slopes ≈ −1 with r² near 1; boilerplate floods flatten the head,
    failed dedup steepens it, template spam shows as r² collapse).
    Complements corpus_vocab_growth (Heaps) — that tracks NEW types
    over corpus order, this checks the equilibrium frequency shape.

    Determinism — the integerize-before-summing doctrine applied to
    a log-log regression: each point's (ln rank, ln freq) is computed
    once with the identical double expression and ROUNDED ONTO A
    NANO-UNIT INTEGER GRID, so all five OLS moments are exact integer
    sums (DECIMAL38/HUGEINT — order-independent, engine-identical);
    only the closing divisions run in doubles, on identically-rounded
    operands (the assortativity contract). Ranks tie on (freq DESC,
    token) — a total order, identical in both engines.

    Scale: one tokenize explode + one vocab aggregate (map-side
    combinable); the ranking runs over the FREQ-FLOORED vocab via the
    distributed prefix rank (never a single-partition window over raw
    tokens); the moments are one map-combinable aggregate over that
    frame to a single row."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = vocab_counts(docs)
    return zipf_fit_from_vocab(spark, vocab)


def vocab_counts(docs: DataFrame) -> DataFrame:
    """documents → (t, freq) token counts — the ONE tokenize+count
    reduction feeding the batch Zipf fit and the streaming vocabulary
    ledger's per-epoch partials (token counts are additive, so the
    folded ledger and a batch scan see identical frequencies)."""
    return (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").cast("bigint").alias("freq"))
    )


def zipf_fit_from_vocab(spark: SparkSession, vocab: DataFrame) -> DataFrame:
    """(t, freq) vocabulary → the 1-row Zipf OLS table — THE one fit
    computation, shared by the batch query and the streaming
    vocabulary ledger's readout (streaming/vocab_stream.py), so the
    two cannot rank, round or divide differently."""

    vocab = vocab.where(F.col("freq") >= ZIPF_MIN_FREQ)
    with global_prefix(
        spark, vocab, [F.desc("freq"), F.asc("t")]
    ) as (aug, _totals):
        pts = aug.select(
            F.round(F.log(F.col("rk")) * 1000000000, 0)
            .cast("decimal(38,0)")
            .alias("x"),
            F.round(F.log(F.col("freq")) * 1000000000, 0)
            .cast("decimal(38,0)")
            .alias("y"),
        )
        s = pts.agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.expr("x * x")).alias("sxx"),
            F.sum(F.expr("x * y")).alias("sxy"),
            F.sum(F.expr("y * y")).alias("syy"),
        )
        nd = F.col("n").cast("double")
        cov = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
            "double"
        )
        vx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
            "double"
        )
        vy = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
            "double"
        )
        out = s.where(
            (F.col("n") >= 2)
            & ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) > 0)
        ).select(
            F.col("n").cast("bigint").alias("n_types"),
            F.round(cov / vx, 6).alias("slope"),
            F.round(
                (
                    F.col("sy").cast("double") / nd
                    - (cov / vx) * (F.col("sx").cast("double") / nd)
                )
                / F.lit(1000000000.0),
                6,
            ).alias("intercept_ln"),
            F.when(
                (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")) > 0,
                F.round(cov * cov / (vx * vy), 6),
            ).alias("r2"),
        )
        # 1-row result: materialize before releasing the rank caches
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# bm25_topk — Okapi BM25 retrieval over the inverted index, exact-integer
# scoring (the sparse-retrieval classic next to tf-idf and RRF).
# --------------------------------------------------------------------------
BM25_QUERIES = 8   # doc_id < 8 are the query documents (the retrieval
#                    family's probe convention: similarity.N_QUERIES)
BM25_TOP_K = 5
# k1 = 6/5, b = 3/4 (the standard 1.2 / 0.75) carried as EXACT
# rationals: with dl, tf, total_dl, N integers, the tf-saturation term
#   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),  avgdl = total_dl/N
# multiplies out to the integer ratio
#   44·tf·total_dl / (20·tf·total_dl + 6·total_dl + 18·dl·N)
# — numerator and denominator exact on both engines.


@query(
    "bm25_topk",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, u.t FROM (
            SELECT doc_id, str_split(text, ' ') AS a FROM documents)
        CROSS JOIN unnest(a) AS u(t)),
    dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM toks GROUP BY doc_id),
    stats AS (SELECT count(*)::BIGINT AS n_docs,
                     sum(dl)::BIGINT AS total_dl FROM dl),
    tf AS (SELECT doc_id, t, count(*)::BIGINT AS tf
           FROM toks GROUP BY doc_id, t),
    idf AS (
        SELECT t, CAST(round(ln(
                   ((SELECT n_docs FROM stats) - count(*) + 0.5)
                   / (count(*) + 0.5) + 1.0) * 1000000000, 0) AS BIGINT)
                   AS idf_ppb
        FROM tf GROUP BY t),
    q AS (SELECT doc_id AS query_id, t FROM tf
          WHERE doc_id < {BM25_QUERIES}),
    scored AS (
        SELECT q.query_id, tf.doc_id,
               sum((idf.idf_ppb::HUGEINT * (44 * tf.tf
                        * (SELECT total_dl FROM stats)))
                   // (20 * tf.tf::HUGEINT * (SELECT total_dl FROM stats)
                       + 6 * (SELECT total_dl FROM stats)
                       + 18 * dl.dl * (SELECT n_docs FROM stats))
                  )::BIGINT AS score_ppb
        FROM q
        JOIN tf ON tf.t = q.t AND tf.doc_id <> q.query_id
        JOIN dl ON dl.doc_id = tf.doc_id
        JOIN idf ON idf.t = q.t
        GROUP BY q.query_id, tf.doc_id)
    SELECT query_id, doc_id, score_ppb, rk FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY score_ppb DESC, doc_id) AS rk
        FROM scored)
    WHERE rk <= {BM25_TOP_K}
    ORDER BY query_id, rk
    """,
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-{BM25_TOP_K} retrieval: the {BM25_QUERIES} probe
    documents' term sets scored against the corpus through the
    inverted index — the sparse-retrieval classic the RRF fusion
    (hybrid_rrf_retrieval) assumes exists, here as a first-class
    Spark plan: posting join (query term = index term), per-doc
    tf-saturation, Lucene-form idf ln((N−df+0.5)/(df+0.5)+1) ≥ 0.

    Determinism — exact-integer BM25: k1/b are exact rationals, so the
    saturation term is one integer ratio (see the constants above);
    the single ln per (query-)term is rounded onto the ppb grid
    BEFORE the per-document sum (the PSI/keyness contract), making
    the score an order-independent BIGINT and the ranking exact on
    both engines (ties break on doc_id).

    Scale: this IS the inverted-index plan — tf/df/dl are one
    tokenize-explode pass reduced by (doc, term) and (term); scoring
    joins touch only postings of the {BM25_QUERIES} query term sets,
    never all (query, doc) pairs; the final cut is a per-query top-k
    window over matched docs only. At 100 TB the known hot spot is
    stopword postings — the production mitigations are the ones this
    engine already grades elsewhere: df-cap the posting lists
    (winnowing_capped_recall's treatment) or impact-order + WAND,
    both pruning the same join. Internal products ride DECIMAL(38,0)
    (Σdl·tf overflows 2^63 at corpus scale); the emitted score is ppb
    BIGINT (bounded by |query| · idf_max·(k1+1) ≈ 10¹³)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    )
    tf = toks.groupBy("doc_id", "t").agg(
        F.count("*").cast("bigint").alias("tf")
    )

    return bm25_from_tf(spark, pin("bm25_tf", tf, fill=False))


def bm25_from_tf(spark: SparkSession, tf: DataFrame) -> DataFrame:
    """(doc_id, t, tf) term-frequency frame → the BM25 top-k table —
    THE one scoring computation, shared by the batch query and the
    streaming tf ledger (streaming/bm25_stream.py): tf counts are
    ADDITIVE (a document's chunks delivered across micro-batches sum
    to the same frequencies), so a folded ledger and a batch tokenize
    score retrieval identically over the union of delivered text."""
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dl"))
    st = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_dl"),
    ).first()
    if st.n_docs is None or st.n_docs == 0:
        return spark.createDataFrame(
            [], "query_id LONG, doc_id LONG, score_ppb BIGINT, rk INT"
        )
    n_docs, total_dl = int(st.n_docs), int(st.total_dl)
    idf = tf.groupBy("t").agg(
        F.expr(
            f"cast(round(ln(({n_docs} - count(*) + 0.5d)"
            " / (count(*) + 0.5d) + 1.0d) * 1000000000, 0) as bigint)"
        ).alias("idf_ppb")
    )
    q = tf.where(F.col("doc_id") < BM25_QUERIES).select(
        F.col("doc_id").alias("query_id"), "t"
    )
    term_ppb = F.expr(
        f"cast((cast(idf_ppb as decimal(38,0)) * (44 * tf * {total_dl}))"
        f" div (cast(20 as decimal(38,0)) * tf * {total_dl}"
        f"      + 6 * cast({total_dl} as decimal(38,0))"
        f"      + 18 * cast(dl as decimal(38,0)) * {n_docs}) as bigint)"
    )
    scored = (
        q.join(tf, "t")
        .where(F.col("doc_id") != F.col("query_id"))
        .join(dl, "doc_id")
        .join(idf, "t")
        .select("query_id", "doc_id", term_ppb.alias("term_ppb"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_ppb").cast("bigint").alias("score_ppb"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_ppb"), "doc_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= BM25_TOP_K)
        .select("query_id", "doc_id", "score_ppb", "rk")
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# lang_token_fertility — per-language tokenizer fertility (the number
# multilingual tokenizer/mixture design actually budgets with).
# --------------------------------------------------------------------------
@query(
    "lang_token_fertility",
    oracle=r"""
    WITH t AS (
        SELECT lang,
               len(regexp_extract_all(text,
                   '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\s]'))::BIGINT
                   AS n_bpeish,
               len(str_split(text, ' '))::BIGINT AS n_ws,
               n_chars::BIGINT AS n_chars
        FROM documents)
    SELECT lang,
           count(*)::BIGINT AS n_docs,
           sum(n_ws)::BIGINT AS ws_tokens,
           sum(n_bpeish)::BIGINT AS bpeish_tokens,
           (sum(n_bpeish) * 1000000 // sum(n_ws))::BIGINT
               AS fertility_ppm,
           (sum(n_chars) * 1000000 // sum(n_bpeish))::BIGINT
               AS chars_per_token_ppm
    FROM t
    GROUP BY lang
    ORDER BY lang
    """,
)
def lang_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: BPE-ish tokens per whitespace
    word (ppm) and characters per BPE-ish token — the two numbers
    multilingual tokenizer and mixture design budget with (a language
    whose fertility is 2× pays 2× the context length and 2× the
    compute for the same text, the standard low-resource-language
    penalty; chars/token is the compression the tokenizer achieves).
    The per-language rollup of doc_token_bpeish's per-doc counts,
    plus the cost framing that makes it actionable next to
    corpus_temperature_mix (which reweights by doc share — fertility
    says the TOKEN share differs from it).

    Determinism: identical regex token classes on both engines
    (doc_token_bpeish's established parity); integer sums and
    trunc-div ppm ratios end to end.

    Scale: one scan, one map-side regex count per doc, one |langs|-
    group aggregate — map-combinable, nothing else."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.size(
            F.expr(
                r"regexp_extract_all(text,"
                r" '[a-z]+|[A-Z][a-z]*|[0-9]+|[^a-zA-Z0-9\\s]', 0)"
            )
        )
        .cast("bigint")
        .alias("n_bpeish"),
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    return (
        t.groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_ws").cast("bigint").alias("ws_tokens"),
            F.sum("n_bpeish").cast("bigint").alias("bpeish_tokens"),
            F.expr(
                "cast(sum(n_bpeish) * 1000000 div sum(n_ws) as bigint)"
            ).alias("fertility_ppm"),
            F.expr(
                "cast(sum(n_chars) * 1000000 div sum(n_bpeish) as bigint)"
            ).alias("chars_per_token_ppm"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# doc_char_entropy — per-document character-distribution entropy (the
# information-theoretic quality signal: noise scores high, boilerplate
# and keyboard-mash repetition score low).
# --------------------------------------------------------------------------
@query(
    "doc_char_entropy",
    oracle="""
    WITH ex AS (
        SELECT doc_id, unnest(string_split(text, '')) AS c
        FROM documents),
    cells AS (
        SELECT doc_id, c, count(*)::BIGINT AS cnt,
               CAST(round(count(*) * ln(count(*)) * 1000000000) AS BIGINT)
                   AS t_nano
        FROM ex GROUP BY doc_id, c),
    per_doc AS (
        SELECT doc_id,
               sum(cnt)::BIGINT AS n_chars_split,
               count(*)::BIGINT AS n_distinct_chars,
               sum(t_nano)::BIGINT AS st
        FROM cells GROUP BY doc_id)
    SELECT p.doc_id, d.lang, p.n_chars_split, p.n_distinct_chars,
           (CAST(round(ln(p.n_chars_split) * 1000000000) AS BIGINT)
               - p.st // p.n_chars_split)::BIGINT AS entropy_nano
    FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id
    ORDER BY p.doc_id
    """,
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon entropy of the CHARACTER distribution, in
    nano-nats: H = ln(n) − (Σ c·ln c)/n over the per-char counts —
    the text twin of multimodal_payload_entropy and the
    information-theoretic leg of the quality family (doc_quality_score
    reads surface ratios, doc_repetition_stats reads n-gram structure;
    this reads the raw symbol distribution — mojibake and
    random-looking noise score near the alphabet's maximum,
    single-char floods and whitespace padding score near zero).

    Determinism: each (doc, char) cell's c·ln(c) term is rounded onto
    a NANO-unit integer grid before the per-doc sum (order-independent
    — the PSI/HBOS closing), and the final subtraction divides exact
    positive integers (Σ c·ln c ≤ n·ln n, so entropy_nano ≥ 0 and
    trunc == floor). Char splitting is the identical one-codepoint
    split in both engines (probed: split(text, '') ==
    string_split(text, '')).

    Scale: ONE map-side character explode (corpus-size rows — the
    documented payload-entropy cost, linear) into a map-combinable
    (doc, char) cell aggregate, then a per-doc rollup; the lang join
    touches only doc-grain rows. No window, no self-join."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
        .groupBy("doc_id", "c")
        .agg(F.count("*").cast("bigint").alias("cnt"))
        .select(
            "doc_id",
            "cnt",
            F.round(
                F.col("cnt") * F.log(F.col("cnt").cast("double"))
                * F.lit(1000000000),
                0,
            )
            .cast("bigint")
            .alias("t_nano"),
        )
    )
    per_doc = cells.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_chars_split"),
        F.count("*").cast("bigint").alias("n_distinct_chars"),
        F.sum("t_nano").cast("bigint").alias("st"),
    )
    return (
        per_doc.join(docs.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_chars_split",
            "n_distinct_chars",
            (
                F.round(
                    F.log(F.col("n_chars_split").cast("double"))
                    * F.lit(1000000000),
                    0,
                ).cast("bigint")
                - F.expr("st div n_chars_split")
            )
            .cast("bigint")
            .alias("entropy_nano"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# doc_rake_keyphrases — RAKE keyphrase extraction (phrase-level salience,
# where tfidf_topterms is term-level and corpus-relative).
# --------------------------------------------------------------------------
RAKE_TOP = 3


@query(
    "doc_rake_keyphrases",
    oracle=f"""
    WITH toks AS (
        SELECT d.doc_id, g.i AS pos, d.arr[g.i] AS tok
        FROM (SELECT doc_id, string_split(text, ' ') AS arr
              FROM documents) d,
             LATERAL (SELECT unnest(generate_series(1, len(d.arr)))
                      AS i) g),
    lab AS (
        SELECT doc_id, pos, tok,
               CASE WHEN tok IN {_SW_SQL} OR tok = '' THEN 1 ELSE 0 END
                   AS st
        FROM toks),
    ph AS (
        SELECT doc_id, pos, tok, st,
               sum(st) OVER (PARTITION BY doc_id ORDER BY pos) AS phrase_id
        FROM lab),
    words AS (SELECT doc_id, phrase_id, pos, tok FROM ph WHERE st = 0),
    plen AS (SELECT doc_id, phrase_id, count(*)::BIGINT AS len
             FROM words GROUP BY 1, 2),
    freq AS (SELECT doc_id, tok, count(*)::BIGINT AS f
             FROM words GROUP BY 1, 2),
    degw AS (
        SELECT w.doc_id, w.tok, sum(p.len)::BIGINT AS dg
        FROM words w
        JOIN plen p ON p.doc_id = w.doc_id AND p.phrase_id = w.phrase_id
        GROUP BY 1, 2),
    wsc AS (
        SELECT f.doc_id, f.tok, (d.dg * 1000000 // f.f)::BIGINT AS ws
        FROM freq f JOIN degw d ON d.doc_id = f.doc_id AND d.tok = f.tok),
    phr AS (
        SELECT w.doc_id, w.phrase_id,
               string_agg(w.tok, ' ' ORDER BY w.pos) AS phrase,
               sum(s.ws)::BIGINT AS score,
               count(*)::BIGINT AS n_words
        FROM words w
        JOIN wsc s ON s.doc_id = w.doc_id AND s.tok = w.tok
        GROUP BY 1, 2),
    dist AS (
        SELECT doc_id, phrase,
               max(score)::BIGINT AS score_ppm,
               max(n_words)::BIGINT AS n_words,
               count(*)::BIGINT AS n_occ
        FROM phr GROUP BY 1, 2)
    SELECT doc_id, rk::INT AS rk, phrase, n_words, n_occ, score_ppm
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY score_ppm DESC, phrase) AS rk
          FROM dist)
    WHERE rk <= {RAKE_TOP}
    ORDER BY doc_id, rk
    """,
)
def doc_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.): candidate phrases are
    the maximal stopword-delimited token runs; each word scores
    degree/frequency over the document's phrase graph (degree = total
    length of phrases it appears in — words that keep company with
    many co-words outrank isolated frequent words); a phrase scores
    the sum of its words, and the top-{RAKE_TOP} distinct phrases per
    document win. The PHRASE-level salience extractor next to
    doc_tfidf_topterms' corpus-relative single terms — the difference
    is exactly multi-word index entries ('hash value table' vs three
    unrelated unigrams).

    Determinism: degree/frequency are integer counts; word scores are
    one trunc-div ppm each; phrase scores are integer sums; ranking
    ties break on the phrase string.

    Scale: every stage keys by doc_id (the natural partition) — the
    phrase-id running sum is a doc-local window, the freq/degree/
    score joins are doc-keyed equi-joins, and nothing ever crosses
    documents. Output is ≤{RAKE_TOP} rows per doc."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    lab = toks.select(
        "doc_id",
        "pos",
        "tok",
        F.when(
            F.col("tok").isin(*STOPWORDS) | (F.col("tok") == ""), 1
        )
        .otherwise(0)
        .alias("st"),
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    ph = lab.select(
        "doc_id", "pos", "tok", "st",
        F.sum("st").over(wd).alias("phrase_id"),
    )

    words = pin(
        "rake_words",
        ph.where(F.col("st") == 0).drop("st"),
        fill=False,
    )
    plen = words.groupBy("doc_id", "phrase_id").agg(
        F.count("*").cast("bigint").alias("len")
    )
    freq = words.groupBy("doc_id", "tok").agg(
        F.count("*").cast("bigint").alias("f")
    )
    degw = (
        words.join(plen, ["doc_id", "phrase_id"])
        .groupBy("doc_id", "tok")
        .agg(F.sum("len").cast("bigint").alias("dg"))
    )
    wsc = freq.join(degw, ["doc_id", "tok"]).select(
        "doc_id",
        "tok",
        F.expr("cast(dg * 1000000 div f as bigint)").alias("ws"),
    )
    phr = (
        words.join(wsc, ["doc_id", "tok"])
        .groupBy("doc_id", "phrase_id")
        .agg(
            F.expr(
                "concat_ws(' ', transform(sort_array("
                "collect_list(struct(pos, tok))), x -> x.tok))"
            ).alias("phrase"),
            F.sum("ws").cast("bigint").alias("score"),
            F.count("*").cast("bigint").alias("n_words"),
        )
    )
    dist = phr.groupBy("doc_id", "phrase").agg(
        F.max("score").cast("bigint").alias("score_ppm"),
        F.max("n_words").cast("bigint").alias("n_words"),
        F.count("*").cast("bigint").alias("n_occ"),
    )
    wr = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), "phrase"
    )
    return (
        dist.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= RAKE_TOP)
        .select(
            "doc_id",
            F.col("rk").cast("int").alias("rk"),
            "phrase",
            "n_words",
            "n_occ",
            "score_ppm",
        )
        .orderBy("doc_id", "rk")
    )


# --------------------------------------------------------------------------
# quality_token_lorenz — the curation BUDGET curve: token mass vs
# quality rank (what quality threshold a token budget actually buys).
# --------------------------------------------------------------------------
@query(
    "quality_token_lorenz",
    oracle=f"""
    WITH t AS (SELECT doc_id, text, str_split(text, ' ') AS toks
               FROM documents),
    m AS (SELECT doc_id,
                 CAST(floor((0.4 * least(len(toks) / 100.0, 1.0)
                      + 0.4 * (len(list_distinct(toks)) * 1.0 / len(toks))
                      + 0.2 * least((len(list_filter(toks, x -> x IN {_SW_SQL}))
                                     * 1.0 / len(toks)) / 0.1, 1.0))
                      * 1000000 + 0.5) AS BIGINT) AS q_int,
                 len(toks)::BIGINT AS n_toks
          FROM t),
    r AS (SELECT q_int, n_toks,
                 row_number() OVER (ORDER BY q_int DESC, doc_id) AS rk,
                 sum(n_toks) OVER (ORDER BY q_int DESC, doc_id
                     ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
                 count(*) OVER ()::BIGINT AS n,
                 sum(n_toks) OVER ()::BIGINT AS tt
          FROM m)
    SELECT (((rk - 1) * 10) // n + 1)::BIGINT AS decile,
           count(*)::BIGINT AS n_docs,
           sum(n_toks)::BIGINT AS tokens,
           max(cum)::BIGINT AS cum_tokens,
           (max(cum) * 1000000 // max(tt))::BIGINT AS cum_token_share_ppm,
           min(q_int)::BIGINT AS min_quality_micro
    FROM r
    GROUP BY 1
    ORDER BY decile
    """,
)
def quality_token_lorenz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation BUDGET curve: rank the corpus best-quality-first
    and report, per quality decile, the cumulative TOKEN share — the
    reading that turns 'train on the top X% quality' into 'that buys
    Y% of the tokens, and the threshold is this score'. The missing
    axis in quality_llm_calibration (which grades the score) and
    corpus_mix_weights (which assumes a kept set): budgets are paid in
    tokens, not documents, and quality and length correlate — only
    this curve shows by how much.

    Determinism: quality is the shared 1e-6 integer grid, token
    counts are exact, the decile is the rank formula, shares are
    trunc-div ppm.

    Scale: the global quality rank AND the running token sum ride the
    distributed prefix scaffold (global_prefix with a cum column —
    the revenue_pareto pattern), never a single-partition window;
    the rollup is 10 groups."""

    docs = load_table(spark, sf_dir, "documents")
    # toks then q_int each hoisted into their own projection: the
    # inline form evaluated the quality expression twice (q_int and
    # its negation) with five tokenizes EACH (performance note at
    # quality_from_toks); values are unchanged — same ops, same array
    m = (
        docs.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .select(
            "doc_id",
            F.expr(_Q_INT_TOKS_EXPR).alias("q_int"),
            F.size("toks").cast("bigint").alias("n_toks"),
        )
        .select("doc_id", "q_int", (-F.col("q_int")).alias("q_neg"), "n_toks")
    )
    with global_prefix(
        spark, m, ["q_neg", "doc_id"], cum_cols=["n_toks"]
    ) as (aug, totals):
        n, tt = totals["n"], totals["n_toks"]
        out = (
            aug.withColumn(
                "decile", F.expr(f"((rk - 1) * 10) div {n} + 1")
            )
            .groupBy(F.col("decile").cast("bigint").alias("decile"))
            .agg(
                F.count("*").cast("bigint").alias("n_docs"),
                F.sum("n_toks").cast("bigint").alias("tokens"),
                F.max("cum_n_toks").cast("bigint").alias("cum_tokens"),
                F.expr(
                    f"cast(max(cum_n_toks) * 1000000 div {tt} as bigint)"
                ).alias("cum_token_share_ppm"),
                F.min("q_int").cast("bigint").alias("min_quality_micro"),
            )
            .orderBy("decile")
        )
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# tokenizer_vocab_coverage — OOV audit of a frequency-built vocabulary.
# A tokenizer (or merge table) trained on corpus frequencies keeps the
# top-V units; everything else hits the OOV/byte-fallback path, and the
# FALLBACK RATE PER SOURCE is the number that decides whether a source
# needs vocab expansion before training. Unit here: word BIGRAMS (the
# corpus' ~30-word vocabulary makes unigram coverage degenerate, while
# its ~900 bigram types give a real frequency cliff — and bigram
# frequency is exactly the statistic BPE merges are ranked by).
# --------------------------------------------------------------------------
VOCAB_V = 256  # vocabulary size: top-V bigrams by corpus frequency


@query(
    "tokenizer_vocab_coverage",
    oracle=f"""
    WITH t AS (SELECT source, str_split(text, ' ') AS toks FROM documents),
    bg AS (
        SELECT source, unnest(list_transform(
                   generate_series(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        FROM t),
    freq AS (SELECT bigram, count(*)::BIGINT AS c FROM bg GROUP BY 1),
    vocab AS (
        SELECT bigram FROM (
            SELECT bigram,
                   row_number() OVER (ORDER BY c DESC, bigram) AS rk
            FROM freq)
        WHERE rk <= {VOCAB_V})
    SELECT source,
           count(*)::BIGINT AS n_bigrams,
           sum(CASE WHEN v.bigram IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_oov,
           count(DISTINCT bg.bigram)::BIGINT AS n_distinct,
           count(DISTINCT CASE WHEN v.bigram IS NULL
                               THEN bg.bigram END)::BIGINT
               AS n_distinct_oov,
           (sum(CASE WHEN v.bigram IS NULL THEN 1 ELSE 0 END)
            * 1000000 // count(*))::BIGINT AS oov_ppm
    FROM bg LEFT JOIN vocab v ON v.bigram = bg.bigram
    GROUP BY source
    ORDER BY source
    """,
)
def tokenizer_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per source against a top-{VOCAB_V}
    bigram vocabulary built from corpus frequencies (count DESC, then
    lexicographic — the deterministic merge-rank order). Emits per
    source the bigram volume, OOV hits, distinct/distinct-OOV type
    counts, and the OOV rate on a ppm grid — the fertility/fallback
    audit that decides which sources a tokenizer underserves, next to
    lang_token_fertility's per-language readout.

    Determinism: the vocabulary cut is a row_number with a total
    order (count DESC, bigram ASC); coverage is pure integer counts
    and one trunc-div per source.

    Scale: bigrams explode map-side from each doc's token array (no
    self-join); ONE shuffle builds the global frequency table; the
    top-{VOCAB_V} cut is config-bounded, so membership flags ride a
    BROADCAST left join back onto the stream and the per-source close
    is one map-combinable aggregate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source", _tokens(F.col("text")).alias("toks")
    )
    # Guard for < 2 tokens: Spark's sequence(1, 0) counts DOWN ([1, 0]
    # — element_at(_, 0) throws) where DuckDB's generate_series(1, 0)
    # is empty, so short docs must short-circuit to an empty array.
    bg = docs.select(
        "source",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) < 2 THEN array()"
                " ELSE transform(sequence(1, size(toks) - 1),"
                " i -> concat(element_at(toks, i), ' ',"
                "             element_at(toks, i + 1))) END"
            )
        ).alias("bigram"),
    )
    freq = bg.groupBy("bigram").agg(F.count("*").cast("bigint").alias("c"))
    w_rk = Window.orderBy(F.desc("c"), "bigram")
    vocab = (
        freq.withColumn("rk", F.row_number().over(w_rk))
        .where(F.col("rk") <= VOCAB_V)
        .select("bigram", F.lit(1).alias("in_vocab"))
    )
    return (
        bg.join(F.broadcast(vocab), "bigram", "left")
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_oov"),
            F.countDistinct("bigram").cast("bigint").alias("n_distinct"),
            F.countDistinct(
                F.when(F.col("in_vocab").isNull(), F.col("bigram"))
            )
            .cast("bigint")
            .alias("n_distinct_oov"),
        )
        .select(
            "source",
            "n_bigrams",
            "n_oov",
            "n_distinct",
            "n_distinct_oov",
            F.expr(
                "cast(n_oov * 1000000 div n_bigrams as bigint)"
            ).alias("oov_ppm"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# token_dispersion_profile — Church–Gale burstiness per token: corpus
# frequency says how OFTEN a token occurs, document frequency says how
# WIDELY. Function words spread (cf ≈ df·rate everywhere); topical and
# boilerplate tokens CLUMP (high per-containing-doc rate, low spread).
# The dispersion table is what separates "frequent because ubiquitous"
# from "frequent because a few documents hammer it" — the lexical
# statistic TF-IDF consumes implicitly, made explicit per token.
# --------------------------------------------------------------------------
@query(
    "token_dispersion_profile",
    oracle="""
    WITH w AS (
        SELECT doc_id, unnest(str_split(text, ' ')) AS token
        FROM documents),
    n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
    t AS (
        SELECT token,
               count(*)::BIGINT AS cf,
               count(DISTINCT doc_id)::BIGINT AS df
        FROM w GROUP BY token)
    SELECT token, cf, df,
           (cf::HUGEINT * 1000000 // df)::BIGINT AS per_doc_rate_ppm,
           (df::HUGEINT * 1000000 // n.n_docs)::BIGINT
               AS doc_coverage_ppm,
           CASE WHEN cf::HUGEINT * n.n_docs > 2::HUGEINT * df * df
                THEN 1 ELSE 0 END AS clumped
    FROM t CROSS JOIN n
    ORDER BY token
    """,
)
def token_dispersion_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-token dispersion: corpus frequency, document frequency, the
    per-containing-doc rate (cf/df, ppm — 1e6 means "once per doc
    that has it at all"), corpus coverage (df/n_docs, ppm), and a
    CLUMPED flag marking tokens whose per-doc rate exceeds twice the
    rate uniform spreading would give (cf·N > 2·df² — the exact
    integer cross-multiplication of cf/df > 2·df/N). Clumped tokens
    are boilerplate/topical anchors; spread tokens are the function-
    word bed — the explicit form of the contrast TF-IDF, keyness and
    RAKE all lean on.

    Determinism: integer counts, trunc-div ppm grids, one integer
    cross-multiplied flag.

    Scale: one map-side token explode, one token-keyed aggregate
    (count + count distinct), a 1-row broadcast for N. Output is
    vocabulary-bounded."""
    docs = load_table(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    n = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    t = w.groupBy("token").agg(
        F.count("*").cast("bigint").alias("cf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    return (
        t.crossJoin(F.broadcast(n))
        .select(
            "token",
            "cf",
            "df",
            F.expr(
                "cast(cast(cf as decimal(38,0)) * 1000000 div df"
                " as bigint)"
            ).alias("per_doc_rate_ppm"),
            F.expr(
                "cast(cast(df as decimal(38,0)) * 1000000 div n_docs"
                " as bigint)"
            ).alias("doc_coverage_ppm"),
            F.expr(
                "CASE WHEN cast(cf as decimal(38,0)) * n_docs"
                " > cast(2 as decimal(38,0)) * df * df"
                " THEN 1 ELSE 0 END"
            ).alias("clumped"),
        )
        .orderBy("token")
    )
