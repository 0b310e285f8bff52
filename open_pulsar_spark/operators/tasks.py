"""L3 orchestration semantics as declarative DataFrame pipelines.

These are the reference's own operators (SURVEY.md §2) re-expressed
Spark-first. Operators whose natural input is a config artifact (a
markdown task file, a log tail, a state table) run here over embedded
golden fixtures — the same fixture text appears as a VALUES clause in
the oracle SQL, so the driver checks the full computation, not a
canned answer.

Reference parity citations are per-operator below (file:line into
/root/reference/).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.registry import query, query_sql
from open_pulsar_spark.tables import load_table

# ---------------------------------------------------------------------------
# parse_tasks — markdown task-file scan (reference: agent-loop.sh:185-227).
# ---------------------------------------------------------------------------
# Fixture covers the reference's unit cases (tests/test-features.sh:441-579):
# ungrouped leading task, groups, multi-line continuation, CRLF, heading
# directly after a task.
TASK_FILE_LINES: list[tuple[int, str]] = [
    (1, "- first task before any group"),
    (2, "## Group One"),
    (3, "- do the thing"),
    (4, "  with a continuation line"),
    (5, "  and another continuation"),
    (6, "- second task in group one\r"),
    (7, ""),
    (8, "## Group Two"),
    (9, "- task in group two"),
    (10, "## Empty Group"),
    (11, "## Group Three"),
    (12, "- final task"),
]


def _sql_values(rows: list[tuple[int, str]]) -> str:
    def esc(s: str) -> str:
        return s.replace("'", "''").replace("\r", "' || chr(13) || '")

    return ", ".join(f"({i}, '{esc(s)}')" for i, s in rows)


@query(
    "parse_tasks",
    oracle=rf"""
    WITH lines(line_id, raw) AS (VALUES {_sql_values(TASK_FILE_LINES)}),
    clean AS (SELECT line_id, regexp_replace(raw, chr(13) || '$', '') AS line FROM lines),
    cls AS (
        SELECT line_id, line,
               CASE WHEN regexp_matches(line, '^##\s+')
                    THEN trim(regexp_replace(line, '^##\s+', '')) END AS grp_raw,
               CASE WHEN regexp_matches(line, '^- ') THEN 1 ELSE 0 END AS is_start,
               CASE WHEN regexp_matches(line, '^\s+\S') THEN 1 ELSE 0 END AS is_cont,
               CASE WHEN regexp_matches(line, '^- ') THEN substr(line, 3)
                    WHEN regexp_matches(line, '^\s+\S') THEN trim(line) END AS content
        FROM clean),
    filled AS (
        SELECT *,
               coalesce(last_value(grp_raw IGNORE NULLS)
                   OVER (ORDER BY line_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   'ungrouped') AS grp,
               sum(is_start) OVER (ORDER BY line_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg,
               max(CASE WHEN is_start = 1 THEN line_id END) OVER (ORDER BY line_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_start,
               max(CASE WHEN grp_raw IS NOT NULL THEN line_id END) OVER (ORDER BY line_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_heading
        FROM cls)
    SELECT row_number() OVER (ORDER BY seg) AS task_idx,
           arg_min(grp, line_id) AS grp,
           string_agg(content, ' ' ORDER BY line_id) AS task
    FROM filled
    WHERE seg > 0
      AND (is_start = 1
           OR (is_cont = 1 AND last_start IS NOT NULL
               AND (last_heading IS NULL OR last_start > last_heading)))
    GROUP BY seg
    ORDER BY task_idx
    """,
)
def parse_tasks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown task-file parse over the golden fixture (SURVEY §2.1 S1).
    The reusable engine operator is `parse_task_lines` below."""
    lines = spark.createDataFrame(TASK_FILE_LINES, "line_id INT, raw STRING")
    return parse_task_lines(lines)


def parse_task_lines(lines: DataFrame) -> DataFrame:
    """Markdown task-list parse as a DataFrame pipeline (SURVEY §2.1 S1;
    reference: agent-loop.sh:185-227 + flush_task :173-183).

    `## H` opens a group, `- t` opens a task, indented lines continue
    the open task (closed by the next heading), CRLF is stripped,
    tasks before any heading get group 'ungrouped'. Expressed as:
    regexp classification → forward-fill group (last ignorenulls) →
    task segment id (running sum of starts) → ordered merge of
    continuations.

    Input: (line_id INT, raw STRING). Scale note: the global
    Window.orderBy serializes — correct for a config-sized task file
    (its real-world cardinality); a giant input would first split on
    heading boundaries and parallelize per section.
    """
    w = Window.orderBy("line_id").rowsBetween(Window.unboundedPreceding, 0)
    line = F.regexp_replace("raw", "\r$", "")
    cls = lines.select(
        "line_id",
        F.when(
            line.rlike(r"^##\s+"), F.trim(F.regexp_replace(line, r"^##\s+", ""))
        ).alias("grp_raw"),
        F.when(line.rlike("^- "), 1).otherwise(0).alias("is_start"),
        F.when(line.rlike(r"^\s+\S"), 1).otherwise(0).alias("is_cont"),
        F.when(line.rlike("^- "), F.expr("substr(regexp_replace(raw, '\r$', ''), 3)"))
        .when(line.rlike(r"^\s+\S"), F.trim(line))
        .alias("content"),
    )
    filled = cls.select(
        "*",
        F.coalesce(F.last("grp_raw", ignorenulls=True).over(w), F.lit("ungrouped")).alias("grp"),
        F.sum("is_start").over(w).alias("seg"),
        F.max(F.when(F.col("is_start") == 1, F.col("line_id"))).over(w).alias("last_start"),
        F.max(F.when(F.col("grp_raw").isNotNull(), F.col("line_id"))).over(w).alias("last_heading"),
    )
    valid = filled.where(
        (F.col("seg") > 0)
        & (
            (F.col("is_start") == 1)
            | (
                (F.col("is_cont") == 1)
                & F.col("last_start").isNotNull()
                & (F.col("last_heading").isNull() | (F.col("last_start") > F.col("last_heading")))
            )
        )
    )
    return (
        valid.groupBy("seg")
        .agg(
            F.min_by("grp", "line_id").alias("grp"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("line_id", "content"))),
                    lambda x: x.content,
                ),
                " ",
            ).alias("task"),
        )
        .withColumn("task_idx", F.row_number().over(Window.orderBy("seg")))
        .select("task_idx", "grp", "task")
        .orderBy("task_idx")
    )


# ---------------------------------------------------------------------------
# classify_error — multi-way regex CASE (reference: agent-loop.sh:393-412).
# ---------------------------------------------------------------------------
ERROR_FIXTURES: list[tuple[int, str]] = [
    (1, "HTTP 429 Too Many Requests: rate limit exceeded, retry later"),
    (2, "error: context_length_exceeded — prompt is 210000 tokens"),
    (3, "fatal: 401 Unauthorized — invalid api key"),
    (4, "process killed: SIGTERM after timeout of 600s"),
    (5, "curl: (7) ECONNREFUSED connecting to host"),
    (6, "panic: something nobody anticipated happened"),
    (7, "Rate Limit hit (mixed case variant)"),
    (8, "DNS resolution failure for api.example.com"),
]

# class → regex, first match wins (case-insensitive), else 'unknown'
ERROR_CLASSES: list[tuple[str, str]] = [
    ("rate_limit", r"\b429\b|rate.?limit"),
    ("context_overflow", r"context.?length|token.{0,12}limit|prompt is too long"),
    ("auth", r"\b401\b|unauthorized|authentication|invalid api key"),
    ("timeout", r"timeout|timed out|sigterm"),
    ("network", r"econnrefused|\bdns\b|connection refused|network error"),
]


@query(
    "classify_error",
    oracle="""
    WITH logs(case_id, tail) AS (VALUES {values})
    SELECT case_id,
           CASE {whens} ELSE 'unknown' END AS error_class
    FROM logs
    ORDER BY case_id
    """.format(
        values=_sql_values(ERROR_FIXTURES),
        whens=" ".join(
            f"WHEN regexp_matches(tail, '(?i){rx}') THEN '{name}'"
            for name, rx in ERROR_CLASSES
        ),
    ),
)
def classify_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error classification: chained case-insensitive regex CASE with
    first-match-wins (SURVEY §2.2 F5; reference agent-loop.sh:393-412),
    over golden log tails covering every class."""
    logs = spark.createDataFrame(ERROR_FIXTURES, "case_id INT, tail STRING")
    expr = None
    for name, rx in ERROR_CLASSES:
        cond = F.col("tail").rlike(f"(?i){rx}")
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return logs.select(
        "case_id", expr.otherwise("unknown").alias("error_class")
    ).orderBy("case_id")


# ---------------------------------------------------------------------------
# backoff_schedule — retry arithmetic (reference: agent-loop.sh:373-391).
# ---------------------------------------------------------------------------
@query(
    "backoff_schedule",
    oracle="""
    SELECT attempt, rl AS rate_limited,
           least(cast(pow(2, attempt) AS BIGINT) * (1 + rl), 60) AS delay_sec
    FROM range(1, 6) t(attempt), (VALUES (0), (1)) r(rl)
    ORDER BY attempt, rate_limited
    """,
)
def backoff_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential backoff: 2^attempt, ×2 when rate-limited, capped at
    60 s (jitter term pinned to 0 for determinism; the production
    policy adds rand()·4 seconds — SURVEY §2.8 X7, BASELINE.md)."""
    return (
        spark.range(1, 6)
        .select(F.col("id").alias("attempt"))
        .crossJoin(spark.createDataFrame([(0,), (1,)], "rate_limited INT"))
        .select(
            "attempt",
            "rate_limited",
            F.least(
                F.pow(2, F.col("attempt")).cast("bigint") * (1 + F.col("rate_limited")),
                F.lit(60),
            ).alias("delay_sec"),
        )
        .orderBy("attempt", "rate_limited")
    )


# ---------------------------------------------------------------------------
# status_histogram — state-table aggregate (reference: agent-loop.sh:137-166).
# ---------------------------------------------------------------------------
STATE_FIXTURE: list[tuple[int, str]] = [
    (0, "completed"), (1, "completed"), (2, "failed"), (3, "interrupted"),
    (4, "running"), (5, "completed"), (6, "pending"), (7, "pending"),
    (8, "completed"), (9, "failed"),
]


@query(
    "status_histogram",
    oracle=f"""
    WITH state(idx, status) AS (VALUES {", ".join(f"({i}, '{s}')" for i, s in STATE_FIXTURE)})
    SELECT count(*) FILTER (WHERE status = 'completed')   AS n_completed,
           count(*) FILTER (WHERE status = 'failed')      AS n_failed,
           count(*) FILTER (WHERE status = 'interrupted') AS n_interrupted,
           count(*) FILTER (WHERE status = 'running')     AS n_running,
           count(*) - count(*) FILTER (WHERE status IN
               ('completed', 'failed', 'interrupted', 'running')) AS n_pending,
           count(*) AS n_total
    FROM state
    """,
)
def status_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`--status` aggregation: per-status counts with pending derived
    by subtraction, exactly like the reference (agent-loop.sh:144-151,
    SURVEY §2.4 A1 incl. the pending-derivation edge)."""
    state = spark.createDataFrame(STATE_FIXTURE, "idx INT, status STRING")
    cnt = lambda s: F.sum(F.when(F.col("status") == s, 1).otherwise(0))
    known = F.sum(
        F.when(
            F.col("status").isin("completed", "failed", "interrupted", "running"), 1
        ).otherwise(0)
    )
    return state.agg(
        cnt("completed").alias("n_completed"),
        cnt("failed").alias("n_failed"),
        cnt("interrupted").alias("n_interrupted"),
        cnt("running").alias("n_running"),
        (F.count("*") - known).alias("n_pending"),
        F.count("*").alias("n_total"),
    )


# ---------------------------------------------------------------------------
# token_usage_sum — semi-structured JSON aggregation (agent-loop.sh:414-426).
# ---------------------------------------------------------------------------
USAGE_FIXTURE: list[tuple[int, str]] = [
    (1, '{"usage": {"input_tokens": 1000, "cache_creation_input_tokens": 200,'
        ' "cache_read_input_tokens": 2500, "output_tokens": 100},'
        ' "modelUsage": {"m1": {"contextWindow": 200000}}}'),
    (2, '{"usage": {"input_tokens": 50, "output_tokens": 20}}'),
    (3, '{"result": "no usage block at all"}'),
]


@query(
    "token_usage_sum",
    oracle=f"""
    WITH docs(doc_id, j) AS (VALUES {_sql_values(USAGE_FIXTURE)})
    SELECT doc_id,
           coalesce(TRY_CAST(json_extract_string(j, '$.usage.input_tokens') AS BIGINT), 0)
         + coalesce(TRY_CAST(json_extract_string(j, '$.usage.cache_creation_input_tokens') AS BIGINT), 0)
         + coalesce(TRY_CAST(json_extract_string(j, '$.usage.cache_read_input_tokens') AS BIGINT), 0)
         + coalesce(TRY_CAST(json_extract_string(j, '$.usage.output_tokens') AS BIGINT), 0) AS total_tokens,
           coalesce(TRY_CAST(json_extract_string(j, '$.modelUsage.m1.contextWindow') AS BIGINT), 200000)
             AS context_window
    FROM docs
    ORDER BY doc_id
    """,
)
def token_usage_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-usage extraction with `// 0` defaulting semantics
    (SURVEY §2.4 A3; reference agent-loop.sh:414-426): sum four usage
    fields, default the context window to 200k when absent."""
    docs = spark.createDataFrame(USAGE_FIXTURE, "doc_id INT, j STRING")
    g = lambda p: F.coalesce(F.get_json_object("j", p).cast("bigint"), F.lit(0))
    return docs.select(
        "doc_id",
        (
            g("$.usage.input_tokens")
            + g("$.usage.cache_creation_input_tokens")
            + g("$.usage.cache_read_input_tokens")
            + g("$.usage.output_tokens")
        ).alias("total_tokens"),
        F.coalesce(
            F.get_json_object("j", "$.modelUsage.m1.contextWindow").cast("bigint"),
            F.lit(200000),
        ).alias("context_window"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# slugify_parts — slug scalar function over a real table (agent-loop.sh:243-245).
# ---------------------------------------------------------------------------
def slug_expr(col) -> "F.Column":
    """THE slugify chain (reference agent-loop.sh:243-245): lowercase →
    non-alnum runs to '-' → collapse runs → strip edge dashes. One
    definition for every slug in the module (slugify_parts,
    task_log_names) so a rule change can't desynchronize log names
    from the registered slug query."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(col), "[^a-z0-9]+", "-"), "-{2,}", "-"
        ),
        "^-+|-+$",
        "",
    )


@query(
    "slugify_parts",
    oracle="""
    SELECT p_partkey,
           substr(
             regexp_replace(
               regexp_replace(
                 regexp_replace(lower(p_name || ' ' || p_brand), '[^a-z0-9]+', '-', 'g'),
                 '-{2,}', '-', 'g'),
               '^-+|-+$', '', 'g'),
             1, 30) AS slug
    FROM part
    ORDER BY p_partkey
    """,
)
def slugify_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """slugify (SURVEY §2.8 X1; reference agent-loop.sh:243-245 with the
    30-char group-slug truncation at :270-273): lowercase → non-alnum
    runs to '-' → collapse → strip → truncate."""
    part = load_table(spark, sf_dir, "part")
    slug = F.substring(slug_expr(F.concat_ws(" ", "p_name", "p_brand")), 1, 30)
    return part.select("p_partkey", slug.alias("slug")).orderBy("p_partkey")


# ---------------------------------------------------------------------------
# doc_chunk_plan — sink chunk budgeting (telegram-agent.py:200-246).
# ---------------------------------------------------------------------------
# Chunk budgeting for a bounded sink (SURVEY §2.8 X2 envelope;
# reference telegram-agent.py:200-209: limit 4096 → here 500, header
# budget 8 → usable 492). The full boundary-preferring splitter is
# functions.chunking.chunk_text (a UDF, exercised in tests/).
doc_chunk_plan = query_sql(
    "doc_chunk_plan",
    """
    SELECT doc_id, length(text) AS n_chars,
           greatest(1, cast(ceil(length(text) / 492.0) AS BIGINT)) AS n_chunks,
           CASE WHEN length(text) > 500 THEN 1 ELSE 0 END AS needs_labels
    FROM {documents}
    ORDER BY doc_id
    """,
)


# ---------------------------------------------------------------------------
# task_log_names — deterministic ranked log naming (agent-loop.sh:270-274, W3).
# ---------------------------------------------------------------------------
_SLUG_SQL = (
    "regexp_replace(regexp_replace(regexp_replace(lower({col}), "
    "'[^a-z0-9]+', '-', 'g'), '-{{2,}}', '-', 'g'), '^-+|-+$', '', 'g')"
)


@query(
    "task_log_names",
    oracle=rf"""
    WITH lines(line_id, raw) AS (VALUES {_sql_values(TASK_FILE_LINES)}),
    clean AS (SELECT line_id, regexp_replace(raw, chr(13) || '$', '') AS line FROM lines),
    cls AS (
        SELECT line_id, line,
               CASE WHEN regexp_matches(line, '^##\s+')
                    THEN trim(regexp_replace(line, '^##\s+', '')) END AS grp_raw,
               CASE WHEN regexp_matches(line, '^- ') THEN 1 ELSE 0 END AS is_start,
               CASE WHEN regexp_matches(line, '^- ') THEN substr(line, 3) END AS content
        FROM clean),
    filled AS (
        SELECT *,
               coalesce(last_value(grp_raw IGNORE NULLS)
                   OVER (ORDER BY line_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                   'ungrouped') AS grp
        FROM cls),
    tasks AS (
        SELECT row_number() OVER (ORDER BY line_id) AS task_idx, grp, content AS task
        FROM filled WHERE is_start = 1)
    SELECT task_idx,
           printf('%03d-%s--%s', task_idx,
                  substr({_SLUG_SQL.format(col='grp')}, 1, 30),
                  substr({_SLUG_SQL.format(col='task')}, 1, 50)) AS log_name
    FROM tasks
    ORDER BY task_idx
    """,
)
def task_log_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-task log names: zero-padded ordinal + slugified group (≤30)
    and task (≤50) — SURVEY §2.5 W3 + §2.6 O2 truncations (reference
    agent-loop.sh:270-274). Ranking over the parse output; continuation
    lines don't alter the name (it uses the task's first line)."""
    lines = spark.createDataFrame(TASK_FILE_LINES, "line_id INT, raw STRING")
    w = Window.orderBy("line_id").rowsBetween(Window.unboundedPreceding, 0)
    line = F.regexp_replace("raw", "\r$", "")
    cls = lines.select(
        "line_id",
        F.when(
            line.rlike(r"^##\s+"), F.trim(F.regexp_replace(line, r"^##\s+", ""))
        ).alias("grp_raw"),
        F.when(line.rlike("^- "), 1).otherwise(0).alias("is_start"),
        F.when(line.rlike("^- "), F.expr("substr(regexp_replace(raw, '\r$', ''), 3)")).alias(
            "content"
        ),
    )
    filled = cls.withColumn(
        "grp",
        F.coalesce(F.last("grp_raw", ignorenulls=True).over(w), F.lit("ungrouped")),
    ).where(F.col("is_start") == 1)

    return (
        filled.withColumn("task_idx", F.row_number().over(Window.orderBy("line_id")))
        .select(
            "task_idx",
            F.format_string(
                "%03d-%s--%s",
                F.col("task_idx"),
                F.substring(slug_expr(F.col("grp")), 1, 30),
                F.substring(slug_expr(F.col("content")), 1, 50),
            ).alias("log_name"),
        )
        .orderBy("task_idx")
    )


# ---------------------------------------------------------------------------
# session_segments — group sessionization (agent-loop.sh:634-640, W1).
# ---------------------------------------------------------------------------
SEGMENT_FIXTURE: list[tuple[int, str]] = [
    (0, "alpha"), (1, "alpha"), (2, "beta"), (3, "beta"),
    (4, "alpha"), (5, "gamma"), (6, "gamma"), (7, "gamma"),
]


@query(
    "session_segments",
    oracle=f"""
    WITH tasks(idx, grp) AS (VALUES {", ".join(f"({i}, '{g}')" for i, g in SEGMENT_FIXTURE)}),
    flagged AS (
        SELECT idx, grp,
               CASE WHEN grp IS DISTINCT FROM lag(grp) OVER (ORDER BY idx)
                    THEN 1 ELSE 0 END AS changed
        FROM tasks)
    SELECT idx, grp,
           (sum(changed) OVER (ORDER BY idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS segment_id
    FROM flagged
    ORDER BY idx
    """,
)
def session_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-change sessionization: consecutive same-group tasks share a
    segment (= an LLM session); a group change starts a new one
    (SURVEY §2.5 W1; reference agent-loop.sh:634-640). Segment id =
    running sum of change flags."""
    tasks = spark.createDataFrame(SEGMENT_FIXTURE, "idx INT, grp STRING")
    w = Window.orderBy("idx")
    changed = F.when(
        ~F.col("grp").eqNullSafe(F.lag("grp").over(w)), 1
    ).otherwise(0)
    return (
        tasks.withColumn("changed", changed)
        .withColumn(
            "segment_id",
            F.sum("changed").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select("idx", "grp", "segment_id")
        .orderBy("idx")
    )
