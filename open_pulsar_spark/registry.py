"""Query registry: the single source of truth for the engine's declared
query surface.

Every operator the engine claims (SURVEY.md §2) registers here.
`__spark_entry__.py` re-exports this registry verbatim, so implementing
an operator == registering it here. There are two forms:

- `query_sql(name, text)`: ONE SQL text serves both engines. Tables are
  `{table}` placeholders; Spark binds each to a `load_table` frame per
  call (`spark.sql(text, **frames)`, whose uuid-named temp views are
  dropped after analysis, so concurrent queries cannot collide), and
  the DuckDB oracle is the same text with each placeholder rendered as
  the bare table name. Used where Spark SQL plans the text exactly as
  a hand-built DataFrame would (tests/test_sql_text.py pins the plans).
- `@query(name, oracle=...)` on a DataFrame function, with the DuckDB
  oracle string beside it when the operator is SQL-expressible. Keeping
  the two side by side is what keeps output column names in sync (the
  driver's compare hashes values after sorting columns by name — names
  must match exactly).
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from open_pulsar_spark.tables import TABLE_NAMES, load_table

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# query_sql registrations: name -> the text with its `{table}` placeholders
SQL_TEXTS: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a declared query, optionally with its DuckDB oracle SQL.

    Queries with no oracle get the driver's weaker rows-only check
    (reserved for genuinely non-SQL-expressible operators).
    """

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


_PLACEHOLDER = re.compile(r"\{(\w+)\}")


def query_sql(name: str, text: str) -> QueryFn:
    """Register a query whose one SQL text runs on Spark and, with each
    `{table}` placeholder rendered as the bare table name, is its
    DuckDB oracle. Returns the Spark query function."""
    tables = list(dict.fromkeys(_PLACEHOLDER.findall(text)))
    unknown = [t for t in tables if t not in TABLE_NAMES]
    if unknown:
        raise ValueError(f"{name}: unknown table placeholder(s) {unknown}")

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return spark.sql(text, **{t: load_table(spark, sf_dir, t) for t in tables})

    run.__name__ = run.__qualname__ = name
    query(name, _PLACEHOLDER.sub(r"\1", text))(run)
    SQL_TEXTS[name] = text
    return run


def load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    from open_pulsar_spark.operators import (  # noqa: F401
        analytics,
        clustering,
        curation,
        dedup,
        graph,
        linkage,
        multimodal,
        profiling,
        relational,
        relational_ext,
        similarity,
        sketch,
        skew,
        tasks,
        text,
        windows,
    )


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
