"""Queries registered with `registry.query_sql` run one SQL text on both
engines. They were converted from hand-built DataFrame bodies only
where Spark SQL plans the text the same way, so each must keep the
operator sequences (pre-execution physical plan and optimized logical
plan) recorded from its DataFrame body in data/sql_text_plans.json."""

from __future__ import annotations

import json
import os

import pytest

from open_pulsar_spark import registry
from tests.conftest import SF_SMALL

with open(os.path.join(os.path.dirname(__file__), "data", "sql_text_plans.json")) as fh:
    PLANS = json.load(fh)


def _operators(plan) -> list[str]:
    """Pre-order node names of a JVM plan tree, subqueries included.
    An unexecuted AdaptiveSparkPlan is read through its current plan."""
    out = []

    def walk(node):
        out.append(node.nodeName())
        if node.nodeName() == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        for seq in (node.children(), node.innerChildren()):
            for i in range(seq.size()):
                walk(seq.apply(i))

    walk(plan)
    return out


def test_every_sql_text_query_has_recorded_plans():
    registry.load_all()
    assert set(registry.SQL_TEXTS) == set(PLANS)


@pytest.mark.parametrize("name", sorted(PLANS))
def test_sql_text_keeps_the_dataframe_plan(spark, name):
    qe = registry.all_queries()[name](spark, SF_SMALL)._jdf.queryExecution()
    assert _operators(qe.executedPlan()) == PLANS[name]["physical"]
    assert _operators(qe.optimizedPlan()) == PLANS[name]["logical"]


def test_rendered_oracles_carry_no_placeholder():
    oracles = registry.all_oracles()
    for name, text in registry.SQL_TEXTS.items():
        assert "{" not in oracles[name], name
        assert oracles[name] == text.replace("{", "").replace("}", ""), name


def test_unknown_table_placeholder_raises():
    with pytest.raises(ValueError, match="lineitems"):
        registry.query_sql("no_such_query", "SELECT count(*) AS n FROM {lineitems}")
    assert "no_such_query" not in registry.all_queries()
