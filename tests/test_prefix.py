"""operators/prefix.py::global_prefix — the shared distributed prefix
rank/sum must be BIT-IDENTICAL to the single-window statement it
replaces, for any data and any partition count. Property-based: the
claim is partition-invariance over a total order, so that is what gets
generated and checked."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from open_pulsar_spark.operators.prefix import global_prefix


def _expected(rows: list[tuple[int, int, int]]):
    """Driver-side ground truth: rank + running sum over (k, rid)."""
    out = {}
    cum = 0
    for rk, (k, rid, d) in enumerate(
        sorted(rows, key=lambda t: (t[0], t[1])), start=1
    ):
        cum += d
        out[rid] = (rk, cum)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([2, 5, 32]),
)
def test_global_prefix_matches_single_window(spark, kd_rows, parts):
    rows = [(k, rid, d) for rid, (k, d) in enumerate(kd_rows)]
    df = spark.createDataFrame(rows, "k LONG, rid LONG, d LONG")
    with global_prefix(
        spark, df, ["k", "rid"], cum_cols=("d",), parts=parts
    ) as (aug, totals):
        got = {r.rid: (r.rk, r.cum_d) for r in aug.collect()}
    assert totals["n"] == len(rows)
    assert totals["d"] == sum(d for _, _, d in rows)
    assert got == _expected(rows)


def test_global_prefix_rejects_n_cum_col(spark):
    import pytest

    df = spark.createDataFrame([(1, 2)], "k LONG, n LONG")
    with pytest.raises(ValueError):
        with global_prefix(spark, df, ["k"], cum_cols=("n",)):
            pass


def _expected_prev_max(rows: list[tuple[int, int, int]]):
    """Ground truth for exclusive_prefix_max over (k, rid): max d of
    strictly-preceding rows, None for the first."""
    out, best = {}, None
    for k, rid, d in sorted(rows, key=lambda t: (t[0], t[1])):
        out[rid] = best
        best = d if best is None or d > best else best
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    st.lists(
        st.tuples(st.integers(-50, 50), st.integers(-1000, 1000)),
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([2, 5, 32]),
)
def test_exclusive_prefix_max_matches_single_window(spark, kd_rows, parts):
    from open_pulsar_spark.operators.prefix import exclusive_prefix_max

    rows = [(k, rid, d) for rid, (k, d) in enumerate(kd_rows)]
    df = spark.createDataFrame(rows, "k LONG, rid LONG, d LONG")
    with exclusive_prefix_max(spark, df, ["k", "rid"], "d", parts=parts) as aug:
        got = {r.rid: r.prev_max for r in aug.collect()}
    assert got == _expected_prev_max(rows)


def test_skyline_matches_bruteforce_dominance(spark):
    """part_price_size_skyline == the O(n²) dominance definition."""
    from open_pulsar_spark.operators.analytics import part_price_size_skyline
    from open_pulsar_spark.tables import load_table
    from tests.conftest import SF_SMALL

    parts_t = load_table(spark, SF_SMALL, "part").select(
        "p_partkey", "p_retailprice", "p_size"
    )
    pts = [(r.p_partkey, r.p_retailprice, r.p_size) for r in parts_t.collect()]
    brute = {
        pk
        for pk, pr, sz in pts
        if not any(
            opr <= pr and osz >= sz and (opr < pr or osz > sz)
            for opk, opr, osz in pts
            if opk != pk
        )
    }
    got = {r.p_partkey for r in part_price_size_skyline(spark, SF_SMALL).collect()}
    assert got == brute
