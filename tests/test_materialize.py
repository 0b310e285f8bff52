"""materialize.py is the engine's one cache lifecycle: a lint rule that
keeps it the only module persisting a frame, a leak test over the
operators that hold caches, and the pin registry under concurrent use."""

from __future__ import annotations

import ast
import os
import shutil
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest

from open_pulsar_spark import materialize, registry
from tests.conftest import SF_SMALL

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "open_pulsar_spark"
)

# (file under open_pulsar_spark/, function) -> why it may call
# persist/unpersist itself
ALLOWED_RAW_CACHE = {
    ("operators/dedup.py", "_propagate_labels_distributed"): (
        "per-round label swap: each round's labels are persisted before the"
        " previous round's are dropped, a lifetime `held` cannot express"
    ),
}
_CACHE_CALLS = {"persist", "unpersist", "cache"}
_REGISTRY_NAMES = {"_pin", "_pin_keyed", "_release", "_LIVE_CACHES", "_PIN_LOCK"}


def _sources():
    for root, _, files in os.walk(PKG):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                with open(path) as fh:
                    yield rel, ast.parse(fh.read(), rel)


def _raw_cache_calls(tree: ast.AST):
    """(enclosing function name, method, line) per .persist/.unpersist/.cache call."""
    out = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            is_fn = isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
            name = child.name if is_fn else fn
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in _CACHE_CALLS
            ):
                out.append((fn, child.func.attr, child.lineno))
            visit(child, name)

    visit(tree, "<module>")
    return out


def test_only_materialize_persists_frames():
    bad, used = [], set()
    for rel, tree in _sources():
        if rel == "materialize.py":
            continue
        for fn, method, line in _raw_cache_calls(tree):
            if (rel, fn) in ALLOWED_RAW_CACHE:
                used.add((rel, fn))
            else:
                bad.append(f"{rel}:{line} {fn}() calls .{method}(")
    assert not bad, "cache outside materialize.py (use pin/held):\n" + "\n".join(bad)
    assert used == set(ALLOWED_RAW_CACHE), f"stale: {set(ALLOWED_RAW_CACHE) - used}"


def test_pin_registry_lives_only_in_materialize():
    bad = []
    for rel, tree in _sources():
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and (node.module or "").endswith("operators.dedup")
                and {a.name for a in node.names} & _REGISTRY_NAMES
            ):
                bad.append(f"{rel}:{node.lineno} imports the pin registry from dedup")
            if rel == "materialize.py":
                continue
            if isinstance(node, ast.FunctionDef):
                names = {node.name}
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = {t.id for t in targets if isinstance(t, ast.Name)}
            else:
                continue
            if names & _REGISTRY_NAMES:
                bad.append(f"{rel}:{node.lineno} defines {names & _REGISTRY_NAMES}")
    assert not bad, "\n".join(bad)


# --------------------------------------------------------------------------
# leak test: cached entries never outnumber the live pins
# --------------------------------------------------------------------------
def _cached_entries(spark) -> int:
    return spark._jsparkSession.sharedState().cacheManager().numCachedEntries()


def _live_pins() -> int:
    """Registry generations that are really cached (an external
    clearCache() drops the storage level but leaves the entry)."""
    with materialize._PIN_LOCK:
        frames = list(materialize._LIVE_CACHES.values())
    return sum(
        1 for df in frames if df.storageLevel.useMemory or df.storageLevel.useDisk
    )


LEAK_QUERIES = [
    # held (function-local caches, incl. the per-round kcore caches)
    "part_copurchase_pagerank",
    "part_copurchase_triangles",
    "part_bundle_kcore",
    # global_prefix scaffolds
    "revenue_pareto",
    "user_rfm_segments",
    # pin / pin_keyed generations
    "events_rollup_cascade",
    "dedup_minhash_lsh",
    "dedup_clusters",
]


@pytest.mark.parametrize("name", LEAK_QUERIES)
def test_query_leaves_no_unregistered_cache(spark, name):
    qfn = registry.all_queries()[name]
    after = []
    for _ in range(2):
        rows = qfn(spark, SF_SMALL).collect()
        assert rows
        after.append(_cached_entries(spark))
        assert after[-1] <= _live_pins(), (
            f"{name}: {after[-1]} cached entries, {_live_pins()} live pins"
        )
    assert after[1] <= after[0], f"{name}: a repeat run added cached entries {after}"


def test_held_block_that_raises_releases_its_cache(spark):
    df = spark.range(50).selectExpr("id % 3 AS k").groupBy("k").count()
    before = _cached_entries(spark)
    with pytest.raises(RuntimeError):
        with materialize.held(df, fill=True) as h:
            assert _cached_entries(spark) == before + 1
            assert h.count() == 3
            raise RuntimeError("boom")
    assert _cached_entries(spark) == before


def test_label_swap_that_raises_releases_both_generations(spark):
    """A round whose count() fails must not leave the current or the
    next label generation cached."""
    from pyspark.sql import functions as F

    from open_pulsar_spark.operators.dedup import _propagate_labels_distributed

    pairs = spark.range(6).select(
        F.col("id").alias("a_id"),
        F.when(F.col("id") == 3, F.raise_error(F.lit("boom")))
        .otherwise(F.col("id") + 1)
        .alias("b_id"),
    )
    before = _cached_entries(spark)
    with pytest.raises(Exception, match="boom"):
        _propagate_labels_distributed(pairs)
    assert _cached_entries(spark) == before


def test_global_prefix_block_that_raises_releases_its_cache(spark):
    from open_pulsar_spark.operators.prefix import global_prefix

    df = spark.createDataFrame([(i, i % 5) for i in range(40)], "k LONG, d LONG")
    before = _cached_entries(spark)
    with pytest.raises(RuntimeError):
        with global_prefix(spark, df, ["k"], cum_cols=("d",), parts=4) as scaffold:
            aug, totals = scaffold
            assert totals["n"] == 40
            assert aug.count() == 40
            raise RuntimeError("boom")
    assert _cached_entries(spark) == before


# --------------------------------------------------------------------------
# the registry under concurrent use (one session, 8 threads)
# --------------------------------------------------------------------------
def test_pins_from_eight_threads_match_serial_runs(spark, tmp_path):
    copy = str(tmp_path / "sf_copy")
    shutil.copytree(SF_SMALL, copy)
    qs = registry.all_queries()
    # dedup_minhash_lsh: a pin_keyed user, keyed by sf dir, so the two
    # dirs are two keys fighting over one name; events_dau_wau_mau: a
    # lazy pin whose frame is returned unfilled; q1_pricing_summary and
    # orders_cdc_merge: SQL-text queries, each binding its tables
    # through per-call temp views
    jobs = [
        ("dedup_minhash_lsh", SF_SMALL),
        ("dedup_minhash_lsh", copy),
        ("events_dau_wau_mau", SF_SMALL),
        ("q1_pricing_summary", SF_SMALL),
        ("orders_cdc_merge", copy),
    ]

    def run(job):
        name, sf = job
        return sorted(tuple(r) for r in qs[name](spark, sf).collect())

    serial = {job: run(job) for job in jobs}
    assert all(serial.values())
    work = [jobs[i % len(jobs)] for i in range(8)]
    start = threading.Barrier(len(work))

    def concurrent(job):
        start.wait(timeout=60)
        return job, run(job)

    with ThreadPoolExecutor(max_workers=len(work)) as pool:
        results = list(pool.map(concurrent, work))
    for job, got in results:
        assert got == serial[job], f"{job} differs from its serial run"

    with materialize._PIN_LOCK:
        live = dict(materialize._LIVE_CACHES)
    for name in ("minhash_sigs", "dau_user_days"):
        lvl = live[name].storageLevel
        assert lvl.useMemory or lvl.useDisk, f"live generation of {name} is not cached"
    assert _cached_entries(spark) <= _live_pins(), "a replaced generation is still cached"
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("_pyspark_")]
    assert not views, f"SQL-text bindings left temp views behind: {views}"
