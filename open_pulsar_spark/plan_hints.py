"""Broadcast-hint audit: profile the *analyzed* logical plan of every frame
passed to ``F.broadcast`` — the parquet tables it reads and whether a
bounding operator sits above each scan.

Why this exists (SCALE.md "Global posture"): an explicit broadcast hint is
*not* demoted by AQE, so a hint over a table that grows with scale factor
(customer / part / supplier / the facts) is a latent hard failure at the
100 TB north star — Spark refuses broadcasts > 8 GB.  The engine's rule is
that forced hints may only cover frames that stay bounded at any SF:

- schema-bounded base tables (``region`` = 5 rows, ``nation`` = 25);
- driver-local literal frames (``LocalRelation`` / ``LogicalRDD``), which
  are config-bounded by construction;
- *derived* frames that a bounding operator (global/bounded-domain
  ``Aggregate``, ``GlobalLimit``, ``Deduplicate`` over a bounded domain)
  reduces to a bounded row count, e.g. a 1-row total, a per-brand (25) or
  per-dow (7) stat frame, a top-N head.

``tests/test_plans.py::test_no_forced_broadcast_of_sf_linear_tables`` pins
the rule over every registered query: a hint whose subtree touches an
SF-linear table must carry a bounding operator AND appear in the test's
reviewed allowlist.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

# base tables whose row count is fixed by the schema, not the scale factor
SCHEMA_BOUNDED = frozenset({"nation", "region"})

# tables that grow linearly with scale factor — never raw-broadcastable
SF_LINEAR = frozenset(
    {
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    }
)

# first column of each base table → table name (relation lines in the
# analyzed tree render the relation's full output in schema order)
_FIRST_COL = {
    "r_regionkey": "region",
    "n_nationkey": "nation",
    "c_custkey": "customer",
    "s_suppkey": "supplier",
    "p_partkey": "part",
    "o_orderkey": "orders",
    "l_orderkey": "lineitem",
    "event_id": "events",
    "doc_id": "documents",
    "vec_id": "embeddings",
}

# logical nodes that can reduce an unbounded input to a bounded frame
# (whether they actually do depends on the grouping domain — that human
# judgment lives in the test's allowlist); the physical names appear in
# the CACHED plans rendered under InMemoryRelation leaves
_BOUNDING_NODES = (
    "Aggregate",
    "GlobalLimit",
    "LocalLimit",
    "Deduplicate",
    "HashAggregate",
    "SortAggregate",
    "ObjectHashAggregate",
    "TakeOrderedAndProject",
    "CollectLimit",
)

import re as _re

# table name from a FileScan's Location path (cached plans under
# InMemoryRelation render physical FileScan leaves, not Relation lines)
_PARQUET_PATH = _re.compile(r"/([A-Za-z0-9_]+)\.parquet")


@dataclass(frozen=True)
class BroadcastHint:
    """The scan profile of a broadcast-hinted frame (or of the input of a
    global window)."""

    tables: frozenset[str]  # parquet base tables read inside the hint
    has_bounding_op: bool  # Aggregate/Limit/Deduplicate between hint and scan
    local_only: bool  # subtree reads no parquet relation at all

    @property
    def sf_linear_tables(self) -> frozenset[str]:
        # sentinel tables ('?<first_col>' from an unmapped Relation,
        # '?filescan' from an unresolvable FileScan Location) count as
        # SF-linear so an unresolved scan FAILS the gate rather than
        # silently passing it (fail closed)
        return frozenset(
            t for t in self.tables if t in SF_LINEAR or t.startswith("?")
        )


def _depth_and_text(line: str) -> tuple[int, str]:
    """Tree-string lines prefix each level with one of ':- ', '+- ',
    ':  ', '   ' (3 chars per level)."""
    i = 0
    while line[i : i + 3] in (":- ", "+- ", ":  ", "   ") and i + 3 <= len(line):
        i += 3
    return i // 3, line[i:]


def _scan_profile(
    parsed: list[tuple[int, str]],
    bounding_nodes: tuple[str, ...] = _BOUNDING_NODES,
) -> tuple[set[str], bool, bool]:
    """Walk a parsed (sub)tree and return ``(tables, bounded, local)``:
    the parquet base tables read, whether EVERY SF-linear scan has a
    bounding node strictly on its ancestor path within the walked tree
    (not merely somewhere in the tree — an unrelated inner aggregate
    must not vouch for a sibling raw scan), and whether the subtree
    reads no parquet relation at all."""
    tables: set[str] = set()
    local = True
    bounded = True
    stack: list[tuple[int, bool]] = []  # (depth, node is bounding)
    for depth, text in parsed:
        if text.startswith("*("):  # WholeStageCodegen span marker in
            text = text.split(" ", 1)[1] if " " in text else text  # cached plans
        while stack and stack[-1][0] >= depth:
            stack.pop()
        tbl = None
        if text.startswith("Relation [") and " parquet" in text:
            first_col = text[len("Relation [") :].split("#", 1)[0].split(",", 1)[0]
            tbl = _FIRST_COL.get(first_col, f"?{first_col}")
        elif text.startswith("FileScan parquet"):
            # a persisted lineage renders its cached PHYSICAL plan under
            # the InMemoryRelation leaf — without this, a pinned frame
            # hides its parquet scans from the gate entirely
            m = _PARQUET_PATH.search(text)
            # FAIL CLOSED: a truncated Location string
            # (spark.sql.maxMetadataStringLength, multi-path
            # InMemoryFileIndex ellipsis) or a layout not named
            # <table>.parquet must surface as an unresolved scan, not
            # silently drop out of the broadcast / global-window gates
            tbl = m.group(1) if m else "?filescan"
        if tbl is not None:
            tables.add(tbl)
            local = False
            if (tbl in SF_LINEAR or tbl.startswith("?")) and not any(
                b for _, b in stack
            ):
                bounded = False
        stack.append((depth, text.startswith(bounding_nodes)))
    return tables, bounded, local


def frame_profile(df: DataFrame) -> BroadcastHint:
    """Profile a frame that is ABOUT to be broadcast-hinted: the parquet
    base tables its plan reads and whether a bounding operator sits above
    every scan.  Used by the test-suite ``F.broadcast`` monkeypatch, which
    catches hints applied inside eagerly-executed driver-side jobs that
    never appear in the returned DataFrame's plan (e.g. the collected
    cell frames of the ANOVA/DiD family).

    Bounding is judged PER SCAN PATH: every SF-linear scan must have a
    bounding node on its own ancestor chain — an unrelated inner
    aggregate elsewhere in the tree does not vouch for a sibling raw
    scan (a second unbounded hint reading the same tables would
    otherwise ride an allowlist entry earned by a bounded one)."""
    tree = df._jdf.queryExecution().analyzed().toString()
    parsed = [_depth_and_text(ln) for ln in tree.splitlines() if ln.strip()]
    tables, bounded, local = _scan_profile(parsed)
    return BroadcastHint(
        tables=frozenset(tables), has_bounding_op=bounded, local_only=local
    )


# nodes that bound the row count REACHING a global window: the standard
# bounding set plus WindowGroupLimit (Spark's rank-filter rewrite runs a
# Partial top-k per input partition BEFORE the single-partition exchange,
# so the sort task receives ≤ k·partitions rows, not the corpus)
_WINDOW_BOUNDING_NODES = _BOUNDING_NODES + ("WindowGroupLimit",)


def _toplevel_groups(text: str) -> list[str]:
    """Top-level ``[...]`` group contents in a plan-node line (nested
    brackets inside expressions don't open new groups)."""
    depth = 0
    groups: list[str] = []
    buf: list[str] = []
    for ch in text:
        if ch == "[":
            if depth == 0:
                buf = []
            else:
                buf.append(ch)
            depth += 1
        elif ch == "]":
            depth = max(0, depth - 1)
            if depth == 0:
                groups.append("".join(buf))
            else:
                buf.append(ch)
        elif depth > 0:
            buf.append(ch)
    return groups


# one order-spec entry: ``<expr> ASC|DESC NULLS FIRST|LAST`` — SortOrder's
# rendering since Spark 2.x; partition entries are bare expressions
_ORDER_ENTRY = _re.compile(r"\s(ASC|DESC)\sNULLS\s(FIRST|LAST)\s*$")

# any direction token at all — the fail-closed net under _ORDER_ENTRY: an
# entry that mentions ASC/DESC but misses the anchored SortOrder form is a
# rendering we don't recognize (e.g. a future Spark dropping the NULLS
# clause) and must classify as GLOBAL, not silently as partitioned
_DIRECTION_TOKEN = _re.compile(r"\s(ASC|DESC)\b")


def _toplevel_commas(group: str) -> list[str]:
    """Split a bracket-group's contents on top-level commas (commas
    inside nested parens/brackets of expressions don't split)."""
    depth = 0
    parts: list[str] = []
    buf: list[str] = []
    for ch in group:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth = max(0, depth - 1)
        if ch == "," and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(ch)
    if buf:
        parts.append("".join(buf))
    return parts


def _is_global_window(text: str) -> bool:
    """True when a logical ``Window`` node line has an EMPTY partition
    spec.  The node renders ``Window [exprs], [partSpec], [orderSpec]``
    with empty groups omitted, so arity alone is ambiguous: two groups
    is either partition-only (count OVER (PARTITION BY x)) or
    order-only (global).  Each order-spec entry ends with
    ``ASC|DESC NULLS FIRST|LAST`` (SortOrder rendering); partition
    entries never do.  The check is anchored per top-level entry, and
    a mixed/unrecognized second group classifies as GLOBAL — fail
    closed: an ambiguous rendering surfaces in the sweep gate instead
    of silently passing as partitioned.  ``tests/test_plans.py``
    additionally pins a live canary (a known global-window query must
    be detected) so a Spark rendering change breaks loudly."""
    groups = _toplevel_groups(text)
    if len(groups) >= 3:
        return not groups[1].strip()
    if len(groups) == 2:
        tail = groups[1]
        if not tail.strip():
            return True
        entries = [e.strip() for e in _toplevel_commas(tail)]
        # partition-only iff EVERY entry is a bare (direction-less)
        # expression; anything else — current SortOrder entries
        # (_ORDER_ENTRY) or a direction-bearing rendering we don't
        # recognize (_DIRECTION_TOKEN without the anchor) — is global.
        # This is the fail-closed direction the docstring promises: an
        # unrecognized order-spec surfaces in the sweep gate instead of
        # silently passing as partitioned.
        return any(_DIRECTION_TOKEN.search(e) for e in entries)
    return True  # no partition, no order: count(*) OVER ()


def global_window_profiles(df: DataFrame) -> list[BroadcastHint]:
    """Profile every GLOBAL window (empty PARTITION BY) in ``df``'s
    optimized plan: which parquet base tables feed it, and whether
    every SF-linear scan below it has a bounding node (Aggregate /
    Limit / Deduplicate / WindowGroupLimit) on its own ancestor path
    between the window and the scan.

    A global window funnels its whole input through ONE partition —
    the classic silent scale killer.  The engine's rule (SCALE.md):
    over an SF-linear frame it must either ride the prefix scaffold
    (``operators/prefix.py``) or sit above a bounding operator whose
    output is volume-independent; the bounded cases need a reviewed
    allowlist entry in ``tests/test_plans.py``.
    """
    tree = df._jdf.queryExecution().optimizedPlan().toString()
    parsed = [_depth_and_text(ln) for ln in tree.splitlines() if ln.strip()]
    profiles: list[BroadcastHint] = []
    for idx, (depth, text) in enumerate(parsed):
        if not text.startswith("Window ") or not _is_global_window(text):
            continue
        subtree = []
        for d2, t2 in parsed[idx + 1 :]:
            if d2 <= depth:
                break
            subtree.append((d2, t2))
        tables, bounded, local = _scan_profile(subtree, _WINDOW_BOUNDING_NODES)
        profiles.append(
            BroadcastHint(
                tables=frozenset(tables), has_bounding_op=bounded, local_only=local
            )
        )
    return profiles

