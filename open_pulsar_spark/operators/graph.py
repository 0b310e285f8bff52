"""Iterative graph analytics over the relational tables — fixed-point
PageRank on the part co-purchase graph.

The one distributed-computation SHAPE the engine didn't exercise yet:
an iterative join-aggregate loop (the Pregel/GraphX pattern — each
round joins the current vertex state to the edge list and re-aggregates
by destination). Connected components (dedup.dedup_clusters) iterates
too, but over a shrinking pair graph; PageRank iterates over the FULL
edge list every round, which is the shape of most production graph
workloads (influence, recommendations, spam propagation).

Determinism design (same philosophy as clustering.py): float PageRank
sums are order-dependent, so ranks here are integers on a 10^12 grid —
  r0(v)        = R_TOTAL div N
  contrib(u→v) = (r(u) * w(u,v)) div deg_w(u)      -- one trunc-div/edge
  r'(v)        = (15 * (R_TOTAL div N)) div 100
               + (85 * Σ contrib) div 100          -- d = 0.85
Integer sums are exact and order-independent, trunc division is
identical in Spark (`div`) and DuckDB (`//`, positive operands), so
every iteration — and therefore the final ranking — is bit-identical
across engines, partitionings, and replays. The mass lost to
truncation (≤ 1 ulp of the grid per edge) is noise at grid 10^12 and
buys exactness.

Reference parity: none — the reference has no graph surface; this
extends SURVEY.md §2.10's analytics family.
"""

from __future__ import annotations

from contextlib import ExitStack

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from open_pulsar_spark.materialize import held, pin, pin_keyed
from open_pulsar_spark.registry import query
from open_pulsar_spark.tables import load_table

PR_DAMP_NUM = 85          # d = 0.85 as an integer percentage
PR_R_TOTAL = 10**12       # rank grid: total mass at iteration 0
PR_ITERS = 3
PR_TOP = 20


def _copurchase_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ok, ps) — one row per order with its SORTED distinct part set.
    The shared basket frame every co-purchase consumer derives pairs
    from: ONE orderkey shuffle (collect_set also absorbs the
    line-level dedup the old distinct+self-join needed a second
    exchange for); everything downstream explodes MAP-SIDE."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    return li.groupBy("ok").agg(F.sort_array(F.collect_set("pk")).alias("ps"))


def _undirected_pairs(baskets: DataFrame) -> DataFrame:
    """(u, v) with u < v — the C(k,2) pairs of each basket, exploded
    map-side from the sorted `ps` array (order preserved by the
    producer, so u < v by construction). One output row per
    (order, unordered pair)."""
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) ->"
                " transform(slice(ps, i + 2, size(ps) - i - 1),"
                "           y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    ).select("p.u", "p.v")


def _directed_pairs(baskets: DataFrame) -> DataFrame:
    """(item, rec) — BOTH orientations of each basket pair (k·(k−1)
    rows per basket), for consumers that need directed counts (the
    recommender's 'also-bought' lists). Same map-side explode contract
    as _undirected_pairs; no self-join."""
    return baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, x ->"
                " transform(filter(ps, y -> y != x),"
                "           y -> struct(x AS item, y AS rec))))"
            )
        ).alias("p")
    ).select("p.item", "p.rec")


def _copurchase_pair_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per (order, unordered part pair): the shared edge
    producer of every co-purchase graph query (pagerank, triangles,
    bundles, assortativity). Built WITHOUT a self-join: baskets
    collect per orderkey (ONE shuffle) and the C(k,2) pairs explode
    MAP-SIDE from the sorted array, so u < v by construction.
    Per-order fan-out is C(lines, 2) with TPC-H's bounded
    lines-per-order — the same bound the self-join had, minus its
    join. Measured ~40% faster than the distinct+self-join at sf0.1.
    At 100 TB a pathological giant order would make one basket row
    wide; the explode is still map-side and the bound is the data
    model's lines-per-order, not the corpus.
    """
    return _undirected_pairs(_copurchase_baskets(spark, sf_dir))


def _weighted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(u, v, w) with u < v and w = co-occurrence count — THE weighted
    co-purchase edge frame, built once per (session, sf_dir) and
    shared by all six graph queries (pagerank, triangles, components,
    assortativity, kcore, modularity) via the keyed pin registry:
    each used to rebuild the basket explode + pair aggregate
    (~1-2 s each at sf0.1); now the first builds it and the rest read
    the cache (measured at sf0.1: six-query warm-session min total
    42.1 s → 37.6 s, cold-per-sample min total 32.2 s → 30.1 s —
    SCALE.md has the per-query split). The unweighted edge set the
    triangle/assortativity queries need is the (u, v) projection —
    distinct by construction, no second aggregate. bench.py's
    cold-per-sample contract is unaffected: clearCache() drops the
    storage level and the lineage recomputes inside the measured run.

    At 100 TB this frame is the natural MATERIALIZED artifact (a
    table bucketed on u) — the keyed pin is the session-scoped form
    of that decision."""

    we = pin_keyed(
        "copurchase_wedges",
        sf_dir,
        lambda: _copurchase_pair_rows(spark, sf_dir)
        .groupBy("u", "v")
        .agg(F.count("*").alias("w")),
        fill=False,
    )
    return we


def _pr_iter_cte(prev: str, cur: str) -> str:
    return f"""
    {cur} AS (
        SELECT n.pk,
               (15 * (SELECT {PR_R_TOTAL} // count(*) FROM nodes)) // 100
             + ({PR_DAMP_NUM} * coalesce(s.sum_c, 0)) // 100 AS r
        FROM nodes n LEFT JOIN (
            SELECT e.dst AS pk, sum((p.r * e.w) // dg.deg_w)::BIGINT AS sum_c
            FROM edges e
            JOIN {prev} p ON p.pk = e.src
            JOIN deg dg ON dg.pk = e.src
            GROUP BY e.dst) s ON s.pk = n.pk)"""


def _pagerank_oracle() -> str:
    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    edges AS (
        SELECT a.pk AS src, b.pk AS dst, count(*)::BIGINT AS w
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk <> b.pk
        GROUP BY a.pk, b.pk),
    nodes AS (SELECT DISTINCT src AS pk FROM edges),
    deg AS (SELECT src AS pk, sum(w)::BIGINT AS deg_w FROM edges GROUP BY src),
    r0 AS (SELECT pk, (SELECT {PR_R_TOTAL} // count(*) FROM nodes)::BIGINT AS r
           FROM nodes),
    {_pr_iter_cte("r0", "r1")},
    {_pr_iter_cte("r1", "r2")},
    {_pr_iter_cte("r2", "r3")}
    SELECT pk AS p_partkey, r AS rank_fp,
           row_number() OVER (ORDER BY r DESC, pk) AS rk
    FROM r3
    ORDER BY r DESC, pk
    LIMIT {PR_TOP}
    """


@query("part_copurchase_pagerank", oracle=_pagerank_oracle())
def part_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PR_TOP} most central parts by fixed-point PageRank over the
    co-purchase graph (parts are linked when they appear in the same
    order; edge weight = number of co-occurring orders).

    Scale shape — the canonical distributed PageRank:
      - edge building is the shared basket-array producer
        (_copurchase_pair_rows: one orderkey shuffle, map-side C(k,2)
        explode — no self-join), so the edge list is O(|lineitem|);
      - edges and out-degrees PERSIST across iterations (built once,
        reused {PR_ITERS}×) and both carry `src` partitioning, so each
        round is: join ranks (partitioned on pk == src) → map the
        integer contribution → one shuffle to re-aggregate by dst;
      - vertex state is one BIGINT per node per round — the Pregel
        message-passing pattern expressed as DataFrame joins, with a
        STATIC {PR_ITERS}-round job graph (no driver-side convergence
        loop; production runs fix iteration budgets for exactly this
        plan-stability reason);
      - the final top-{PR_TOP} is a rank window over the node set.
    """
    und = _weighted_edges(spark, sf_dir)
    # directed both ways with the symmetric weight — identical to the
    # oracle's ordered-pair self-join counts
    edges = und.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionAll(und.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w"))
    deg = edges.groupBy("src").agg(F.sum("w").alias("deg_w"))
    # edge frame with the sender's degree attached once, reused every
    # round; nodes reused every round + for teleport. Both persisted
    # for the iteration and RELEASED before returning — the final
    # top-PR_TOP rows are bounded, so they are materialized eagerly
    # below and nothing cached leaks past this call.
    with held(
        edges.join(deg, "src").select("src", "dst", "w", "deg_w"), fill=False
    ) as ed, held(
        ed.select(F.col("src").alias("pk")).distinct(), fill=False
    ) as nodes:
        n_nodes = nodes.count()  # scalar: also pins both caches
        if n_nodes == 0:
            # no part ever co-occurs with another: the oracle returns
            # an empty set for the same input — match it, don't divide
            # by zero
            return spark.createDataFrame(
                [], "p_partkey LONG, rank_fp LONG, rk INT"
            )
        base = PR_R_TOTAL // n_nodes
        teleport = (15 * base) // 100

        ranks = nodes.select("pk", F.lit(base).cast("bigint").alias("r"))
        for _ in range(PR_ITERS):
            sums = (
                ed.join(ranks, ed.src == ranks.pk)
                .select(
                    F.col("dst").alias("pk"),
                    F.expr("(r * w) div deg_w").alias("c"),
                )
                .groupBy("pk")
                .agg(F.sum("c").alias("sum_c"))
            )
            ranks = nodes.join(sums, "pk", "left").select(
                "pk",
                (
                    F.lit(teleport)
                    + F.expr(f"({PR_DAMP_NUM} * coalesce(sum_c, 0L)) div 100")
                ).cast("bigint").alias("r"),
            )

        from pyspark.sql import Window

        # top-k FIRST via orderBy+limit (Spark's distributed
        # TakeOrdered — never a single-partition window over the whole
        # node set), THEN number the surviving PR_TOP rows.
        top = ranks.orderBy(F.desc("r"), "pk").limit(PR_TOP)
        w = Window.orderBy(F.desc("r"), "pk")
        out = (
            top.withColumn("rk", F.row_number().over(w))
            .select(
                F.col("pk").alias("p_partkey"),
                F.col("r").alias("rank_fp"),
                "rk",
            )
            .orderBy(F.desc("rank_fp"), "p_partkey")
        )
        # materialize the PR_TOP-row result while the caches are live,
        # then hand back a local frame with the identical schema
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# copurchase_rec_hitrate — offline evaluation of co-purchase recs.
# --------------------------------------------------------------------------
REC_K = 3
REC_TRAIN_BUCKETS = 8  # md5(orderkey) % 10 < 8 -> train, else test


@query(
    "copurchase_rec_hitrate",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    tagged AS (
        SELECT ok, pk,
               ('0x' || substr(md5(ok::VARCHAR), 1, 8))::BIGINT % 10
                   < {REC_TRAIN_BUCKETS} AS is_train
        FROM op
    ),
    directed AS (
        SELECT a.pk AS item, b.pk AS rec, count(*) AS c
        FROM tagged a JOIN tagged b ON a.ok = b.ok AND a.pk <> b.pk
        WHERE a.is_train AND b.is_train
        GROUP BY a.pk, b.pk
    ),
    recs AS (
        SELECT item, rec FROM (
            SELECT item, rec,
                   row_number() OVER (PARTITION BY item
                                      ORDER BY c DESC, rec) AS rk
            FROM directed) WHERE rk <= {REC_K}
    ),
    testsz AS (
        SELECT ok, count(*) AS sz FROM tagged WHERE NOT is_train GROUP BY ok
    ),
    probes AS (
        SELECT t.ok, t.pk AS item
        FROM tagged t JOIN testsz s ON s.ok = t.ok
        WHERE NOT t.is_train AND s.sz >= 2
    ),
    hits AS (
        SELECT p.ok, p.item,
               max(CASE WHEN o2.pk IS NOT NULL THEN 1 ELSE 0 END) AS hit,
               max(CASE WHEN r.item IS NOT NULL THEN 1 ELSE 0 END) AS covered
        FROM probes p
        LEFT JOIN recs r ON r.item = p.item
        LEFT JOIN tagged o2 ON o2.ok = p.ok AND o2.pk = r.rec
                            AND NOT o2.is_train
        GROUP BY p.ok, p.item
    )
    SELECT {REC_K}::BIGINT AS k,
           count(*)::BIGINT AS n_probes,
           sum(covered)::BIGINT AS n_covered,
           sum(hit)::BIGINT AS n_hits,
           round(sum(hit) * 1.0 / count(*), 6) AS hitrate
    FROM hits
    """,
)
def copurchase_rec_hitrate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFLINE EVALUATION of the co-purchase recommender: orders split
    train/test by the deterministic md5 coin ({REC_TRAIN_BUCKETS}/10
    train), top-{REC_K} 'also-bought' lists are mined from TRAIN
    baskets only, and hit-rate@{REC_K} asks — for every item in a
    multi-item TEST basket — whether any recommended item appears in
    the same basket. The leakage hygiene is the point (the same
    discipline as cluster_aware_split, applied to a model eval):
    test baskets never influence the rec lists, and n_covered exposes
    the cold-start fraction separately from miss-rate.

    Scale: the pair build is the shared basket-array producer
    (_copurchase_baskets + _directed_pairs: ONE orderkey shuffle, both
    orientations exploded map-side from the sorted basket array — no
    self-join, the same ~40%-measured win the undirected graph family
    took in round 5); the train/test coin tags BASKETS (the md5 coin
    is a function of the orderkey alone), so the test-basket size
    floor is `size(ps)` on the pinned frame — the old per-order count
    shuffle is gone. The rec cut is a window over the aggregated pair
    frame keyed by item (hash key, ordered by integer count with key
    tiebreak — no libm in the cut); evaluation is two keyed equi-joins
    of the probe frame (test-basket items) against the ≤{REC_K}-row
    rec lists and the test baskets. Everything after the pair
    aggregate is rec-list/basket sized.
    """
    from open_pulsar_spark.operators.curation import _hash_raw_spark

    tagged_b = pin(
        "rec_baskets",
        _copurchase_baskets(spark, sf_dir).withColumn(
            "is_train",
            _hash_raw_spark(F.col("ok")) % 10 < REC_TRAIN_BUCKETS,
        ),
        fill=False,
    )
    directed = (
        _directed_pairs(tagged_b.where("is_train"))
        .groupBy("item", "rec")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("item").orderBy(F.desc("c"), "rec")
    recs = (
        directed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= REC_K)
        .select("item", "rec")
    )
    test_b = tagged_b.where(~F.col("is_train"))
    probes = (
        test_b.where(F.size("ps") >= 2)
        .select("ok", F.explode("ps").alias("item"))
    )
    basket = test_b.select("ok", F.explode("ps").alias("rec"))
    hits = (
        probes.join(recs, "item", "left")
        .join(basket, ["ok", "rec"], "left_semi")
        .select("ok", "item")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    covered = (
        probes.join(recs.select("item").distinct(), "item", "left_semi")
        .select("ok", "item")
        .withColumn("covered", F.lit(1))
    )
    return (
        probes.join(hits, ["ok", "item"], "left")
        .join(covered, ["ok", "item"], "left")
        .agg(
            F.lit(REC_K).cast("bigint").alias("k"),
            F.count("*").cast("bigint").alias("n_probes"),
            F.sum(F.coalesce("covered", F.lit(0))).cast("bigint").alias(
                "n_covered"
            ),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits"),
            F.round(
                F.sum(F.coalesce("hit", F.lit(0)))
                * 1.0
                / F.count("*"),
                6,
            ).alias("hitrate"),
        )
    )


# --------------------------------------------------------------------------
# part_copurchase_triangles — degree-ordered triangle counting.
# --------------------------------------------------------------------------
TRI_TOP = 50
TRI_PPM = 1_000_000  # clustering coefficient fixed-point grid


@query(
    "part_copurchase_triangles",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    eu AS (
        SELECT a.pk AS u, b.pk AS v
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk),
    deg AS (
        SELECT n, count(*)::BIGINT AS d
        FROM (SELECT u AS n FROM eu UNION ALL SELECT v FROM eu)
        GROUP BY n),
    oe AS (
        SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND eu.u < eu.v)
                    THEN eu.u ELSE eu.v END AS s,
               CASE WHEN da.d < db.d OR (da.d = db.d AND eu.u < eu.v)
                    THEN eu.v ELSE eu.u END AS t
        FROM eu JOIN deg da ON da.n = eu.u JOIN deg db ON db.n = eu.v),
    tri AS (
        SELECT e1.s AS a, e1.t AS b, e2.t AS c
        FROM oe e1
        JOIN oe e2 ON e1.s = e2.s AND e1.t <> e2.t
        JOIN oe e3 ON e3.s = e1.t AND e3.t = e2.t),
    corner AS (
        SELECT n, count(*)::BIGINT AS tri_count
        FROM (SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
              UNION ALL SELECT c FROM tri)
        GROUP BY n)
    SELECT c.n AS p_partkey, d.d AS degree, c.tri_count,
           (2 * {TRI_PPM} * c.tri_count) // (d.d * (d.d - 1)) AS coeff_ppm
    FROM corner c JOIN deg d ON d.n = c.n
    ORDER BY c.tri_count DESC, p_partkey
    LIMIT {TRI_TOP}
    """,
)
def part_copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TRI_TOP} parts by TRIANGLE participation in the co-purchase
    graph, with each part's local clustering coefficient
    (2·tri / d·(d−1)) on an integer ppm grid. Triangles are the
    community-density primitive pair counts can't see: a part whose
    neighbors also co-occur with EACH OTHER anchors a bundle, not just
    a popular item.

    Scale — the degree-ordered adjacency-intersection algorithm (the
    distributed standard, not the naive wedge join):
      - undirected unique edges come from the shared basket-array
        producer (_copurchase_pair_rows: one orderkey shuffle, map-side
        C(k,2) explode — no self-join);
      - every edge is ORIENTED from its lower-(degree, id) endpoint to
        the higher one — an acyclic total order, so each triangle is
        found exactly once, and max out-degree is O(√m) regardless of
        the raw degree skew (the hub node's edges all point AT it, so
        the hub never fans out);
      - out-adjacency is ONE groupBy into sorted neighbor arrays; each
        oriented edge (s,t) then joins the two arrays and intersects
        them MAP-SIDE (array_intersect — no wedge shuffle at all; the
        naive wedge join measured 2.4x slower at sf0.1);
      - per-corner attribution folds each edge row's contributions
        (a and b count |cs| triangles, each common neighbor counts 1)
        into ONE exploded array and sums by node — the intersect and
        the edge join run exactly once; top-{TRI_TOP} is orderBy+limit
        (distributed TakeOrdered), never a global window.
    All arithmetic (counts, ppm coefficient) is integer, so the
    ranking is bit-identical across engines and partitionings.
    """
    # eu feeds TWO consumers (the degree aggregate and the orientation
    # join) — it is the (u, v) projection of the SHARED pinned
    # weighted edge frame (distinct by construction), so neither
    # rebuild nor a local persist is needed
    eu = _weighted_edges(spark, sf_dir).select("u", "v")
    deg = (
        eu.select(F.col("u").alias("n"))
        .unionAll(eu.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # oe has a SINGLE consumer now (the adjacency groupBy): the
    # oriented edge list the triangle join needs re-derives MAP-SIDE
    # from adj itself (explode of the cached neighbor arrays), so the
    # r12 oe.persist() and its extra exchange into the s-join are gone.
    oe = (
        eu.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(
            F.when(lower, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(lower, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    # filled: the triangle join below reads adj from BOTH sides of one job
    with held(
        oe.groupBy("s").agg(F.collect_list("t").alias("nbrs")), fill=True
    ) as adj:
        # (a, b, cs): one row per oriented edge, cs = the common
        # out-neighbors = the triangles closed over (a, b). Computed
        # ONCE — the r12 shape exploded cs and re-keyed with a
        # 3-branch unionAll, which re-ran the join + array_intersect
        # per branch (union branches share exchanges, not operators).
        pairs = adj.select(
            F.col("s").alias("a"),
            F.col("nbrs").alias("ns"),
            F.explode("nbrs").alias("b"),
        )
        tric = pairs.join(
            adj.select(F.col("s").alias("b"), F.col("nbrs").alias("nt")), "b"
        ).select("a", "b", F.array_intersect("ns", "nt").alias("cs"))
        # per-corner attribution without re-reading tric: a and b each
        # sit in |cs| triangles, every c in cs in exactly one — emit
        # all contributions as ONE exploded array per edge row and sum
        # (cs stays a hoisted alias: CollapseProject keeps a non-cheap
        # alias referenced more than once, so the intersect runs once)
        contrib = tric.select(
            F.explode(
                F.expr(
                    "concat("
                    " transform(cs, x -> named_struct('n', x, 'c', 1L)),"
                    " array(named_struct('n', a, 'c', cast(size(cs) as bigint)),"
                    "       named_struct('n', b, 'c', cast(size(cs) as bigint))))"
                )
            ).alias("p")
        ).select("p.n", "p.c")
        corner = (
            contrib.groupBy("n")
            .agg(F.sum("c").alias("tri_count"))
            # zero-contribution corners (edges with no common neighbor)
            # are not triangle participants — the oracle's corner CTE
            # only sees nodes of actual triangles
            .where(F.col("tri_count") > 0)
        )
        out = (
            corner.join(deg, "n")
            .select(
                F.col("n").alias("p_partkey"),
                F.col("d").cast("bigint").alias("degree"),
                F.col("tri_count").cast("bigint").alias("tri_count"),
                F.expr(
                    f"(2 * {TRI_PPM} * tri_count) div (d * (d - 1))"
                ).alias("coeff_ppm"),
            )
            .orderBy(F.desc("tri_count"), "p_partkey")
            .limit(TRI_TOP)
        )
        # bounded result: materialize while the caches are live
        return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# part_bundle_components — thresholded co-purchase connected components.
# --------------------------------------------------------------------------
BUNDLE_MIN_W = 2  # minimum co-occurrence count for a bundle edge


@query(
    "part_bundle_components",
    oracle=f"""
    WITH RECURSIVE op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    pairs AS (
        SELECT a.pk AS a_id, b.pk AS b_id
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk HAVING count(*) >= {BUNDLE_MIN_W}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (SELECT u AS ldoc, min(v) AS cluster_rep FROM reach GROUP BY u),
    sized AS (
        SELECT ldoc, cluster_rep,
               count(*) OVER (PARTITION BY cluster_rep)::BIGINT AS bundle_size
        FROM labels)
    SELECT ldoc AS p_partkey, cluster_rep AS bundle_rep, bundle_size
    FROM sized
    ORDER BY bundle_size DESC, bundle_rep, p_partkey
    """,
)
def part_bundle_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product BUNDLES: connected components of the co-purchase graph
    restricted to edges seen in ≥ {BUNDLE_MIN_W} distinct orders — the
    repeat-co-occurrence threshold fragments the one giant co-purchase
    component into merchandisable groups (every member maps to its
    bundle's min partkey).

    Scale: the weight threshold is the load-bearing move — it runs
    INSIDE the edge aggregate (HAVING on the co-occurrence count), so
    the closure only ever sees the thresholded edge set (~3% of edges
    at sf0.01, and co-occurrence counts concentrate, so the fraction
    FALLS as data grows). Components come from dedup.closure_labels —
    the shared transitive-closure step: driver union-find below
    SMALL_GRAPH_PAIRS, the distributed min-label loop above it, so the
    same query neither funnels a big graph through the driver nor
    pays shuffle rounds for a small one. Sizing is one count-window
    over the label frame (component-keyed, bounded).
    """
    from open_pulsar_spark.operators.dedup import closure_labels

    pairs = (
        _weighted_edges(spark, sf_dir)
        .where(F.col("w") >= BUNDLE_MIN_W)
        .select(F.col("u").alias("a_id"), F.col("v").alias("b_id"))
    )
    labels = closure_labels(spark, pairs)
    w = Window.partitionBy("label")
    return (
        labels.select(
            F.col("u").alias("p_partkey"),
            F.col("label").alias("bundle_rep"),
            F.count("*").over(w).cast("bigint").alias("bundle_size"),
        )
        .orderBy(F.desc("bundle_size"), "bundle_rep", "p_partkey")
    )


# --------------------------------------------------------------------------
# copurchase_assortativity — degree-mixing correlation of the graph.
# --------------------------------------------------------------------------
@query(
    "copurchase_assortativity",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    eu AS (
        SELECT a.pk AS u, b.pk AS v
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk),
    deg AS (
        SELECT n, count(*)::BIGINT AS d
        FROM (SELECT u AS n FROM eu UNION ALL SELECT v FROM eu) GROUP BY n),
    ends AS (
        SELECT da.d AS x, db.d AS y FROM eu
        JOIN deg da ON da.n = eu.u JOIN deg db ON db.n = eu.v
        UNION ALL
        SELECT db.d, da.d FROM eu
        JOIN deg da ON da.n = eu.u JOIN deg db ON db.n = eu.v),
    m AS (
        SELECT count(*)::BIGINT AS n,
               sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
               sum(x::HUGEINT * x)::HUGEINT AS sxx,
               sum(y::HUGEINT * y)::HUGEINT AS syy,
               sum(x::HUGEINT * y)::HUGEINT AS sxy
        FROM ends)
    SELECT (n / 2)::BIGINT AS n_edges,
           CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN NULL
                ELSE round((n * sxy - sx * sy) * 1.0
                           / (sqrt((n * sxx - sx * sx) * 1.0)
                              * sqrt((n * syy - sy * sy) * 1.0)), 6)
           END AS assortativity
    FROM m
    """,
)
def copurchase_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation of endpoint degrees over all edge ends (Newman 2002).
    Negative = hubs attach to the periphery (the typical retail
    pattern); positive = hub-hub mixing. One number that tells a graph
    pipeline whether degree-based partitioning will skew.

    Scale: the edge build and degree aggregate are the triangle
    query's contract; the endpoint frame is edges + two degree joins
    (both keyed equi-joins), and the six moments reduce in ONE
    map-side-combinable aggregate (exact integers — decimal(38,0) in
    Spark, HUGEINT in the oracle). The closing corr is two IEEE sqrt +
    one division on a 1-row frame — correctly-rounded ops, identical
    in both engines (the corr-matrix contract).
    """
    # eu feeds the degree aggregate AND the endpoint join: the (u, v)
    # projection of the SHARED pinned weighted edge frame (distinct by
    # construction); endpairs has a single consumer (the folded
    # symmetric aggregate below), so it needs no pin of its own
    eu = _weighted_edges(spark, sf_dir).select("u", "v")
    deg = (
        eu.select(F.col("u").alias("n"))
        .unionAll(eu.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count("*").alias("d"))
    )
    endpairs = (
        eu.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
        .select(F.col("du").alias("x"), F.col("dv").alias("y"))
    )
    # The symmetric union (every edge end in both orientations) folds
    # into ONE aggregate pass over the edge rows: over ends = pairs ∪
    # swap(pairs), n = 2·count, Σx = Σy = Σ(x+y), Σx² = Σy² = Σ(x²+y²),
    # Σxy = 2·Σxy — exact decimal integer identities, so the derived
    # doubles are bit-identical to the r12 two-pass union's (which
    # needed a persist and raced its own cache fill; guide §1.2).
    dec = "decimal(38,0)"
    xd, yd = F.col("x").cast(dec), F.col("y").cast(dec)
    m = endpairs.agg(
        (F.count("*") * 2).cast("bigint").alias("n"),
        F.sum(xd + yd).alias("sx"),
        F.sum(xd + yd).alias("sy"),
        F.sum(xd * xd + yd * yd).alias("sxx"),
        F.sum(xd * xd + yd * yd).alias("syy"),
        (F.sum(xd * yd) * 2).alias("sxy"),
    )
    nd = F.col("n").cast(dec)
    vx = (nd * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    vy = (nd * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    cov = (nd * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    out = m.select(
        F.expr("n div 2").cast("bigint").alias("n_edges"),
        F.when((vx == 0) | (vy == 0), F.lit(None)).otherwise(
            F.round(cov / (F.sqrt(vx) * F.sqrt(vy)), 6)
        ).alias("assortativity"),
    )
    # one-row result: materialize while the shared edge pin is live
    return spark.createDataFrame(out.collect(), out.schema)


# --------------------------------------------------------------------------
# part_bundle_kcore — bounded-round k-core peel of the bundle graph.
# --------------------------------------------------------------------------
KCORE_K = 3
KCORE_ROUNDS = 3
KCORE_TOP = 100


def _kcore_oracle() -> str:
    ctes = [
        f"""op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    e0 AS (
        SELECT a.pk AS u, b.pk AS v
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk HAVING count(*) >= {BUNDLE_MIN_W})"""
    ]
    for r in range(KCORE_ROUNDS):
        ctes.append(
            f"""d{r} AS (
        SELECT n, count(*)::BIGINT AS d
        FROM (SELECT u AS n FROM e{r} UNION ALL SELECT v FROM e{r})
        GROUP BY n),
    k{r} AS (SELECT n FROM d{r} WHERE d >= {KCORE_K}),
    e{r + 1} AS (
        SELECT e.u, e.v FROM e{r} e
        JOIN k{r} a ON a.n = e.u JOIN k{r} b ON b.n = e.v)"""
        )
    last = KCORE_ROUNDS
    return f"""
    WITH {",".join(ctes)},
    dfin AS (
        SELECT n, count(*)::BIGINT AS d
        FROM (SELECT u AS n FROM e{last} UNION ALL SELECT v FROM e{last})
        GROUP BY n)
    SELECT n AS p_partkey, d AS core_degree
    FROM dfin
    ORDER BY d DESC, p_partkey
    LIMIT {KCORE_TOP}
    """


@query("part_bundle_kcore", oracle=_kcore_oracle())
def part_bundle_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate {KCORE_K}-core of the BUNDLE graph (repeat-co-
    purchase edges, w ≥ {BUNDLE_MIN_W}): {KCORE_ROUNDS} rounds of
    degree peeling — drop nodes with degree < {KCORE_K}, induce the
    subgraph, repeat — then the top-{KCORE_TOP} surviving parts by
    in-core degree. The core is the bundle graph's load-bearing heart:
    parts whose repeat-co-purchase neighborhoods are themselves
    densely embedded (assortment anchors), where raw degree rankings
    surface popular-but-peripheral items. Bounded rounds are the
    PageRank contract (PR_ITERS), not a convergence loop: each round
    is a fixed plan extension, deterministic and engine-parity-exact;
    on this family's graphs the peel is within a few percent of the
    true core by round 3 (1880 → 1243 → 1078 nodes at sf0.01).

    Scale: the edge build is the shared basket-array producer +
    count-threshold (one shuffle); each peel round is one degree
    aggregate (map-combinable) + two semi-joins of the edge list
    against the SHRINKING keep-set (AQE broadcasts it when small);
    the edge frame persists across rounds. TakeOrdered top-k, integer
    ordering."""
    with ExitStack() as caches:
        cur = caches.enter_context(
            held(
                _weighted_edges(spark, sf_dir)
                .where(F.col("w") >= BUNDLE_MIN_W)
                .select("u", "v"),
                fill=False,
            )
        )
        for _ in range(KCORE_ROUNDS):
            deg = (
                cur.select(F.col("u").alias("n"))
                .unionAll(cur.select(F.col("v").alias("n")))
                .groupBy("n")
                .agg(F.count("*").alias("d"))
            )
            keep = deg.where(F.col("d") >= KCORE_K).select("n")
            # NOT filled: every parent cache stays live until the block
            # exits, so the single final action materializes each
            # round's frame lazily (each cached partition computes
            # once, the round's three consumers read the cache) — the
            # old per-round count() was KCORE_ROUNDS extra full jobs
            # whose output was discarded.
            cur = caches.enter_context(
                held(
                    cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
                    .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
                    .select("u", "v"),
                    fill=False,
                )
            )
        dfin = (
            cur.select(F.col("u").alias("p_partkey"))
            .unionAll(cur.select(F.col("v").alias("p_partkey")))
            .groupBy("p_partkey")
            .agg(F.count("*").cast("bigint").alias("core_degree"))
        )
        return (
            dfin.orderBy(F.desc("core_degree"), "p_partkey")
            .limit(KCORE_TOP)
            .localCheckpoint(eager=True)
        )


# --------------------------------------------------------------------------
# bundle_modularity — partition-quality readout: how well the bundle
# components carve the FULL co-purchase graph.
# --------------------------------------------------------------------------
MODULARITY_TOP = 20


@query(
    "bundle_modularity",
    oracle=f"""
    WITH RECURSIVE op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    wpairs AS (
        SELECT a.pk AS a_id, b.pk AS b_id, count(*)::BIGINT AS w
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk),
    pairs AS (SELECT a_id, b_id FROM wpairs WHERE w >= {BUNDLE_MIN_W}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
    reach(u, v) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges)
        UNION
        SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (SELECT u AS n, min(v) AS lab FROM reach GROUP BY u),
    le AS (
        SELECT coalesce(la.lab, wp.a_id) AS lab_a,
               coalesce(lb.lab, wp.b_id) AS lab_b
        FROM wpairs wp
        LEFT JOIN labels la ON la.n = wp.a_id
        LEFT JOIN labels lb ON lb.n = wp.b_id),
    m AS (SELECT count(*)::BIGINT AS m FROM le),
    internal AS (
        SELECT lab_a AS lab, count(*)::BIGINT AS m_c
        FROM le WHERE lab_a = lab_b GROUP BY 1),
    deg AS (
        SELECT lab, count(*)::BIGINT AS d_c
        FROM (SELECT lab_a AS lab FROM le UNION ALL SELECT lab_b FROM le)
        GROUP BY lab),
    per AS (
        SELECT d.lab, coalesce(i.m_c, 0)::BIGINT AS m_c, d.d_c
        FROM deg d LEFT JOIN internal i USING (lab)),
    nsize AS (
        SELECT coalesce(l.lab, a.pk) AS lab, count(DISTINCT a.pk)::BIGINT AS n_nodes
        FROM (SELECT DISTINCT pk FROM op) a LEFT JOIN labels l ON l.n = a.pk
        GROUP BY 1),
    tot AS (
        SELECT (SELECT m FROM m) AS m,
               sum(per.m_c)::HUGEINT AS sm, sum(per.d_c * per.d_c)::HUGEINT AS sd2
        FROM per)
    SELECT p.lab AS bundle_rep, ns.n_nodes, p.m_c AS internal_edges,
           p.d_c AS total_degree,
           ((1000000::HUGEINT * (4 * t.m * p.m_c - p.d_c * p.d_c
                                 + 4 * t.m * t.m))
               // (4::HUGEINT * t.m * t.m) - 1000000)::BIGINT AS contrib_ppm,
           ((1000000::HUGEINT * (4 * t.m * t.sm - t.sd2 + 4 * t.m * t.m))
               // (4::HUGEINT * t.m * t.m) - 1000000)::BIGINT AS q_total_ppm
    FROM per p JOIN nsize ns ON ns.lab = p.lab CROSS JOIN tot t
    ORDER BY p.m_c DESC, p.lab
    LIMIT {MODULARITY_TOP}
    """,
)
def bundle_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman MODULARITY of the bundle partition, evaluated against
    the FULL co-purchase graph: the thresholded components define the
    communities (non-bundle parts are singletons), and Q measures how
    much of the total edge mass falls inside them beyond chance —
    Q = Σ_c (m_c/m − (d_c/2m)²). The number the bundle family was
    missing: components say WHAT the bundles are, modularity says
    whether the partition is any good against the weak-edge background
    the threshold discarded.

    Determinism: Q is rational with denominator 4m², so both the
    per-community contribution and the total are computed as ONE
    integer division on the common denominator — contrib_ppm =
    (10⁶·(4m·m_c − d_c² + 4m²)) div (4m²) − 10⁶, the ACF offset trick
    (contributions can be negative; the +4m² shift keeps the numerator
    positive where trunc and floor agree). Totals use exact HUGEINT/
    decimal sums, never a sum of truncated terms.

    Scale: the weighted pair aggregate is the shared basket-array
    producer's contract; labels come from closure_labels over the
    thresholded subset (bounded pair graph); the full edge set joins
    the label frame twice (keyed equi-joins), and everything after is
    label-cardinality sized. TakeOrdered top-{MODULARITY_TOP}."""
    from open_pulsar_spark.operators.dedup import closure_labels

    wpairs = _weighted_edges(spark, sf_dir)
    labels = closure_labels(
        spark,
        wpairs.where(F.col("w") >= BUNDLE_MIN_W).select(
            F.col("u").alias("a_id"), F.col("v").alias("b_id")
        ),
    ).withColumnRenamed("u", "n")
    la = labels.select(F.col("n").alias("u"), F.col("label").alias("la"))
    lb = labels.select(F.col("n").alias("v"), F.col("label").alias("lb"))
    le = pin(
        "modularity_le",
        wpairs.join(la, "u", "left")
        .join(lb, "v", "left")
        .select(
            F.coalesce("la", F.col("u")).alias("lab_a"),
            F.coalesce("lb", F.col("v")).alias("lab_b"),
        ),
        fill=False,
    )
    m = le.count()
    if m == 0:
        # no co-purchase edges at all (degenerate corpus): modularity
        # is undefined (denominator 4m²). The oracle's joins over the
        # empty edge set produce no rows, so both engines agree on an
        # EMPTY table instead of a None-crash/zero-divide.
        return spark.createDataFrame(
            [],
            "bundle_rep LONG, n_nodes BIGINT, internal_edges BIGINT,"
            " total_degree BIGINT, contrib_ppm BIGINT, q_total_ppm BIGINT",
        )
    internal = (
        le.where(F.col("lab_a") == F.col("lab_b"))
        .groupBy(F.col("lab_a").alias("lab"))
        .agg(F.count("*").cast("bigint").alias("m_c"))
    )
    deg = (
        le.select(F.col("lab_a").alias("lab"))
        .unionAll(le.select(F.col("lab_b").alias("lab")))
        .groupBy("lab")
        .agg(F.count("*").cast("bigint").alias("d_c"))
    )
    per = deg.join(internal, "lab", "left").select(
        "lab",
        F.coalesce("m_c", F.lit(0)).cast("bigint").alias("m_c"),
        "d_c",
    )
    # node universe = every part on some co-purchase edge; singletons
    # (no bundle) label as themselves
    nuniv = (
        wpairs.select(F.col("u").alias("pk"))
        .unionAll(wpairs.select(F.col("v").alias("pk")))
        .distinct()
    )
    nsize = (
        nuniv.join(labels.withColumnRenamed("n", "pk"), "pk", "left")
        .select(F.coalesce("label", F.col("pk")).alias("lab"))
        .groupBy("lab")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
    )
    tot = per.agg(
        F.sum("m_c").cast("decimal(38,0)").alias("sm"),
        F.sum(F.expr("d_c * d_c")).cast("decimal(38,0)").alias("sd2"),
    ).first()
    sm, sd2 = int(tot.sm), int(tot.sd2)
    q_total = (10**6 * (4 * m * sm - sd2 + 4 * m * m)) // (4 * m * m) - 10**6
    return (
        per.join(nsize, "lab")
        .select(
            F.col("lab").alias("bundle_rep"),
            "n_nodes",
            F.col("m_c").alias("internal_edges"),
            F.col("d_c").alias("total_degree"),
            F.expr(
                f"cast((cast(1000000 as decimal(38,0))"
                f" * (4 * cast({m} as decimal(38,0)) * m_c - d_c * d_c"
                f"    + cast({4 * m * m} as decimal(38,0))))"
                f" div cast({4 * m * m} as decimal(38,0)) - 1000000 as bigint)"
            ).alias("contrib_ppm"),
            F.lit(q_total).cast("bigint").alias("q_total_ppm"),
        )
        .orderBy(F.desc("internal_edges"), "bundle_rep")
        .limit(MODULARITY_TOP)
    )


# --------------------------------------------------------------------------
# copurchase_link_prediction — Adamic-Adar scores for NON-edges (the
# link-prediction classic: which parts SHOULD co-occur but don't yet).
# --------------------------------------------------------------------------
AA_TOP = 20
AA_DEG_CAP = 64  # max degree for the COMMON-NEIGHBOR role: a hub's
#                  wedge fan-out is C(d,2) while its score weight
#                  1/ln(d) is the smallest possible term — capping
#                  drops the quadratically-expensive, least-informative
#                  wedges. Never bites on the real bundle graph (max
#                  degree 13 at sf0.01, 6 at sf0.1); exists so the
#                  plan is degree-bounded BY CONSTRUCTION at 100 TB.


@query(
    "copurchase_link_prediction",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    pairs AS (
        SELECT a.pk AS a_id, b.pk AS b_id
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk HAVING count(*) >= {BUNDLE_MIN_W}),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT u AS n, count(*)::BIGINT AS d FROM edges GROUP BY u),
    wedge AS (
        SELECT e1.v AS a, e2.v AS b, e1.u AS w
        FROM edges e1 JOIN edges e2 ON e1.u = e2.u AND e1.v < e2.v),
    scored AS (
        SELECT a, b, count(*)::BIGINT AS common_nbrs,
               sum(CAST(round(1000000000.0 / ln(d.d), 0) AS BIGINT))::BIGINT
                   AS aa_ppb
        FROM wedge
        JOIN deg d ON d.n = wedge.w AND d.d <= {AA_DEG_CAP}
        GROUP BY a, b),
    nonedge AS (
        SELECT s.* FROM scored s
        ANTI JOIN pairs p ON s.a = p.a_id AND s.b = p.b_id)
    SELECT a AS u, b AS v, common_nbrs, aa_ppb
    FROM nonedge
    ORDER BY aa_ppb DESC, u, v
    LIMIT {AA_TOP}
    """,
)
def copurchase_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{AA_TOP} NON-adjacent part pairs by Adamic-Adar score —
    link prediction on the BUNDLE graph (co-purchase edges with
    weight ≥ {BUNDLE_MIN_W}, the part_bundle_components threshold:
    one-off co-occurrences are noise edges that would both drown the
    score and quadratically inflate the wedge set): pairs that share
    many bundle neighbors, each common neighbor w weighted
    1/ln(deg w) (a rare shared neighbor says more than a hub),
    restricted to pairs with NO existing bundle edge. This is the
    'assortment gap' readout a recommender ships next to
    copurchase_rec_hitrate's 'also-bought': hitrate grades edges that
    exist; this ranks the edges to create.

    Determinism: each neighbor's 1/ln(deg) is rounded onto the ppb
    integer grid BEFORE the per-pair sum (the PSI/keyness contract —
    order-independent BIGINT totals); a common neighbor has degree ≥ 2
    by construction, so ln(d) ≥ ln 2 and the grid term is bounded by
    ~1.44e9. Ranking ties break on (u, v).

    Scale: no wedge JOIN — each vertex's sorted neighbor array comes
    from ONE groupBy over the shared pinned edge frame, and its
    C(d, 2) candidate pairs explode MAP-SIDE with the 1/ln(d) term
    attached (the _undirected_pairs expression over adjacency instead
    of baskets); one (a, b) aggregate and a broadcast-able anti-join
    against the existing edges close it. Hub fan-out is the standard
    AA cost (Σ d²), so the common-neighbor role carries an explicit
    degree cap ({AA_DEG_CAP} — see the constant: plan bounded at
    cap²/vertex BY CONSTRUCTION, the lsh_bucket_skew_profile
    treatment, in the semantics of both engines rather than a silent
    truncation; it never bites on the real bundle graph whose max
    degree is an order of magnitude below it)."""
    eu = (
        _weighted_edges(spark, sf_dir)
        .where(F.col("w") >= BUNDLE_MIN_W)
        .select("u", "v")
    )
    edges = eu.unionAll(eu.select(F.col("v").alias("u"), F.col("u").alias("v")))
    adj = (
        edges.groupBy("u")
        .agg(F.sort_array(F.collect_set("v")).alias("ns"))
        .where(F.size("ns") <= AA_DEG_CAP)
    )
    wedges = adj.select(
        F.expr(
            "cast(round(1000000000.0 / ln(cast(size(ns) as double)), 0)"
            " as bigint)"
        ).alias("term_ppb"),
        F.explode(
            F.expr(
                "flatten(transform(ns, (x, i) ->"
                " transform(slice(ns, i + 2, size(ns) - i - 1),"
                "           y -> struct(x AS a, y AS b))))"
            )
        ).alias("p"),
    ).select("p.a", "p.b", "term_ppb")
    scored = wedges.groupBy("a", "b").agg(
        F.count("*").cast("bigint").alias("common_nbrs"),
        F.sum("term_ppb").cast("bigint").alias("aa_ppb"),
    )
    nonedge = scored.join(
        eu.select(F.col("u").alias("a"), F.col("v").alias("b")),
        ["a", "b"],
        "left_anti",
    )
    return (
        nonedge.select(
            F.col("a").alias("u"),
            F.col("b").alias("v"),
            "common_nbrs",
            "aa_ppb",
        )
        .orderBy(F.desc("aa_ppb"), "u", "v")
        .limit(AA_TOP)
    )


# --------------------------------------------------------------------------
# copurchase_edge_novelty — first-seen month of every co-purchase edge
# (the corpus_vocab_growth curve, for the graph).
# --------------------------------------------------------------------------
@query(
    "copurchase_edge_novelty",
    oracle="""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    om AS (SELECT o_orderkey AS ok, strftime(o_orderdate, '%Y-%m') AS month
           FROM orders),
    pm AS (
        SELECT a.pk AS a_id, b.pk AS b_id, min(om.month) AS first_month
        FROM op a
        JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        JOIN om ON om.ok = a.ok
        GROUP BY a.pk, b.pk),
    m AS (SELECT first_month AS month, count(*)::BIGINT AS new_edges
          FROM pm GROUP BY 1)
    SELECT month, new_edges,
           sum(new_edges) OVER (ORDER BY month
                                ROWS UNBOUNDED PRECEDING)::BIGINT
               AS cum_edges
    FROM m ORDER BY month
    """,
)
def copurchase_edge_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-NOVELTY curve of the co-purchase graph: per month, how
    many part pairs co-occur for the FIRST time, plus the cumulative
    edge count — the graph's discovery curve (corpus_vocab_growth's
    Heaps-law readout applied to relationships instead of tokens). A
    flattening curve says the assortment's co-occurrence structure is
    saturating (recommendation models can train on a frozen edge set);
    a steady slope says edges are still arriving and graph-derived
    features go stale at that rate — the retraining-cadence number.

    Scale: pairs explode MAP-SIDE from the shared basket producer
    with the order's month attached (the one orderkey shuffle joins
    lineitem's basket to orders' month — an equi-join on the natural
    key); first-seen is one (a, b) min-aggregate; the month rollup
    and its running sum act on a bounded ~|months| frame (the single-
    partition window is over that bounded frame only — the
    events_cumulative_users precedent)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    om = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )
    baskets = li.groupBy("ok").agg(
        F.sort_array(F.collect_set("pk")).alias("ps")
    )
    pairs = (
        baskets.join(om, "ok")
        .select(
            "month",
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) ->"
                    " transform(slice(ps, i + 2, size(ps) - i - 1),"
                    "           y -> struct(x AS a, y AS b))))"
                )
            ).alias("p"),
        )
        .select("p.a", "p.b", "month")
    )
    pm = pairs.groupBy("a", "b").agg(F.min("month").alias("first_month"))
    m = pm.groupBy(F.col("first_month").alias("month")).agg(
        F.count("*").cast("bigint").alias("new_edges")
    )
    w = Window.orderBy("month").rowsBetween(Window.unboundedPreceding, 0)
    return (
        m.withColumn(
            "cum_edges", F.sum("new_edges").over(w).cast("bigint")
        )
        .orderBy("month")
    )


# --------------------------------------------------------------------------
# copurchase_negative_samples — popularity-matched negative mining: the
# training-set builder for the link-prediction model class.
# --------------------------------------------------------------------------
NEG_POOL = 50   # negatives draw from the top-50 most-connected parts
NEG_K = 3       # negatives emitted per anchor


@query(
    "copurchase_negative_samples",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
                FROM lineitem),
    edges AS (
        SELECT a.pk AS u, b.pk AS v, count(*)::BIGINT AS w
        FROM op a JOIN op b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY a.pk, b.pk),
    deg AS (
        SELECT pk, sum(w)::BIGINT AS deg_w FROM (
            SELECT u AS pk, w FROM edges
            UNION ALL SELECT v AS pk, w FROM edges)
        GROUP BY pk),
    pool AS (
        SELECT pk AS cand, deg_w AS cand_deg FROM deg
        ORDER BY deg_w DESC, pk LIMIT {NEG_POOL}),
    cand AS (
        SELECT d.pk AS anchor, p.cand, p.cand_deg
        FROM deg d CROSS JOIN pool p
        WHERE p.cand <> d.pk
          AND NOT EXISTS (
              SELECT 1 FROM edges e
              WHERE e.u = least(d.pk, p.cand)
                AND e.v = greatest(d.pk, p.cand))),
    ranked AS (
        SELECT anchor, cand, cand_deg,
               row_number() OVER (PARTITION BY anchor
                   ORDER BY md5(anchor::VARCHAR || '_' || cand::VARCHAR),
                            cand) AS rk
        FROM cand)
    SELECT anchor, cand AS negative, cand_deg AS negative_degree,
           rk::INT AS rk
    FROM ranked WHERE rk <= {NEG_K}
    ORDER BY anchor, rk
    """,
)
def copurchase_negative_samples(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """POPULARITY-MATCHED negative sampling for link-prediction
    training: for every part in the co-purchase graph, {NEG_K}
    deterministic non-neighbors drawn from the {NEG_POOL}
    most-connected parts — hard negatives by construction (a random
    non-edge is trivially easy; a POPULAR part you never co-sold
    against is the negative that teaches the model something).
    Selection is an md5 coin over (anchor, candidate), so the
    training set is a pure function of the data — reproducible,
    engine-independent, re-drawable after every snapshot.
    copurchase_link_prediction SCORES non-edges; this builds the
    labeled set a learned ranker trains on.

    Scale: the edge/degree frames are the shared basket-explode
    producers; the candidate pool is a TakeOrdered({NEG_POOL})
    collected to a LITERAL array, so the anchor×pool fan-out is a
    MAP-SIDE explode (≤{NEG_POOL} rows per anchor, no join); the
    neighbor exclusion is one left-anti equi-join against the edge
    list; the md5 rank is a per-anchor bounded-array top-{NEG_K}
    aggregate (≤{NEG_POOL} candidates per anchor by construction),
    never a global window sort.

    Determinism: degree ties in the pool cut break on part id; the
    per-anchor ranking is (md5 hex, candidate id) — total orders
    everywhere."""

    edges = _weighted_edges(spark, sf_dir)
    # deg feeds the eager pool cut AND the anchor explode of the main
    # job: pin it so the pool collect (its single first consumer)
    # fills the cache and the main job reads it instead of re-running
    # the union+aggregate over the edge frame (guide §1.2)
    deg = pin(
        "negsamp_deg",
        edges.select(F.col("u").alias("pk"), "w")
        .unionAll(edges.select(F.col("v").alias("pk"), "w"))
        .groupBy("pk")
        .agg(F.sum("w").cast("bigint").alias("deg_w")),
        fill=False,
    )
    pool = [
        (int(r.pk), int(r.deg_w))
        for r in deg.orderBy(F.desc("deg_w"), "pk").limit(NEG_POOL).collect()
    ]
    if not pool:
        return spark.createDataFrame(
            [], "anchor BIGINT, negative BIGINT,"
            " negative_degree BIGINT, rk INT"
        )
    pool_arr = "array(" + ",".join(
        f"named_struct('cand', {pk}L, 'cand_deg', {dw}L)"
        for pk, dw in pool
    ) + ")"
    cand = (
        deg.select(F.col("pk").alias("anchor"))
        .select("anchor", F.explode(F.expr(pool_arr)).alias("p"))
        .select("anchor", F.col("p.cand").alias("cand"),
                F.col("p.cand_deg").alias("cand_deg"))
        .where(F.col("cand") != F.col("anchor"))
        .join(
            edges.select(
                F.col("u").alias("eu"), F.col("v").alias("ev")
            ),
            (F.least(F.col("anchor"), F.col("cand")) == F.col("eu"))
            & (F.greatest(F.col("anchor"), F.col("cand")) == F.col("ev")),
            "left_anti",
        )
    )
    # per-anchor top-{NEG_K} as a bounded-array aggregate instead of a
    # row_number window: the window needed a FULL sort of every
    # (anchor, cand) row by the md5 string before its group limit;
    # collect_list + array_sort sorts ≤{NEG_POOL}-element arrays per
    # anchor (struct order = (mk, cand, cand_deg) lexicographic — the
    # window's (md5, cand) order; cand is unique per anchor so the
    # third field never decides). Same rows, same rk.
    mk = F.md5(
        F.concat(
            F.col("anchor").cast("string"),
            F.lit("_"),
            F.col("cand").cast("string"),
        )
    )
    return (
        cand.withColumn("mk", mk)
        .groupBy("anchor")
        .agg(
            F.slice(
                F.array_sort(
                    F.collect_list(F.struct("mk", "cand", "cand_deg"))
                ),
                1,
                NEG_K,
            ).alias("top")
        )
        .selectExpr("anchor", "posexplode(top) as (pos, p)")
        .select(
            "anchor",
            F.col("p.cand").alias("negative"),
            F.col("p.cand_deg").alias("negative_degree"),
            (F.col("pos") + 1).cast("int").alias("rk"),
        )
        .orderBy("anchor", "rk")
    )


# --------------------------------------------------------------------------
# order_basket_profile — the fan-out cost model behind every co-purchase
# query: lines-per-order distribution and the pair mass it implies.
# --------------------------------------------------------------------------
@query(
    "order_basket_profile",
    oracle="""
    WITH b AS (
        SELECT l_orderkey AS ok,
               count(DISTINCT l_partkey)::BIGINT AS k
        FROM lineitem GROUP BY 1),
    tot AS (
        SELECT count(*)::BIGINT AS n_orders,
               sum(k)::BIGINT AS n_lines,
               sum(k * (k - 1) // 2)::BIGINT AS pair_mass,
               max(k)::BIGINT AS max_k
        FROM b)
    SELECT b.k AS basket_size,
           count(*)::BIGINT AS n_orders,
           (count(*) * b.k * (b.k - 1) // 2)::BIGINT AS pairs_contributed,
           (count(*) * b.k * (b.k - 1) // 2 * 1000000
               // greatest((SELECT pair_mass FROM tot), 1))::BIGINT
               AS pair_mass_share_ppm,
           (SELECT pair_mass FROM tot) AS total_pair_mass,
           (SELECT max_k FROM tot) AS max_basket
    FROM b
    GROUP BY b.k
    ORDER BY basket_size
    """,
)
def order_basket_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COST MODEL behind the whole co-purchase family, measured:
    the distribution of distinct parts per order (basket size k) and
    the C(k,2) PAIR MASS each size contributes — i.e. exactly how many
    rows the map-side basket explode emits, and which basket sizes
    dominate it. Every graph query here cites 'fan-out bounded by
    lines-per-order'; this query prints that bound's actual shape, and
    at 100 TB it is the number that decides whether a giant-basket cap
    is needed BEFORE the explode is paid (the lsh_bucket_skew_profile
    contract applied to baskets).

    Scale: one orderkey-keyed distinct-count aggregate, one bounded
    basket-size rollup. Determinism: integer counts and trunc-div
    shares only."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    )
    b = li.groupBy("ok").agg(
        F.countDistinct("pk").cast("bigint").alias("k")
    )
    tot = b.agg(
        F.sum(F.expr("k * (k - 1) div 2")).cast("bigint").alias("pm"),
        F.max("k").cast("bigint").alias("mk"),
    ).first()
    schema = (
        "basket_size BIGINT, n_orders BIGINT, pairs_contributed BIGINT,"
        " pair_mass_share_ppm BIGINT, total_pair_mass BIGINT,"
        " max_basket BIGINT"
    )
    if tot.pm is None:
        return spark.createDataFrame([], schema)
    pm, mk = int(tot.pm), int(tot.mk)
    return (
        b.groupBy(F.col("k").alias("basket_size"))
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .select(
            "basket_size",
            "n_orders",
            F.expr(
                "cast(n_orders * basket_size * (basket_size - 1)"
                " div 2 as bigint)"
            ).alias("pairs_contributed"),
            F.expr(
                f"cast(n_orders * basket_size * (basket_size - 1)"
                f" div 2 * 1000000 div {max(pm, 1)} as bigint)"
            ).alias("pair_mass_share_ppm"),
            F.lit(pm).cast("bigint").alias("total_pair_mass"),
            F.lit(mk).cast("bigint").alias("max_basket"),
        )
        .orderBy("basket_size")
    )


# --------------------------------------------------------------------------
# part_association_rules — classic market-basket rules with support /
# confidence / lift. The pair-count queries say WHICH parts co-occur;
# a rule table says what to DO with that: x→y with high confidence
# drives "add to cart" placement, and lift < 1 flags substitutes that
# merely share popularity. Directional — conf(x→y) ≠ conf(y→x) — which
# is exactly what the undirected edge weight cannot express.
# --------------------------------------------------------------------------
RULE_MIN_W = BUNDLE_MIN_W  # support floor: same repeat-co-occurrence bar
RULE_MIN_CONF_PPM = 100000  # report rules with confidence ≥ 10%


@query(
    "part_association_rules",
    oracle=f"""
    WITH op AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    n AS (SELECT count(DISTINCT ok)::BIGINT AS n_baskets FROM op),
    ix AS (SELECT pk, count(*)::BIGINT AS nx FROM op GROUP BY pk),
    pw AS (
        SELECT a.pk AS x, b.pk AS y, count(*)::BIGINT AS nxy
        FROM op a JOIN op b ON b.ok = a.ok AND b.pk <> a.pk
        GROUP BY a.pk, b.pk HAVING count(*) >= {RULE_MIN_W})
    SELECT pw.x, pw.y, pw.nxy AS support_n,
           ix.nx AS n_x, iy.nx AS n_y,
           (pw.nxy * 1000000 // ix.nx)::BIGINT AS confidence_ppm,
           (pw.nxy::HUGEINT * n.n_baskets * 1000000
            // (ix.nx::HUGEINT * iy.nx))::BIGINT AS lift_ppm
    FROM pw
    JOIN ix ON ix.pk = pw.x
    JOIN ix iy ON iy.pk = pw.y
    CROSS JOIN n
    WHERE pw.nxy * 1000000 // ix.nx >= {RULE_MIN_CONF_PPM}
    ORDER BY x, y
    """,
)
def part_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules x→y over order baskets: support (co-occurrence
    count, floor {RULE_MIN_W} — the bundle bar), confidence
    n_xy/n_x on a ppm grid (reported at ≥ {RULE_MIN_CONF_PPM/10000:.0f}%),
    and lift n_xy·N/(n_x·n_y) in ppm (128-bit-safe) — >1e6 means the
    pair attracts, <1e6 repels (substitutes). The directed, normalized
    form of the co-purchase edge: what a merchandiser actually ships.

    Determinism: integer counts, trunc-div grids.

    Scale: baskets collect once per order (the shared ONE-shuffle
    basket frame), directed pairs explode MAP-SIDE (C(k,2)·2 per
    basket, bounded by lines-per-order), one pair aggregate, two key
    joins against the |parts|-row item counts, a 1-row broadcast N.
    No self-join of the posting list."""
    baskets = _copurchase_baskets(spark, sf_dir)

    baskets = pin("rules_baskets", baskets, fill=False)
    n = baskets.agg(F.count("*").cast("bigint").alias("n_baskets"))
    ix = baskets.select(F.explode("ps").alias("pk")).groupBy("pk").agg(
        F.count("*").cast("bigint").alias("nx")
    )
    pw = (
        _directed_pairs(baskets)
        .groupBy(F.col("item").alias("x"), F.col("rec").alias("y"))
        .agg(F.count("*").cast("bigint").alias("nxy"))
        .where(F.col("nxy") >= RULE_MIN_W)
    )
    return (
        pw.join(ix.select(F.col("pk").alias("x"),
                          F.col("nx").alias("n_x")), "x")
        .join(ix.select(F.col("pk").alias("y"),
                        F.col("nx").alias("n_y")), "y")
        .crossJoin(F.broadcast(n))
        .select(
            "x",
            "y",
            F.col("nxy").alias("support_n"),
            "n_x",
            "n_y",
            F.expr("cast(nxy * 1000000 div n_x as bigint)").alias(
                "confidence_ppm"
            ),
            F.expr(
                "cast(cast(nxy as decimal(38,0)) * n_baskets * 1000000"
                " div (cast(n_x as decimal(38,0)) * n_y) as bigint)"
            ).alias("lift_ppm"),
        )
        .where(F.col("confidence_ppm") >= RULE_MIN_CONF_PPM)
        .orderBy("x", "y")
    )
