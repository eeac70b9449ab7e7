"""Graph analytics over DataFrames (SURVEY.md §2.11 round-4): PageRank on
the user-event_type engagement graph. Complements ext_dedup_cluster's
label propagation (llm_pipeline.py): that operator iterates to a
fixpoint over near-dup edges; this one runs a FIXED number of weighted
power-iteration rounds, the shape used for influence/centrality scoring
in curation (e.g. ranking domains by link structure before sampling).

Scale stance: the rank vector is a DataFrame keyed by node (never a
driver-side vector), each round is one edges-join-ranks shuffle on src
plus one dst-keyed aggregation — O(|E|) per round, same as GraphX/Pregel.
Contributions are decimal-quantized per round so the re-aggregation is
order-insensitive and the oracle can replay the exact arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import scoped_persist
from ..tables import load

_DAMP = 0.85
_ROUNDS = 3

# DuckDB unrolls the same three rounds: edges both directions, degree,
# uniform init, then per-round contrib = r/deg decimal-summed per dst.
_PAGERANK_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS u,
                  't:' || event_type AS t
  FROM events
), edges AS (
  SELECT u AS src, t AS dst FROM e0
  UNION ALL
  SELECT t AS src, u AS dst FROM e0
), deg AS (
  SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src
), n AS (
  SELECT COUNT(*) AS n_nodes FROM deg
), r0 AS (
  SELECT src AS node, CAST(1.0 AS DOUBLE) / n_nodes AS r FROM deg, n
), r1 AS (
  SELECT e.dst AS node,
         CAST(0.15 AS DOUBLE) / MIN(n.n_nodes)
         + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(r.r / d.outdeg AS DECIMAL(28,12)))
                       AS DOUBLE) AS r
  FROM edges e
  JOIN r0 r ON r.node = e.src
  JOIN deg d ON d.src = e.src
  CROSS JOIN n
  GROUP BY e.dst
), r2 AS (
  SELECT e.dst AS node,
         CAST(0.15 AS DOUBLE) / MIN(n.n_nodes)
         + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(r.r / d.outdeg AS DECIMAL(28,12)))
                       AS DOUBLE) AS r
  FROM edges e
  JOIN r1 r ON r.node = e.src
  JOIN deg d ON d.src = e.src
  CROSS JOIN n
  GROUP BY e.dst
), r3 AS (
  SELECT e.dst AS node,
         CAST(0.15 AS DOUBLE) / MIN(n.n_nodes)
         + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(r.r / d.outdeg AS DECIMAL(28,12)))
                       AS DOUBLE) AS r
  FROM edges e
  JOIN r2 r ON r.node = e.src
  JOIN deg d ON d.src = e.src
  CROSS JOIN n
  GROUP BY e.dst
)
SELECT node, r AS rank FROM r3
"""


@query("ext_pagerank_lite", oracle=_PAGERANK_ORACLE, tier=3)
def ext_pagerank_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three power-iteration PageRank rounds (d=0.85) over the bipartite
    user<->event_type graph (each engagement edge in both directions, so
    no dangling nodes and every node receives mass).

    Per round: ONE shuffle — edges join the rank frame on src (ranks and
    degrees ride the same join), contributions r/outdeg aggregate per dst
    as decimal(28,12) sums (order-insensitive; the oracle replays the
    identical arithmetic). The node count is a 1-row broadcast, never a
    collected constant. Rounds are unrolled (fixed 3), so lineage stays
    bounded without checkpointing; the fixpoint-iteration variant with
    localCheckpoint-per-round is ext_dedup_cluster (llm_pipeline.py).

    Accepted cross-engine risk (same class as functions/determinism.py):
    the double->decimal(28,12) conversion rounds HALF_UP on Spark's
    shortest-repr digits but half-even on DuckDB's exact binary expansion,
    so a contribution whose decimal expansion lands exactly on a scale-12
    half-boundary could round apart. r/outdeg is a quotient of IEEE
    doubles — not decimal-born — so such a landing requires ~2^-40-scale
    coincidence; none exist in any fixture (hypothesis probed the
    conversion corner in tests/test_properties.py). If a regeneration ever
    trips it, migrate both sides to the tie-free floor quantization
    (CAST(floor(x*1e12 + 0.5) AS DECIMAL(38,0)) summed, then /1e12) —
    flagged as the standing migration in determinism.py."""
    from ..session import scoped_persist

    ev = load(spark, sf_dir, "events")
    e0 = ev.select(
        F.concat(F.lit("u:"), F.col("user_id").cast("string")).alias("u"),
        F.concat(F.lit("t:"), F.col("event_type")).alias("t"),
    ).distinct()
    # repartition after the union: unioning two 32-partition frames yields
    # 64 near-empty partitions that every subsequent per-round stage
    # inherits (pure scheduler overhead on a graph this dense). The width
    # is sized to the MEASURED edge count (the ext_dedup_cluster idiom,
    # round 5): iterating a small graph at corpus width pays a fixed
    # per-task scheduling cost per round (A/B at sf0.1: width 32 = 1.68 s,
    # width 1 = 1.07 s), while a 100 TB graph still fans out to thousands
    # of partitions. The sizing count is one action over the cached
    # pre-mirror frame; repartitioning on src pre-aligns the per-round
    # join's probe side either way.
    half = scoped_persist(
        e0.select(F.col("u").alias("src"), F.col("t").alias("dst"))
    )
    width = max(1, min(int(2 * half.count() // 500_000) + 1, 4096))
    edges = scoped_persist(
        half.unionAll(
            half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).repartition(width, "src")
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    n = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"),
        (F.lit(1.0) / F.col("n_nodes")).alias("r"),
    )
    src_side = edges.join(deg, "src")  # (src, dst, outdeg)
    for _ in range(_ROUNDS):
        contrib = src_side.join(
            ranks, src_side.src == ranks.node
        ).select(
            "dst",
            (F.col("r") / F.col("outdeg")).cast("decimal(28,12)").alias("c"),
        )
        ranks = (
            contrib.groupBy("dst")
            .agg(F.sum("c").cast("double").alias("mass"))
            .crossJoin(F.broadcast(n))
            .select(
                F.col("dst").alias("node"),
                (0.15 / F.col("n_nodes") + 0.85 * F.col("mass")).alias("r"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank"))


# --- ext_triangle_count -----------------------------------------------------

#: Co-purchase graph support cut: only parts with p_size <= this value
#: join the graph (declared, like ext_neardup_edit_distance's block cap) —
#: it bounds edge volume at ~(1/4)^2 of the full pair table while leaving
#: a connected, triangle-bearing graph at every sf.
_TRI_MAX_SIZE = 12

_TRI_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size <= {_TRI_MAX_SIZE}
),
pairs AS (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
deg AS (
  SELECT node, COUNT(*) AS d
  FROM (SELECT a AS node FROM pairs UNION ALL SELECT b FROM pairs)
  GROUP BY node
),
o AS MATERIALIZED (
  SELECT CASE WHEN (da.d, p.a) < (db.d, p.b) THEN p.a ELSE p.b END AS src,
         CASE WHEN (da.d, p.a) < (db.d, p.b) THEN p.b ELSE p.a END AS dst,
         CASE WHEN (da.d, p.a) < (db.d, p.b) THEN db.d ELSE da.d END AS ddst
  FROM pairs p
  JOIN deg da ON da.node = p.a
  JOIN deg db ON db.node = p.b
),
w AS (
  SELECT e1.dst AS b, e2.dst AS c
  FROM o e1 JOIN o e2 ON e1.src = e2.src
  WHERE (e1.ddst, e1.dst) < (e2.ddst, e2.dst)
),
wj AS (
  SELECT w.b, w.c,
         EXISTS (SELECT 1 FROM o WHERE o.src = w.b AND o.dst = w.c) AS hit
  FROM w
)
SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
       (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*) FROM wj) AS n_wedges,
       (SELECT CAST(COALESCE(SUM(CASE WHEN hit THEN 1 ELSE 0 END), 0)
                    AS BIGINT) FROM wj) AS n_triangles
"""


@query("ext_triangle_count", oracle=_TRI_ORACLE, tier=3)
def ext_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the part co-purchase graph (parts bought together
    in one order, support-cut to p_size <= 12) — the clustering-coefficient
    / community-density primitive, distributed MapReduce-style per
    Suri-Vassilvitskii: orient every edge from its lower-(degree, id)
    endpoint to the higher, generate wedges only among each node's
    out-neighbors, and check wedge closure against the oriented edge set.
    Degree orientation is THE scale trick: out-degree is bounded by
    O(sqrt(|E|)) on any graph, so wedge volume is sum-of-squares of SMALL
    out-degrees instead of the unbounded hub blowup id-ordering suffers
    (a celebrity node with 1e6 neighbors generates 5e11 id-ordered wedges
    but only what its sqrt-bounded out-set allows here).

    Shape: pairs generate MAP-SIDE from each order's sorted part array
    (indexed-lambda combinatorics, no position self-join — the
    ext_cooccurrence_pmi pattern), dedup in one shuffle; degrees and
    orientation ride broadcast joins (node table << edge table); the
    wedge join is equi-keyed on the shared endpoint (hash join, never
    BNLJ) and closure is ONE left join probed per wedge — wedge count
    and triangle count book in the same aggregate pass. The four census
    scalars fold via 1-row crossJoins (EXPECTED_FLAGS)."""
    from ..session import scoped_persist

    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(
        F.col("p_size") <= _TRI_MAX_SIZE
    ).select("p_partkey")
    arrs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    edges = scoped_persist(
        arrs.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        # the edge table is manifest-scale next to lineitem (67k rows at
        # sf0.1); 8 cached partitions keep every downstream stage at real
        # work per task instead of 32/64-way scheduling overhead
        # (measured: full query 3.11 -> 2.1 s min-of-4 with the width
        # pins below). At 100 TB size this by |E|/64MB instead.
        .coalesce(8)
    )
    deg = edges.select(F.col("a").alias("node")).unionAll(
        edges.select(F.col("b").alias("node"))
    ).groupBy("node").agg(F.count(F.lit(1)).alias("d"))
    da, db = deg.alias("da"), deg.alias("db")
    lo_first = (F.col("da.d") < F.col("db.d")) | (
        (F.col("da.d") == F.col("db.d")) & (F.col("a") < F.col("b"))
    )
    o = scoped_persist(
        edges.join(F.broadcast(da), F.col("a") == F.col("da.node"))
        .join(F.broadcast(db), F.col("b") == F.col("db.node"))
        .select(
            F.when(lo_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(lo_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(lo_first, F.col("db.d")).otherwise(F.col("da.d")).alias(
                "ddst"
            ),
        )
        # cache hash-partitioned ON the wedge-join key: both self-join
        # sides read the cache's partitioning and the wedge join runs
        # with ZERO additional exchange
        .repartition(8, "src")
    )
    e1, e2 = o.alias("e1"), o.alias("e2")
    w = e1.join(e2, F.col("e1.src") == F.col("e2.src")).where(
        (F.col("e1.ddst") < F.col("e2.ddst"))
        | (
            (F.col("e1.ddst") == F.col("e2.ddst"))
            & (F.col("e1.dst") < F.col("e2.dst"))
        )
    ).select(F.col("e1.dst").alias("b"), F.col("e2.dst").alias("c"))
    closure = o.select(
        F.col("src").alias("b"), F.col("dst").alias("c"), F.lit(1).alias("hit")
    )
    wj = w.join(closure, ["b", "c"], "left").agg(
        F.count(F.lit(1)).alias("n_wedges"),
        F.coalesce(F.sum("hit"), F.lit(0)).cast("long").alias("n_triangles"),
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    n_edges = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        n_nodes.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(wj))
        .select("n_nodes", "n_edges", "n_wedges", "n_triangles")
    )


# --- ext_jaccard_neighbors ----------------------------------------------------

#: Jaccard acceptance threshold as an exact integer cross-multiplication
#: (jac >= _JN_NUM/_JN_DEN): membership never flips on a float ulp — the
#: ext_assoc_rules support-floor discipline. 3/25 = 0.12 keeps a few
#: hundred pairs at sf0.01 on a graph whose max Jaccard is ~0.19.
_JN_NUM = 3
_JN_DEN = 25

_JN_ORACLE = f"""
WITH li AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_size <= {_TRI_MAX_SIZE}
),
pairs AS (
  SELECT DISTINCT a.pk AS a, b.pk AS b
  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
),
adj AS (
  SELECT a AS node, b AS nb FROM pairs
  UNION ALL SELECT b, a FROM pairs
),
deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY node),
cn AS (
  SELECT x.nb AS a, y.nb AS b
  FROM adj x JOIN adj y ON x.node = y.node AND x.nb < y.nb
),
cpair AS (
  SELECT a, b, CAST(COUNT(*) AS BIGINT) AS common_cnt
  FROM cn GROUP BY a, b
),
j AS (
  SELECT c.a, c.b, c.common_cnt, da.d AS deg_a, db.d AS deg_b
  FROM cpair c
  JOIN deg da ON da.node = c.a
  JOIN deg db ON db.node = c.b
  WHERE {_JN_DEN} * c.common_cnt
        >= {_JN_NUM} * (da.d + db.d - c.common_cnt)
)
SELECT a, b, common_cnt, deg_a, deg_b,
       CAST(common_cnt AS DOUBLE)
         / CAST(deg_a + deg_b - common_cnt AS DOUBLE) AS jaccard,
       CASE WHEN EXISTS (SELECT 1 FROM pairs p
                         WHERE p.a = j.a AND p.b = j.b)
            THEN 1 ELSE 0 END AS is_direct
FROM j
"""


@query("ext_jaccard_neighbors", oracle=_JN_ORACLE, tier=3)
def ext_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighbor-set Jaccard similarity over the part co-purchase graph —
    the classic link-prediction / entity-similarity primitive (two parts
    are similar when their co-purchase NEIGHBORHOODS overlap, whether or
    not they were ever bought together themselves): for every node pair
    sharing at least one neighbor, |N(a) ∩ N(b)| / |N(a) ∪ N(b)|,
    accepted by the exact integer predicate {_JN_DEN}·common >=
    {_JN_NUM}·(deg_a + deg_b − common) so membership can never flip on a
    float ulp. ``is_direct`` marks pairs that are also edges — the
    is_direct=0 survivors are the operator's payoff: strong similarity
    the raw edge set does not record.

    Shape: the same degree-bounded graph ext_triangle_count censuses
    (p_size <= {_TRI_MAX_SIZE} support cut); wedge pairs generate via an
    EQUI self-join of the persisted adjacency on the shared node — an
    A/B against the minhash indexed-lambda array combinatorics measured
    the join 2.4x FASTER here (1.84 vs 4.34 s min-of-4 at sf0.1):
    higher-order lambdas evaluate interpreted, and allocating 2M wedge
    structs per pass costs more than one codegen hash join on a 134k-row
    cached frame — the combinatorics pattern wins when pairs-per-row are
    few and rows are many (shingle tables), not on a dense small node
    table. Common counts aggregate keyed on the pair, degrees ride a
    broadcast node table, and the direct-edge flag is one broadcast left
    join. At 100 TB the wedge volume is bounded by the same
    sum-of-squared-degrees argument as the triangle census."""
    from ..session import scoped_persist

    li = load(spark, sf_dir, "lineitem")
    p = (
        load(spark, sf_dir, "part")
        .filter(F.col("p_size") <= _TRI_MAX_SIZE)
        .select("p_partkey")
    )
    arrs = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    edges = scoped_persist(
        arrs.select(
            F.explode(
                F.expr(
                    "flatten(transform(ps, (x, i) -> "
                    "transform(slice(ps, i + 2, size(ps)), "
                    "y -> struct(x AS a, y AS b))))"
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
        .coalesce(8)
    )
    adj = scoped_persist(
        edges.select(F.col("a").alias("node"), F.col("b").alias("nb"))
        .unionAll(
            edges.select(F.col("b").alias("node"), F.col("a").alias("nb"))
        )
        # co-partition on the wedge key once; both the degree count and
        # the self-join reuse the cached partitioning (the triangle-census
        # cache-layout win)
        .repartition(8, "node")
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    x = adj.select("node", F.col("nb").alias("a"))
    y = adj.select("node", F.col("nb").alias("b"))
    cpair = (
        x.join(y, "node")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common_cnt"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("d").alias("deg_b"))
    j = (
        cpair.join(F.broadcast(da), "a")
        .join(F.broadcast(db), "b")
        .filter(
            F.lit(_JN_DEN) * F.col("common_cnt")
            >= F.lit(_JN_NUM)
            * (F.col("deg_a") + F.col("deg_b") - F.col("common_cnt"))
        )
    )
    direct = edges.select("a", "b", F.lit(1).alias("is_direct"))
    return (
        j.join(F.broadcast(direct), ["a", "b"], "left")
        .select(
            "a",
            "b",
            "common_cnt",
            "deg_a",
            "deg_b",
            F.expr(
                "CAST(common_cnt AS DOUBLE)"
                " / CAST(deg_a + deg_b - common_cnt AS DOUBLE)"
            ).alias("jaccard"),
            F.coalesce("is_direct", F.lit(0)).alias("is_direct"),
        )
    )


# --- ext_hits_lite --------------------------------------------------------------

_HITS_ORACLE = """
WITH edges AS (
  SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
a1 AS (
  SELECT part, CAST(COUNT(*) AS BIGINT) AS s FROM edges GROUP BY part
),
h1 AS (
  SELECT e.cust, CAST(SUM(a1.s) AS BIGINT) AS s
  FROM edges e JOIN a1 ON a1.part = e.part GROUP BY e.cust
),
a2 AS (
  SELECT e.part, CAST(SUM(h1.s) AS BIGINT) AS s
  FROM edges e JOIN h1 ON h1.cust = e.cust GROUP BY e.part
),
ta AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM a2),
th AS (SELECT CAST(SUM(s) AS BIGINT) AS t FROM h1),
top_a AS (
  SELECT 'authority' AS kind, part AS node_id, s,
         CAST(s AS DOUBLE) / CAST(ta.t AS DOUBLE) AS norm_score
  FROM a2 CROSS JOIN ta ORDER BY s DESC, part ASC LIMIT 20
),
top_h AS (
  SELECT 'hub' AS kind, cust AS node_id, s,
         CAST(s AS DOUBLE) / CAST(th.t AS DOUBLE) AS norm_score
  FROM h1 CROSS JOIN th ORDER BY s DESC, cust ASC LIMIT 20
)
SELECT * FROM top_a UNION ALL SELECT * FROM top_h
"""


@query("ext_hits_lite", oracle=_HITS_ORACLE, tier=3)
def ext_hits_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS (hubs-and-authorities, Kleinberg) over the bipartite
    customer <-> part purchase graph: 1.5 mutual-reinforcement rounds —
    authority(part) = purchase degree, hub(cust) = sum of its parts'
    authorities, authority(part) = sum of its buyers' hubs — then the
    top-20 of each side with L1-normalized scores. The
    ext_pagerank_lite companion for BIPARTITE influence ("which parts
    anchor the catalog, which customers span it"); PageRank needs the
    symmetrized walk, HITS reads the two roles directly.

    Exactness: deliberately INTEGER HITS — with h0 = 1 every round is a
    pure BIGINT degree/sum cascade (scores stay exact; growth is bounded
    by degree^rounds, inside int64 far past this fixture), and
    normalization is ONE shared-text division per row at the very end.
    No per-round float normalization to drift (the reason real HITS
    needs it — avoiding overflow across many rounds — does not bind at
    2 rounds).

    Shape: one distinct on (cust, part) — the only data-sized exchange;
    each round is an equi-join on the persisted edge frame + a keyed
    aggregate (full map-side combine); top-20s are TakeOrdered folds;
    the two 1-row L1 totals broadcast back (EXPECTED_FLAGS)."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = scoped_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_partkey").alias("part"),
        )
        .distinct()
    )
    a1 = edges.groupBy("part").agg(F.count(F.lit(1)).alias("s"))
    # UNHINTED reinforcement joins (r14, VERDICT r13 #3): the r13
    # SHUFFLE_HASH hints were re-adjudicated and REVERTED. The r13
    # per-round microbenchmark (0.66 SHJ vs 0.78 SMJ) did not survive
    # whole-key measurement: the driver's own bench showed the hinted
    # form regressing (3.33 -> 4.61 s at 8c), the r14 32c bench read
    # 3.38 hinted, and four r14 gated A/B sessions put unhinted at
    # min 2.39/2.76 vs hinted 3.81/2.56 — noisy, but nothing
    # reproduces a hint win at whole-key grain. Unhinted also leaves
    # AQE free to pick the strategy (incl. broadcast conversion) from
    # runtime sizes at any scale.
    h1 = scoped_persist(
        edges.join(a1, "part")
        .groupBy("cust")
        .agg(F.sum("s").alias("s"))
    )
    a2 = edges.join(h1, "cust").groupBy("part").agg(
        F.sum("s").alias("s")
    )
    ta = a2.agg(F.sum("s").alias("t"))
    th = h1.agg(F.sum("s").alias("t"))
    top_a = (
        a2.orderBy(F.desc("s"), F.asc("part"))
        .limit(20)
        .crossJoin(F.broadcast(ta))
        .select(
            F.lit("authority").alias("kind"),
            F.col("part").alias("node_id"),
            "s",
            F.expr("CAST(s AS DOUBLE) / CAST(t AS DOUBLE)").alias(
                "norm_score"
            ),
        )
    )
    top_h = (
        h1.orderBy(F.desc("s"), F.asc("cust"))
        .limit(20)
        .crossJoin(F.broadcast(th))
        .select(
            F.lit("hub").alias("kind"),
            F.col("cust").alias("node_id"),
            "s",
            F.expr("CAST(s AS DOUBLE) / CAST(t AS DOUBLE)").alias(
                "norm_score"
            ),
        )
    )
    return top_a.unionAll(top_h)
