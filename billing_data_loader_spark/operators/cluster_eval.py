"""Clustering-adjacent curation operators (SURVEY.md §2.10 extensions,
round 11 continuation): greedy k-center coreset selection and cluster
purity evaluation — the two steps that sit on either side of
``ext_kmeans_lite`` in a training-data curation loop (pick a maximally
diverse subset; audit how well an unsupervised clustering tracks the
labels).

Scale stance: k-center materializes ONE min-distance column per round
(the k-center|| shape — every round is a map-side distance against one
broadcast center plus a top-1 fold; the corpus never self-joins), and
purity runs entirely on the k x labels assignment-count frame after one
corpus-sized aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import scoped_persist
from ..tables import load
from .ann import (
    _as_double,
    _centroid_matrix,
    _model_scan,
    _np_fold_sqds,
    _sq_dist,
)

# --- ext_kcenter_coreset -------------------------------------------------------

#: Coreset size: the seed (vec_id 0) plus 4 greedy farthest-point rounds.
_KC_ROUNDS = 5

#: DuckDB squared distance between two 64-dim list columns, quantized to
#: 9dp like the ext_kmeans_lite oracle (DuckDB's list_aggregate is not a
#: plain left fold; round-9 washes the last-bit noise on both sides).
_KC_DIST = (
    "round(list_aggregate(list_transform(range(1, 65),"
    " i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])), 'sum'), 9)"
)


def _kc_oracle() -> str:
    ctes = [
        "v AS (SELECT vec_id,"
        " list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve"
        " FROM embeddings)",
        "m1 AS MATERIALIZED (SELECT v.vec_id, v.ve, "
        + _KC_DIST.format(a="v.ve", b="c.cv")
        + " AS mind FROM v CROSS JOIN"
        " (SELECT ve AS cv FROM v WHERE vec_id = 0) c)",
    ]
    sel = [
        "SELECT CAST(1 AS BIGINT) AS sel_round, vec_id,"
        " CAST(0 AS DOUBLE) AS radius_sq FROM v WHERE vec_id = 0"
    ]
    for r in range(2, _KC_ROUNDS + 1):
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT vec_id, ve, mind FROM m{r - 1}"
            " ORDER BY mind DESC, vec_id LIMIT 1)"
        )
        sel.append(
            f"SELECT CAST({r} AS BIGINT), vec_id, mind FROM p{r}"
        )
        if r < _KC_ROUNDS:
            ctes.append(
                f"m{r} AS MATERIALIZED (SELECT a.vec_id, a.ve,"
                " least(a.mind, "
                + _KC_DIST.format(a="a.ve", b="p.ve")
                + f") AS mind FROM m{r - 1} a CROSS JOIN p{r} p)"
            )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(sel)


_KCENTER_ORACLE = _kc_oracle()


@query("ext_kcenter_coreset", oracle=_KCENTER_ORACLE, tier=3)
def ext_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point-first) coreset selection over the
    embedding corpus — the diversity-maximizing subset picker behind
    coreset data pruning and k-center|| seeding (Gonzalez's 2-approx of
    the k-center objective): seed at vec_id 0, then each round selects
    the point FARTHEST from every already-chosen center. Output: the
    selection order, the chosen vec_id, and the covering radius (its
    min squared distance at selection time — the monotone non-increasing
    sequence that IS the k-center objective curve).

    Shape: each round is one map-side distance against ONE broadcast
    center folded into a running min-distance column (`least`), plus a
    top-1 TakeOrdered fold — the corpus never self-joins and never
    reshuffles; at 100 TB this is exactly k-center||'s per-round cost
    (one linear pass, one scalar reduce). Each round's frame is
    persisted (scoped) because it is referenced twice — by its argmax
    fold and by the next round's projection — the round-11 RP-tree
    O(2^level) re-execution lesson. Distances quantize to 9dp on both
    sides (the ext_kmeans_lite fold-noise stance) and ties break to the
    lowest vec_id; the numpy greedy replay is pinned in
    tests/test_round11b.py."""
    v = scoped_persist(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", _as_double("embedding").alias("ve")
        )
    )
    seed = v.filter(F.col("vec_id") == 0)
    picks = [
        seed.select(
            F.lit(1).cast("long").alias("sel_round"),
            "vec_id",
            F.lit(0.0).alias("radius_sq"),
        )
    ]
    cur = scoped_persist(
        v.crossJoin(F.broadcast(seed.select(F.col("ve").alias("cv")))).select(
            "vec_id",
            "ve",
            F.round(_sq_dist(F.col("ve"), F.col("cv")), 9).alias("mind"),
        )
    )
    for r in range(2, _KC_ROUNDS + 1):
        pick = scoped_persist(
            cur.orderBy(F.desc("mind"), F.asc("vec_id")).limit(1)
        )
        picks.append(
            pick.select(
                F.lit(r).cast("long").alias("sel_round"),
                "vec_id",
                F.col("mind").alias("radius_sq"),
            )
        )
        if r < _KC_ROUNDS:
            cur = scoped_persist(
                cur.crossJoin(
                    F.broadcast(pick.select(F.col("ve").alias("cv")))
                ).select(
                    "vec_id",
                    "ve",
                    F.least(
                        F.col("mind"),
                        F.round(_sq_dist(F.col("ve"), F.col("cv")), 9),
                    ).alias("mind"),
                )
            )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionAll(p)
    return out


# --- ext_cluster_purity --------------------------------------------------------

# Purity audit of the ext_kmeans_lite clustering against the labeled
# fixture: the oracle re-derives the full 2-round Lloyd assignment as a
# CTE (the kmeans oracle verbatim) and evaluates the same contingency
# rollup, so the purity numbers bind end to end.


def _purity_oracle() -> str:
    from .ann import _KMEANS_ORACLE

    return f"""
WITH km AS MATERIALIZED ({_KMEANS_ORACLE}),
a AS (
  SELECT km.cluster_id, e.label
  FROM km JOIN embeddings e ON km.vec_id = e.vec_id
),
cl AS (
  SELECT cluster_id, label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM a GROUP BY cluster_id, label
),
maj AS (
  SELECT cluster_id, label AS majority_label, cnt AS majority_cnt
  FROM (
    SELECT cluster_id, label, cnt,
           ROW_NUMBER() OVER (PARTITION BY cluster_id
                              ORDER BY cnt DESC, label) AS rn
    FROM cl
  ) WHERE rn = 1
),
sz AS (
  SELECT cluster_id, CAST(SUM(cnt) AS BIGINT) AS size_,
         CAST(COUNT(*) AS BIGINT) AS n_labels
  FROM cl GROUP BY cluster_id
)
SELECT sz.cluster_id, sz.size_ AS cluster_size, sz.n_labels,
       CAST(maj.majority_label AS BIGINT) AS majority_label,
       maj.majority_cnt,
       CAST(maj.majority_cnt AS DOUBLE) / CAST(sz.size_ AS DOUBLE)
         AS purity
FROM sz JOIN maj ON sz.cluster_id = maj.cluster_id
"""


_PURITY_ORACLE = _purity_oracle()


@query("ext_cluster_purity", oracle=_PURITY_ORACLE, tier=3)
def ext_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-purity audit of the ext_kmeans_lite clustering against
    the labeled corpus — the evaluation loop of unsupervised curation
    (SemDeDup-style cluster pruning, mix balancing): per cluster its
    size, how many distinct labels landed in it, the majority label with
    its count (ties break to the lowest label), and purity =
    majority / size. Low purity flags clusters whose members a
    label-aware sampler should not treat as interchangeable.

    Shape: the clustering itself is ext_kmeans_lite's plan (broadcast
    centroids, map-side argmin — invoked as a helper, its own key pins
    the assignment); purity adds ONE (cluster, label) counting aggregate
    over the assignment (the only corpus-sized exchange, keyed on the
    k x labels contingency domain) and runs the majority window and
    size rollup on that model-sized frame. Counts are exact; purity is
    one shared-text division."""
    from .ann import ext_kmeans_lite

    lab = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    a = (
        ext_kmeans_lite(spark, sf_dir)
        .select("vec_id", "cluster_id")
        .join(lab, "vec_id")
    )
    cl = a.groupBy("cluster_id", "label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("cnt"), F.asc("label")
    )
    maj = (
        cl.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("label").cast("long").alias("majority_label"),
            F.col("cnt").alias("majority_cnt"),
        )
    )
    sz = cl.groupBy("cluster_id").agg(
        F.sum("cnt").alias("cluster_size"),
        F.count(F.lit(1)).alias("n_labels"),
    )
    return sz.join(maj, "cluster_id").select(
        "cluster_id",
        "cluster_size",
        "n_labels",
        "majority_label",
        "majority_cnt",
        F.expr(
            "CAST(majority_cnt AS DOUBLE) / CAST(cluster_size AS DOUBLE)"
        ).alias("purity"),
    )


# --- ext_knn_label_spread -----------------------------------------------------

# Confident-learning label-noise screen over the exact kNN graph: a point
# whose neighborhood unanimously disagrees with its own label is the
# canonical mislabeling suspect (Northcutt's confident-learning /
# kNN-agreement family). On the ISOTROPIC fixture the labels are
# independent of geometry, so most points are suspects — the fixture
# exercises the algebra, not a claim about the data (the
# ext_ann_rptree recall stance).


def _spread_oracle() -> str:
    from .ann import _KNNG_ORACLE

    return f"""
WITH g AS MATERIALIZED ({_KNNG_ORACLE}),
j AS (
  SELECT g.vec_id, e.label AS own_label,
         n.label AS nbr_label, g.same_label
  FROM g
  JOIN embeddings e ON g.vec_id = e.vec_id
  JOIN embeddings n ON g.nbr_id = n.vec_id
),
votes AS (
  SELECT vec_id, own_label, nbr_label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM j GROUP BY vec_id, own_label, nbr_label
),
maj AS (
  SELECT vec_id, nbr_label AS nbr_majority_label, cnt AS majority_cnt
  FROM (
    SELECT vec_id, nbr_label, cnt,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY cnt DESC, nbr_label) AS rn
    FROM votes
  ) WHERE rn = 1
),
agg AS (
  SELECT vec_id, own_label,
         CAST(SUM(same_label) AS BIGINT) AS n_agree,
         CAST(COUNT(*) AS BIGINT) AS n_nbrs
  FROM j GROUP BY vec_id, own_label
)
SELECT agg.vec_id,
       CAST(agg.own_label AS BIGINT) AS own_label,
       agg.n_nbrs, agg.n_agree,
       CAST(maj.nbr_majority_label AS BIGINT) AS nbr_majority_label,
       maj.majority_cnt,
       CASE WHEN agg.n_agree = 0 THEN 1 ELSE 0 END AS is_suspect
FROM agg JOIN maj ON agg.vec_id = maj.vec_id
"""


_SPREAD_ORACLE = _spread_oracle()


@query("ext_knn_label_spread", oracle=_SPREAD_ORACLE, tier=3)
def ext_knn_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN label-agreement screen (the confident-learning mislabeling
    detector): for every point, how many of its 3 exact nearest
    neighbors share its label, the neighborhood's majority label (ties
    to the lowest label id), and the suspect flag — a point whose
    neighborhood UNANIMOUSLY disagrees is the canonical label-noise
    candidate a curation pipeline routes to review. Composes
    ext_knn_graph (invoked as a helper; its own key pins the graph, and
    the oracle re-derives the full exact-kNN CTE so the screen binds
    end to end) the way ext_cluster_purity composes ext_kmeans_lite.
    On the isotropic fixture labels are independent of geometry, so
    most points flag — the fixture exercises the algebra (the
    ext_ann_rptree recall stance); on a real embedding space the
    suspects ARE the review queue.

    Shape: the graph build dominates (136 blocked BLAS tiles — see
    ext_knn_graph); the screen itself adds one broadcast label join
    onto the 3n edge frame, one (vec, nbr_label) vote aggregate keyed
    on the point, and the majority window partitioned per point. All
    counts exact; no doubles anywhere."""
    from .ann import ext_knn_graph

    lab = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    g = ext_knn_graph(spark, sf_dir).select("vec_id", "nbr_id", "same_label")
    j = (
        g.join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("o_id"),
                    F.col("label").alias("own_label"),
                )
            ),
            F.col("vec_id") == F.col("o_id"),
        )
        .join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("n_id"),
                    F.col("label").alias("nbr_label"),
                )
            ),
            F.col("nbr_id") == F.col("n_id"),
        )
        .select("vec_id", "own_label", "nbr_label", "same_label")
    )
    votes = j.groupBy("vec_id", "own_label", "nbr_label").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cnt"), F.asc("nbr_label"))
    maj = (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("vec_id").alias("m_id"),
            F.col("nbr_label").cast("long").alias("nbr_majority_label"),
            F.col("cnt").alias("majority_cnt"),
        )
    )
    agg = j.groupBy("vec_id", "own_label").agg(
        F.sum("same_label").cast("long").alias("n_agree"),
        F.count(F.lit(1)).alias("n_nbrs"),
    )
    return agg.join(maj, agg.vec_id == maj.m_id).select(
        "vec_id",
        F.col("own_label").cast("long").alias("own_label"),
        "n_nbrs",
        "n_agree",
        "nbr_majority_label",
        "majority_cnt",
        F.when(F.col("n_agree") == 0, 1).otherwise(0).alias("is_suspect"),
    )


# --- ext_silhouette_simplified --------------------------------------------------

#: Simplified (centroid-based, "medoid-free") silhouette: a(i) = squared
#: distance to the OWN centroid, b(i) = min squared distance to any other
#: centroid, s(i) = (b - a) / max(a, b). The O(n*k) approximation of the
#: O(n^2) exact silhouette — the only form that exists at corpus scale.


def _silhouette_oracle() -> str:
    from ..functions.determinism import o_dsum_expr
    from .ann import _KMEANS_ORACLE

    mean9 = o_dsum_expr("val", 9)
    return f"""
WITH km AS MATERIALIZED ({_KMEANS_ORACLE}),
v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS ve
  FROM embeddings
),
a AS (
  SELECT km.vec_id, km.cluster_id, v.ve FROM km JOIN v USING (vec_id)
),
md AS (
  SELECT cluster_id, dim, ({mean9} / COUNT(val)) AS m
  FROM (
    SELECT cluster_id, unnest(range(1, 65)) AS dim, unnest(ve) AS val
    FROM a
  ) GROUP BY cluster_id, dim
),
cents AS (
  SELECT cluster_id AS cid, list(m ORDER BY dim) AS cv
  FROM md GROUP BY cluster_id
),
pc AS (
  SELECT a.vec_id, a.cluster_id, c.cid,
         round(list_aggregate(list_transform(range(1, 65),
           i -> (a.ve[i] - c.cv[i]) * (a.ve[i] - c.cv[i])), 'sum'), 9)
           AS dist
  FROM a CROSS JOIN cents c
),
pp AS (
  SELECT vec_id, ANY_VALUE(cluster_id) AS cluster_id,
         MAX(CASE WHEN cid = cluster_id THEN dist END) AS a_dist,
         MIN(CASE WHEN cid <> cluster_id THEN dist END) AS b_dist
  FROM pc GROUP BY vec_id
),
s AS (
  SELECT vec_id, cluster_id, a_dist, b_dist,
         CASE WHEN greatest(a_dist, b_dist) = 0 THEN CAST(0.0 AS DOUBLE)
              ELSE (b_dist - a_dist) / greatest(a_dist, b_dist) END AS sil
  FROM pp
)
SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(SUM(CAST(floor(sil * 1e9 + CAST(0.5 AS DOUBLE)) AS BIGINT))
            AS DOUBLE) / (COUNT(*) * 1e9) AS mean_silhouette,
       MIN(sil) AS min_silhouette,
       MAX(sil) AS max_silhouette
FROM s GROUP BY cluster_id
"""


_SILHOUETTE_ORACLE = _silhouette_oracle()


@query("ext_silhouette_simplified", oracle=_SILHOUETTE_ORACLE, tier=3)
def ext_silhouette_simplified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette audit of the ext_kmeans_lite clustering:
    per cluster the point count, mean/min/max of
    s(i) = (b - a) / max(a, b) with a = squared distance to the own
    centroid and b = the nearest OTHER centroid — the geometric
    cluster-quality read beside ext_cluster_purity's label-based one
    (purity needs labels; silhouette does not, which is what an
    unsupervised SemDeDup-style pruning loop actually has). Centroid-
    based (O(n*k)) rather than pairwise (O(n^2)) — the only silhouette
    that exists at corpus scale. On the isotropic fixture means hover
    near 0 — the fixture exercises the algebra (the ext_ann_rptree
    recall stance).

    Exactness: the clustering is ext_kmeans_lite's (its own key pins the
    assignment; the oracle re-derives its CTE verbatim — the
    ext_cluster_purity binding stance); centroid means are
    order-insensitive davg folds at scale 9; each point-centroid
    distance rounds to 9dp to wash the 64-term fold's last-bit noise
    (the kmeans stance); per-point silhouettes floor-quantize to the 1e9
    grid before the per-cluster mean.

    Shape: assignment and centroid derivation are keyed aggregates
    (cluster x 64 key space); the distance pass is ONE crossJoin against
    the broadcast 8-row centroid frame (map-side fold per point); the
    per-point and per-cluster reductions key on vec_id / cluster_id —
    nothing global but the kmeans helper's own 1-row folds
    (EXPECTED_FLAGS, inherited).

    r14 Arrow port (guide §4.2): the per-point k x 64 distance folds run
    vectorized in numpy per Arrow batch (bit-identical left folds,
    UNROUNDED); ROUND(9) and the a/b reads stay JVM-side over the k-entry
    array. Centroids are the SAME 9dp davg means as before, collected as
    k x 64 model-sized rows (§3.2 budget) and closed over — which also
    deletes the old 8x crossJoin row expansion AND the groupBy(vec_id)
    re-shuffle of the expanded frame: a_dist is element_at(own cluster),
    b_dist is array_min over the others, both on the same row."""
    from ..functions.determinism import davg
    from .ann import ext_kmeans_lite

    v = load(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double("embedding").alias("ve")
    )
    a = scoped_persist(
        ext_kmeans_lite(spark, sf_dir)
        .select("vec_id", "cluster_id")
        .join(v, "vec_id")
    )
    md_rows = (
        a.select("cluster_id", F.posexplode("ve").alias("idx", "val"))
        .groupBy("cluster_id", "idx")
        .agg(davg("val", "m", 9))
        .collect()  # k x dims rows — model-sized
    )
    cids, cmat = _centroid_matrix(md_rows, "cluster_id", "m")
    pp = _model_scan(
        a.select("vec_id", "cluster_id", "ve"),
        "ve",
        lambda pdf, x_mat: {
            "vec_id": pdf["vec_id"].to_numpy(),
            "cluster_id": pdf["cluster_id"].to_numpy(),
            "dists": list(_np_fold_sqds(x_mat, cmat)),
        },
        "vec_id bigint, cluster_id bigint, dists array<double>",
    )
    cid_arr = F.array(*[F.lit(int(c)).cast("bigint") for c in cids])
    rounded = F.transform("dists", lambda d: F.round(d, 9))
    pp = pp.select(
        "cluster_id",
        F.element_at(
            rounded,
            F.array_position(cid_arr, F.col("cluster_id")).cast("int"),
        ).alias("a_dist"),
        F.array_min(
            F.zip_with(
                rounded,
                cid_arr,
                lambda d, c: F.when(c != F.col("cluster_id"), d),
            )
        ).alias("b_dist"),
    )
    s = pp.select(
        "cluster_id",
        F.expr(
            "CASE WHEN greatest(a_dist, b_dist) = 0"
            " THEN CAST(0.0 AS DOUBLE)"
            " ELSE (b_dist - a_dist) / greatest(a_dist, b_dist) END"
        ).alias("sil"),
    )
    return s.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.expr(
            "CAST(SUM(CAST(floor(sil * 1e9 + CAST(0.5 AS DOUBLE))"
            " AS BIGINT)) AS DOUBLE) / (COUNT(*) * 1e9)"
        ).alias("mean_silhouette"),
        F.min("sil").alias("min_silhouette"),
        F.max("sil").alias("max_silhouette"),
    )


# --- ext_label_noise_knn --------------------------------------------------------

def _label_noise_oracle() -> str:
    from .ann import _KNNG_ORACLE

    return f"""
WITH knng AS MATERIALIZED ({_KNNG_ORACLE}),
agg AS (
  SELECT vec_id,
         CAST(COUNT(*) AS BIGINT) AS n_nbrs,
         CAST(SUM(same_label) AS BIGINT) AS n_same
  FROM knng GROUP BY vec_id
)
SELECT a.vec_id, CAST(e.label AS BIGINT) AS label, a.n_nbrs, a.n_same,
       CAST(a.n_same AS DOUBLE) / CAST(a.n_nbrs AS DOUBLE)
         AS same_frac,
       (2 * a.n_same < a.n_nbrs) AS noise_suspect
FROM agg a JOIN embeddings e ON a.vec_id = e.vec_id
"""


_LABEL_NOISE_ORACLE = _label_noise_oracle()


@query("ext_label_noise_knn", oracle=_LABEL_NOISE_ORACLE, tier=3)
def ext_label_noise_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise screening by neighborhood disagreement (the
    confident-learning / Cleanlab-style heuristic, distributed): a
    vector whose k=3 nearest neighbors MOSTLY carry a different label
    is a relabeling candidate — mislabeled training points sit inside
    the wrong class's neighborhood, and pruning or re-weighting them
    is a standard curation pass before fine-tuning on labeled data.
    Emits every vector's neighbor-agreement fraction and the
    majority-disagreement flag (2*n_same < k).

    Exactness: consumes ext_knn_graph's pinned deterministic edge set
    (fold-exact cosine ranks with buffered tile re-ranking); agreement
    counts are exact integers; the fraction is one IEEE division; the
    flag is an integer decision.

    Shape: the knn-graph helper's tiled pairwise scan (its key
    documents the 100 TB blocked form) followed by ONE vec-keyed
    counting aggregate of the O(n*k) edge frame and a vec-keyed join
    back to labels — both co-partitioned on vec_id, no new data-sized
    exchange beyond the helper's own."""
    from .ann import ext_knn_graph

    edges = ext_knn_graph(spark, sf_dir)
    agg = edges.groupBy("vec_id").agg(
        F.count(F.lit(1)).alias("n_nbrs"),
        F.sum("same_label").alias("n_same"),
    )
    lab = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("label").cast("long").alias("label")
    )
    return agg.join(lab, "vec_id").select(
        "vec_id",
        "label",
        "n_nbrs",
        "n_same",
        (
            F.col("n_same").cast("double") / F.col("n_nbrs").cast("double")
        ).alias("same_frac"),
        (2 * F.col("n_same") < F.col("n_nbrs")).alias("noise_suspect"),
    )
