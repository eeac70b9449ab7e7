"""ANN + multimodal + fingerprint semantic tests (contracts that the
rows-only oracle can't express)."""

from __future__ import annotations

import os

import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from billing_data_loader_spark.operators import ann
from billing_data_loader_spark.operators.ann import ext_ann_ivf
from billing_data_loader_spark.operators.llm_pipeline import ext_knn_cosine
from billing_data_loader_spark.operators.text_analysis import (
    simhash_pairs,
)
from billing_data_loader_spark.operators.llm_pipeline import (
    _corpus_with_dups,
)
from billing_data_loader_spark.tables import TABLE_NAMES

from .conftest import SF_DIR, SF_SMOKE


def test_ann_ivf_recall_vs_exact(spark):
    """IVF with 8/16 probed cells must recover a solid fraction of the exact
    top-10 (random fixture vectors -> no tight clusters; 0.5 is the agreed
    floor, observed value is asserted not to regress silently)."""
    exact = [r.vec_id for r in ext_knn_cosine(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in ext_ann_ivf(spark, SF_DIR).collect()]
    assert len(approx) == 10
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.5, f"IVF recall dropped to {recall}"


def test_ann_ivf_scores_are_true_cosines(spark):
    """Every returned (vec_id, cos_sim) must equal the exact cosine — IVF
    approximates the candidate SET, never the scores."""
    exact = {
        r.vec_id: r.cos_sim
        for r in ext_knn_cosine(spark, SF_DIR).collect()
    }
    for r in ext_ann_ivf(spark, SF_DIR).collect():
        if r.vec_id in exact:
            assert r.cos_sim == exact[r.vec_id]


def test_simhash_finds_exact_duplicates(spark):
    """Exact duplicate texts have identical simhashes (hamming 0) and must
    all be reported."""
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in simhash_pairs(spark, SF_DIR).collect()
    }
    planted = {
        (r.doc_id, r.doc_id + 1_000_000)
        for r in _corpus_with_dups(spark, SF_DIR)
        .filter(F.col("doc_id") % 5 == 0)
        .filter(F.col("doc_id") < 1_000_000)
        .select("doc_id")
        .collect()
    }
    missing = planted - set(pairs)
    assert not missing, f"simhash missed exact dups: {sorted(missing)[:5]}"
    for p in planted:
        assert pairs[p] == 0


def test_ann_lsh_recall_vs_exact(spark):
    """3 tables x 6 sign-bits x Hamming<=2 multiprobe must recover most of
    the exact top-10 (observed 8/10 at sf0.01; 0.6 is the floor guarding
    against silent regression)."""
    from billing_data_loader_spark.operators.ann import ext_ann_lsh

    exact = [r.vec_id for r in ext_knn_cosine(spark, SF_DIR).collect()]
    approx = [r.vec_id for r in ext_ann_lsh(spark, SF_DIR).collect()]
    assert len(approx) == 10
    recall = len(set(exact) & set(approx)) / len(exact)
    assert recall >= 0.6, f"LSH recall dropped to {recall}"


def test_ann_lsh_scores_are_true_cosines(spark):
    """LSH approximates the candidate SET, never the scores: every returned
    cos_sim must equal the exact cosine for that vec_id."""
    from billing_data_loader_spark.operators.ann import ext_ann_lsh

    exact = {
        r.vec_id: r.cos_sim for r in ext_knn_cosine(spark, SF_DIR).collect()
    }
    for r in ext_ann_lsh(spark, SF_DIR).collect():
        if r.vec_id in exact:
            assert r.cos_sim == exact[r.vec_id]


def test_residual_pq_distortion_beats_raw_pq(spark):
    """The point of residual PQ (VERDICT r9 #4): quantizing v - centroid
    must carry strictly lower mean reconstruction error than quantizing
    raw vectors with the same code budget, because mean-centroids remove
    Var(c) from the field the codebook has to cover. Measured 0.82x on
    this fixture; the pivot-as-centroid variant (no mean step) measured
    1.42x WORSE, so this pin guards the centroid step specifically."""
    from pyspark.sql import functions as F

    from billing_data_loader_spark.operators.ann import (
        ext_pq_encode,
        ext_pq_encode_residual,
    )

    raw = (
        ext_pq_encode(spark, SF_DIR).agg(F.avg("recon_err")).first()[0]
    )
    res = (
        ext_pq_encode_residual(spark, SF_DIR)
        .agg(F.avg("recon_err"))
        .first()[0]
    )
    assert res < raw, (res, raw)


def test_residual_pq_cells_match_ivf_assignment(spark):
    """Composition pin: the residual encoder's cell_id column must equal
    ext_ann_ivfpq's assignment rule — same pivots, same unrounded cosine
    argmax, ties to the lowest pivot id — replayed here from the raw
    vectors in Python."""
    from billing_data_loader_spark.operators.ann import (
        _N_PIVOTS,
        ext_pq_encode_residual,
    )
    from billing_data_loader_spark.tables import load

    emb = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load(spark, SF_DIR, "embeddings").collect()
    }

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = sum(x * x for x in a) ** 0.5
        nb = sum(x * x for x in b) ** 0.5
        return num / (na * nb)

    out = ext_pq_encode_residual(spark, SF_DIR).collect()
    assert len(out) == len(emb)
    for r in out:
        v = emb[r["vec_id"]]
        want = max(
            range(1, _N_PIVOTS + 1),
            key=lambda p: (cos(v, emb[p]), -p),
        )
        assert r["cell_id"] == want, (r["vec_id"], r["cell_id"], want)


#: (operator, dropped vec_id) pairs whose model collect REQUIRES that row:
#: query row 0 for every query-driven search, codebook rows 1..16 for the
#: PQ family. IVF pivots and LSH anchors are not required — a missing one
#: drops that pivot/plane on both engines alike, as in the oracle.
_MISSING_MODEL_ROW_CASES = [
    ("ext_ann_ivf", 0),
    ("ext_ann_lsh", 0),
    ("ext_ann_pq_search", 0),
    ("ext_ann_ivfpq", 0),
    ("ext_ann_pq_search", 5),
    ("ext_ann_ivfpq", 5),
    ("ext_pq_encode", 5),
]


@pytest.fixture(scope="module")
def embeddings_without(tmp_path_factory):
    """{dropped vec_id: fixture dir} — the sf0.001 embeddings minus one
    row, every other table symlinked from sf0.001."""
    src = pq.read_table(os.path.join(SF_SMOKE, "embeddings.parquet"))
    dirs = {}
    for dropped in sorted({d for _, d in _MISSING_MODEL_ROW_CASES}):
        out = tmp_path_factory.mktemp(f"embeddings_without_{dropped}")
        pq.write_table(
            src.filter(pc.not_equal(src["vec_id"], dropped)),
            out / "embeddings.parquet",
        )
        for t in TABLE_NAMES:
            if t != "embeddings":
                os.symlink(
                    os.path.join(SF_SMOKE, f"{t}.parquet"),
                    out / f"{t}.parquet",
                )
        dirs[dropped] = str(out)
    return dirs


@pytest.mark.parametrize("key,dropped", _MISSING_MODEL_ROW_CASES)
def test_missing_model_row_raises_named_error(
    spark, embeddings_without, key, dropped
):
    """A missing required model row fails query construction with a
    ValueError naming the id — not a bare KeyError, and never (for a
    codebook row) silently shifted codes."""
    with pytest.raises(ValueError, match=rf"vec_id \[{dropped}\]"):
        getattr(ann, key)(spark, embeddings_without[dropped])
