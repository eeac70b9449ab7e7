"""Frozen key lists of the benchmark workloads.

Every key here matches its DuckDB oracle on the vendored sf0.01 fixture;
the benchmark re-checks that on every run. Changing a list changes the
benchmark, so it is a benchmark change of its own, never part of a change
that claims a gain.
"""

from __future__ import annotations

from pathlib import Path

FIXTURES = Path(__file__).resolve().parent / "fixtures"

#: Scale factor every workload runs at. The seed-42 fixture tables are
#: copied byte for byte from the package's fixture set and never regenerated.
SF_DIR = FIXTURES / "sf0.01"

#: The smoke fixture the self-tests run on.
SMOKE_SF_DIR = FIXTURES / "sf0.001"

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The reference job end to end: read and parse the billing export,
    # relational billing/TPC-H analytics (aggregate, join strategies,
    # windows), a partitioned sink and a micro-batch replay. No key crosses
    # into Python workers, so this is the bypass workload for the ANN/UDF
    # layers.
    "billing_etl": (
        "scan_csv_schema",
        "agg_q1_pricing",
        "join_q3_shipping",
        "join_star_5way",
        "win_topk_per_group",
        "bill_cohort_arpu",
        "cdc_merge_upsert",
        "stream_availablenow_replay",
    ),
    # LLM-data-pipeline operators: ANN kernels behind mapInPandas with a
    # driver-side model collect during construction, exact cosine k-NN, and
    # the minhash near-dup self-join fan-out over a scoped_persist frame.
    "llm_dedup_ann": (
        "ext_ann_ivf",
        "ext_ann_lsh",
        "ext_knn_cosine",
        "ext_containment_neardup",
    ),
}
