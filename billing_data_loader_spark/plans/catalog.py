"""Imports every operator module so their ``@query`` registrations run.

``__spark_entry__.py`` imports this module and reads the registry.
:func:`catalog` returns the keys in registration order: module by module in
``_MODULES`` order, and within a module in definition order.
Add new operator modules to ``_MODULES`` as they come online.
"""

from __future__ import annotations

from importlib import import_module

from .registry import QuerySpec, all_queries

_MODULES = [
    "billing_data_loader_spark.operators.aggregations",
    "billing_data_loader_spark.operators.projections",
    "billing_data_loader_spark.operators.joins",
    "billing_data_loader_spark.operators.tpch_complete",
    "billing_data_loader_spark.operators.windows",
    "billing_data_loader_spark.operators.sortsets",
    "billing_data_loader_spark.operators.reshape",
    "billing_data_loader_spark.functions.scalar_suites",
    "billing_data_loader_spark.functions.udfs",
    "billing_data_loader_spark.operators.llm_pipeline",
    "billing_data_loader_spark.operators.text_analysis",
    "billing_data_loader_spark.operators.corpus_hygiene",
    "billing_data_loader_spark.operators.curation",
    "billing_data_loader_spark.operators.billing_history",
    "billing_data_loader_spark.operators.billing_analytics",
    "billing_data_loader_spark.operators.timeseries",
    "billing_data_loader_spark.operators.profiling",
    "billing_data_loader_spark.operators.graph",
    "billing_data_loader_spark.operators.embedding_pca",
    "billing_data_loader_spark.operators.ann",
    "billing_data_loader_spark.operators.multimodal",
    "billing_data_loader_spark.operators.extras",
    "billing_data_loader_spark.operators.corpus_ops",
    "billing_data_loader_spark.operators.segmentation",
    "billing_data_loader_spark.operators.dedup_span",
    "billing_data_loader_spark.operators.lakeops",
    "billing_data_loader_spark.operators.cluster_eval",
    "billing_data_loader_spark.operators.billing_revenue",
    "billing_data_loader_spark.operators.data_quality",
    "billing_data_loader_spark.operators.market_basket",
    "billing_data_loader_spark.operators.model_eval",
    "billing_data_loader_spark.operators.feature_prep",
    "billing_data_loader_spark.operators.privacy",
    "billing_data_loader_spark.sources.connectors",
    "billing_data_loader_spark.sources.clickhouse",
    "billing_data_loader_spark.streaming.jobs",
]

for _m in _MODULES:
    import_module(_m)


def catalog() -> dict[str, QuerySpec]:
    return all_queries()
