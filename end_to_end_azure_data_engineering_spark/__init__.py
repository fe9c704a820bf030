"""end_to_end_azure_data_engineering_spark — a PySpark-native analytics engine.

A brand-new, Spark-first re-expression of the capabilities of the reference
medallion ETL platform (`Ninjumpyy/end_to_end_azure_data_engineering`):
bronze→silver→gold banking pipeline (conform, quarantine, SCD2, star schema,
audit/watermark incremental ingestion) plus large-scale training-data-pipeline
extensions (dedup, similarity search, text analysis, multimodal plumbing).

Everything is declarative DataFrame/SQL — Catalyst owns optimization; we own
the operator semantics, the pipeline DAG, and the state model.
"""

__version__ = "0.1.0"


# Public API — the operator/engine surface a reference user migrates onto.
# Queries stay in `end_to_end_azure_data_engineering_spark.queries` (driver-facing registry); these are
# the building blocks user pipelines compose directly.
from .engine.session import get_spark, stop_spark  # noqa: E402
from .engine.tableio import Warehouse  # noqa: E402

__all__ = [
    "get_spark",
    "stop_spark",
    "Warehouse",
    "__version__",
]
