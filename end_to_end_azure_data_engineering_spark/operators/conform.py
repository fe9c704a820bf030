"""Multi-source union — SURVEY §2.2 U1.

The typed projection that the reference's silver notebooks open with
(4_silver/silver_transactions.py:73-87) lives in
``plans/silver.py::conform_entity``; this module keeps the schema
harmonization step it runs first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def harmonize_union(dfs: list[DataFrame]) -> DataFrame:
    """U1 — unionByName with allowMissingColumns=True
    (reference: 4_silver/silver_transactions.py:67): multi-source schema
    harmonization; columns missing from one source are null-filled.
    """
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out
