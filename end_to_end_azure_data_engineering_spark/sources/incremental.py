"""Incremental ingestion with watermark — macro-op M4.

Reference flow (pl_sql_copy_bronze.json:577-916 + 1_audit notebooks):
fetch last watermark from the audit log → pushdown-filtered source read →
land a stamped bronze file → agg(max(wm_col)) → SUCCESS audit row carrying
coalesce(new_wm, old_wm). Watermarks travel as strings; timestamp
comparison relies on ISO-8601 lexicographic order — reproduced as-is.

Deviation recorded per SURVEY §4: the reference stamps files with
``yyyyMMddmm`` (minute, skipping hours — collisions within the same
minute overwrite); we stamp ``yyyyMMddHHmmss_<runid>``.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.audit import AuditLog


def incremental_ingest(
    audit: AuditLog,
    source_system: str,
    source_object: str,
    read_fn: Callable[[str], DataFrame],
    wm_col: str,
    layout: str = "stamped",
) -> str:
    """Run one audited incremental load; returns the landed table name.

    ``read_fn(last_wm)`` performs the pushdown-filtered read (JDBC or
    parquet stand-in) — empty watermark means full scan (S6 semantics).
    The batch lands in the ``bronze`` namespace.

    ``layout``:
    - ``"stamped"`` (reference parity): each batch lands as its own
      ``<object>_<stamp>`` table — downstream reads glob over names.
    - ``"partitioned"`` (SURVEY §4 scale upgrade): every batch appends into
      ONE ``<object>`` table under an ``_ingest_stamp=`` hive partition, so
      batch selection is partition pruning (`PartitionFilters` at the scan,
      unmatched directories never listed) instead of name matching.
    """
    wh = audit.wh
    with audit.bracket(source_system, source_object) as run:
        last_wm = audit.fetch_last_watermark(source_system, source_object)
        df = read_fn(last_wm)
        stamp = audit.clock.now().strftime("%Y%m%d%H%M%S") + "_" + uuid.uuid4().hex[:6]
        if layout == "partitioned":
            table = source_object
            batch = df.withColumn("_ingest_stamp", F.lit(stamp))
            wh.append(batch, "bronze", table, partition_by=["_ingest_stamp"])
            landed_batch = wh.read("bronze", table).filter(
                F.col("_ingest_stamp") == stamp
            )
            run.rows_processed = landed_batch.count()
            landed = landed_batch
        else:
            table = f"{source_object}_{stamp}"
            run.rows_processed = wh.overwrite(df, "bronze", table)
            # A1 — max-watermark capture on the landed file
            # (1_audit/catch_new_watermark_value.py:21-44)
            landed = wh.read("bronze", table)
        new_wm_row = landed.agg(F.max(wm_col).cast("string").alias("wm")).collect()
        new_wm = new_wm_row[0][0] if new_wm_row else None
        # P13 — coalesce new→old (pl_sql_copy_bronze.json:758)
        run.watermark_value = new_wm or last_wm
    return table
