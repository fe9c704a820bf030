"""Config-driven ingestion — the reference's pl_ingestion_bronze control
flow (2_bronze_ingestion_adf/pipelines/pl_ingestion_bronze.json) in-process:

  GetMetadata config exists → Fail CONFIG_NOT_FOUND          (json:5-70)
  Lookup: read load_config.csv rows                          (json:678-719)
  ForEach row, parallel batchCount=10, isSequential=false    (json:89-106)
      Switch item().source_type                              (json:109-118)
        'sql'      → full copy | watermark-incremental copy  (pl_sql_copy_bronze)
        'landing'  → flat-file CSV → bronze parquet          (pl_flat_files_copy_bronze)
        'api'      → connector callable → bronze parquet     (json:260-497)
        default    → audit FAILED + raise (Fail activity)    (json:500-671)

The same load_config.csv columns drive it (source_type, db_name,
schema_name, table_name, source_path, target_file_name, is_active,
load_mode, watermark_column). Sources are injected as resolver callables so
tests run parquet/CSV stand-ins where the reference reaches Azure SQL.
"""

from __future__ import annotations

import csv
from dataclasses import dataclass
from pathlib import Path
from collections.abc import Callable

from pyspark.sql import DataFrame

from ..engine.clock import Clock, SystemClock
from ..sources.incremental import incremental_ingest
from .audit import AuditLog
from .runner import DagRunner, Stage


@dataclass(frozen=True)
class SourceRow:
    source_type: str      # sql | landing | api
    db_name: str
    schema_name: str
    table_name: str
    source_path: str
    target_file_name: str
    is_active: bool
    load_mode: str        # full | incremental | snapshot
    watermark_column: str


def load_config(path: str) -> list[SourceRow]:
    """Lookup step. Missing file ⇒ CONFIG_NOT_FOUND (the Fail activity)."""
    p = Path(path)
    if not p.exists():
        raise FileNotFoundError(f"CONFIG_NOT_FOUND: {path}")
    rows = []
    with p.open() as fh:
        for r in csv.DictReader(fh):
            rows.append(
                SourceRow(
                    source_type=r.get("source_type", ""),
                    db_name=r.get("db_name", ""),
                    schema_name=r.get("schema_name", ""),
                    table_name=r.get("table_name", ""),
                    source_path=r.get("source_path", ""),
                    target_file_name=r.get("target_file_name", ""),
                    is_active=r.get("is_active", "0").strip() in ("1", "true", "True"),
                    load_mode=r.get("load_mode", "full"),
                    watermark_column=r.get("watermark_column", "") or "",
                )
            )
    return rows


# a resolver turns (row, last_watermark) into the source DataFrame; one per
# source_type — the seam where JDBC/HTTP lives in production and parquet/CSV
# stand-ins live in tests
Resolver = Callable[[SourceRow, str], DataFrame]


def run_ingestion(
    audit: AuditLog,
    config: list[SourceRow],
    resolvers: dict[str, Resolver],
    max_parallel: int = 10,
    layout: str = "stamped",
) -> dict[str, object]:
    """ForEach(parallel)+Switch over active config rows; every load is
    audit-bracketed; unknown source_type = audited failure (default branch).
    Returns {target_file_name: landed table name}."""
    wh = audit.wh
    runner = DagRunner(max_parallel=max_parallel)

    def make_stage(row: SourceRow):
        def _run():
            src = row.db_name or "landing"
            if row.source_type not in resolvers:
                with audit.bracket(src, row.target_file_name):
                    raise ValueError(f"unknown source_type '{row.source_type}'")
            resolver = resolvers[row.source_type]
            if row.load_mode == "incremental" and row.watermark_column:
                return incremental_ingest(
                    audit, src, row.target_file_name,
                    lambda wm: resolver(row, wm),
                    row.watermark_column, layout=layout,
                )
            # full / snapshot: rotate the prior landing into the archive
            # namespace (S14, pl_sql_copy_bronze.json:148-277), then land
            # the whole frame, audited
            with audit.bracket(src, row.target_file_name) as run:
                stamp = audit.clock.now().strftime("%Y%m%d%H%M%S")
                wh.archive("bronze", row.target_file_name, stamp)
                run.rows_processed = wh.overwrite(
                    resolver(row, ""), "bronze", row.target_file_name
                )
            return row.target_file_name

        return _run

    for row in config:
        if row.is_active:  # inactive rows: skipped, as in the reference's If
            runner.add(Stage(row.target_file_name, make_stage(row)))
    return runner.run()
