"""End-to-end pipeline benchmark — times a full ``pl_master`` run.

The reference's unit of work is the master pipeline (pl_master.json:5-60):
ingestion → silver ×11 → gold ×7, every stage audit-bracketed, silver and
gold scheduled by dependency edges with 10-wide parallelism. The query
benchmarks time individual operators; this times the DAG itself, including
the scheduler-level overlap of independent stages (the six parallel dim
loads, the four parallel gold dims).

Input is the TPC-H-derived banking bronze (``bench_bronze``), so the run
scales with the chosen SF. Output is wall-clock per phase plus per-stage
durations lifted from the audit table itself — the same rows the reference
operator would read to monitor a run, which also makes the bench an
end-to-end check that audit bracketing survives concurrency.

``parallel_speedup`` = sum(stage wall) / phase wall. A sequential scheduler
scores ~1.0; values >1 prove the DagRunner actually overlapped independent
stages (on local[32] the six dims + the scheduler's 10-wide ForEach give
ingestion/silver phases real overlap; at 1000 executors the same edges let
independent table loads share the cluster).
"""

from __future__ import annotations

import time

from pyspark.sql import SparkSession

from ..engine.tableio import Warehouse
from .audit import AuditLog
from .bench_bronze import tpch_bronze_frames
from .ingestion import SourceRow, run_ingestion
from .pipeline import run_gold, run_silver

_SINGLE = ("mcc_codes", "fx_rates")


def _ingestion_config(bronze) -> tuple[list[SourceRow], dict]:
    """One config row per bronze feed (the reference's load_config.csv
    shape): per-bank entities land as two feeds, singles as one."""
    rows: list[SourceRow] = []
    frames: dict[str, object] = {}
    for ent, feeds in bronze.items():
        for df, tag in feeds:
            target = f"{ent}__{tag}" if tag else ent
            frames[target] = df
            rows.append(
                SourceRow(
                    source_type="frame",
                    db_name=tag or "reference",
                    schema_name="dbo",
                    table_name=ent,
                    source_path="",
                    target_file_name=target,
                    is_active=True,
                    load_mode="full",
                    watermark_column="",
                )
            )
    return rows, frames


def run_pipeline_benchmark(spark: SparkSession, sf_dir: str, wh_root: str) -> dict:
    """Run ingestion → silver → gold once against the warehouse at
    ``wh_root``; return phase walls, per-stage breakdown, and overlap
    ratios. The stage walls are this run's audit rows only, so a reused
    warehouse does not mix in earlier runs. Raises on any stage failure
    (the DagRunner propagates)."""
    wh = Warehouse(spark, wh_root)
    audit = AuditLog(wh)

    bronze_frames = tpch_bronze_frames(spark, sf_dir)
    config, frames = _ingestion_config(bronze_frames)
    resolvers = {"frame": lambda row, wm: frames[row.target_file_name]}

    since = audit.clock.now()
    t0 = time.perf_counter()
    run_ingestion(audit, config, resolvers, max_parallel=10)
    t_ingest = time.perf_counter() - t0

    # silver reads the landed bronze tables back (the real medallion flow),
    # not the in-memory frames
    landed: dict[str, list] = {}
    for ent in bronze_frames:
        if ent in _SINGLE:
            landed[ent] = [(wh.read("bronze", ent), None)]
        else:
            landed[ent] = [
                (wh.read("bronze", f"{ent}__bank_a"), "bank_a"),
                (wh.read("bronze", f"{ent}__bank_b"), "bank_b"),
            ]

    t1 = time.perf_counter()
    run_silver(wh, landed, audit=audit, max_parallel=10)
    t_silver = time.perf_counter() - t1

    t2 = time.perf_counter()
    run_gold(wh, audit=audit, max_parallel=10)
    t_gold = time.perf_counter() - t2

    # ingestion rows carry the source system (bank_a/bank_b/...)
    stages: dict[str, dict[str, float]] = {"ingestion": {}, "silver": {}, "gold": {}}
    for (system, obj), wall in audit.stage_walls(since, audit.clock.now()).items():
        stages[system if system in stages else "ingestion"][obj] = wall

    phases = {"ingestion": t_ingest, "silver": t_silver, "gold": t_gold}
    return {
        "pipeline_total": round(sum(phases.values()), 3),
        "phases": {p: round(wall, 3) for p, wall in phases.items()},
        "parallel_speedup": {
            p: round(sum(stages[p].values()) / wall, 2) if wall > 0 else 0.0
            for p, wall in phases.items()
        },
        "stages": {p: {k: round(v, 3) for k, v in sorted(stages[p].items())} for p in phases},
    }
