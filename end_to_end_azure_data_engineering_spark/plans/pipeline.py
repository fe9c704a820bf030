"""End-to-end medallion pipeline — the engine's pl_master equivalent (M6).

Wires bronze→silver→gold with the reference's dependency edges
(pl_bronze_to_silver.json:106-263: six snapshot loads parallel → customers
→ accounts → transactions → {settlements, disputes};
pl_silver_to_gold.json:86-195: dims parallel → facts), audit bracketing
(M5) around every stage, and bounded parallelism.

``bronze`` here is any dict of entity → list of (DataFrame, source_tag)
pairs, so the same pipeline runs against parquet drops, CSV landings, JDBC
stand-ins, or test fixtures.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame

from ..engine.clock import Clock, SystemClock
from ..engine.tableio import Warehouse
from .audit import AuditLog
from .gold import GOLD_BUILDERS, GOLD_DEPS, refresh_gold
from .runner import DagRunner, Stage
from .silver import SILVER_SPECS, conform_entity, load_entity

SILVER_DEPS = {
    # pl_bronze_to_silver.json:106-263
    "mcc_codes": [], "products": [], "branches": [], "merchants": [],
    "counterparties": [], "fx_rates": [],
    "customers": ["mcc_codes", "products", "branches", "merchants",
                  "counterparties", "fx_rates"],
    "accounts": ["customers"],
    "transactions": ["accounts"],
    "settlements": ["transactions"],
    "disputes": ["transactions"],
}


def run_silver(
    wh: Warehouse,
    bronze: dict[str, list[tuple[DataFrame, str | None]]],
    clock: Clock | None = None,
    audit: AuditLog | None = None,
    max_parallel: int = 10,
) -> None:
    clock = clock or SystemClock()
    audit = audit or AuditLog(wh, clock)

    def make_stage(name: str) -> Callable[[], object]:
        def _run():
            spec = SILVER_SPECS[name]
            with audit.bracket("silver", name) as run:
                staged = conform_entity(spec, bronze[name])
                run.rows_processed = load_entity(wh, spec, staged, clock)
            return run.rows_processed
        return _run

    runner = DagRunner(max_parallel=max_parallel)
    for name, deps in SILVER_DEPS.items():
        if name in bronze:
            present_deps = [d for d in deps if d in bronze]
            # notebooks retry 3x (pl_sql_copy_bronze.json:390-391)
            runner.add(Stage(name, make_stage(name), present_deps, retries=3))
    runner.run()


def run_gold(
    wh: Warehouse,
    clock: Clock | None = None,
    audit: AuditLog | None = None,
    max_parallel: int = 10,
) -> None:
    clock = clock or SystemClock()
    audit = audit or AuditLog(wh, clock)
    now = clock.now()

    def make_stage(name: str) -> Callable[[], object]:
        def _run():
            with audit.bracket("gold", name) as run:
                run.rows_processed = wh.overwrite(
                    GOLD_BUILDERS[name](wh, now), "gold", name
                )
            return run.rows_processed
        return _run

    runner = DagRunner(max_parallel=max_parallel)
    for name, deps in GOLD_DEPS.items():
        runner.add(Stage(name, make_stage(name), deps, retries=3))
    runner.run()


def run_pipeline(
    wh: Warehouse,
    bronze: dict[str, list[tuple[DataFrame, str | None]]],
    clock: Clock | None = None,
) -> None:
    """pl_master.json:5-60 — ingestion → silver → gold, sequential phases."""
    clock = clock or SystemClock()
    audit = AuditLog(wh, clock)
    run_silver(wh, bronze, clock, audit)
    run_gold(wh, clock, audit)
