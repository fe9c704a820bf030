"""Two business days of ``pl_master`` through the program's public
functions: ``run_ingestion`` → ``run_silver`` → ``run_gold`` on one
``Warehouse``, with a ``FixedClock`` per day for the data.

The audit log gets its own clock: the day's instant plus real elapsed
time, so its rows carry real stage walls (a FixedClock would stamp every
row with the same instant). Stage walls are read back from this day's
audit rows only (``stats.window_audit``).

The output checks read the warehouse's parquet files with DuckDB, so they
add no Spark jobs and stay outside every timed region.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import time
from pathlib import Path

from end_to_end_azure_data_engineering_spark.engine.clock import Clock, FixedClock
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
from end_to_end_azure_data_engineering_spark.plans.audit import AuditLog
from end_to_end_azure_data_engineering_spark.plans.gold import GOLD_BUILDERS, GOLD_DEPS
from end_to_end_azure_data_engineering_spark.plans.ingestion import SourceRow, run_ingestion
from end_to_end_azure_data_engineering_spark.plans.pipeline import SILVER_DEPS, run_gold, run_silver
from end_to_end_azure_data_engineering_spark.plans.silver import SILVER_SPECS

from . import stats
from .trace import Tracer

_SINGLE = ("mcc_codes", "fx_rates")
_EPOCH = dt.datetime(1970, 1, 1)
SCD2 = tuple(n for n, s in SILVER_SPECS.items() if s.load == "scd2")
APPEND = tuple(n for n, s in SILVER_SPECS.items() if s.load == "append")


def _micros(at: dt.datetime) -> int:
    """Epoch microseconds of a naive UTC instant."""
    return (at - _EPOCH) // dt.timedelta(microseconds=1)


class RunningClock(Clock):
    """The business-day instant plus the real time elapsed since creation."""

    def __init__(self, at: dt.datetime):
        self._at, self._t0 = at, time.perf_counter()

    def now(self) -> dt.datetime:
        return self._at + dt.timedelta(seconds=time.perf_counter() - self._t0)


def traced_warehouse(tracer: Tracer):
    """A ``Warehouse`` whose writes open spans and count what they wrote."""

    class TracedWarehouse(Warehouse):
        written: list[dict] = []

        def overwrite(self, df, namespace, table, partition_by=None):
            with tracer.span("engine.tableio.overwrite", table=f"{namespace}.{table}"):
                n = super().overwrite(df, namespace, table, partition_by)
            files = [f for f in self.data_dir(namespace, table).rglob("*.parquet")]
            self.written.append({
                "table": f"{namespace}.{table}", "rows": n, "files": len(files),
                "bytes": sum(f.stat().st_size for f in files),
            })
            return n

        def archive(self, namespace, table, stamp, archive_namespace="archive"):
            with tracer.span("engine.tableio.archive", table=f"{namespace}.{table}"):
                return super().archive(namespace, table, stamp, archive_namespace)

    return TracedWarehouse


def traced_audit(tracer: Tracer):
    """An ``AuditLog`` whose inserts open spans."""

    class TracedAuditLog(AuditLog):
        def start(self, source_system, source_object):
            with tracer.span("plans.audit.insert"):
                return super().start(source_system, source_object)

        def success(self, source_system, source_object, start_time, rows_processed, watermark_value):
            with tracer.span("plans.audit.insert"):
                super().success(source_system, source_object, start_time, rows_processed, watermark_value)

        def failed(self, source_system, source_object, start_time, error):
            with tracer.span("plans.audit.insert"):
                super().failed(source_system, source_object, start_time, error)

    return TracedAuditLog


def _ingestion_config(bronze) -> tuple[list[SourceRow], dict]:
    """One config row per bronze feed, the shape of the reference's
    load_config.csv: per-bank entities land as two feeds, singles as one."""
    rows, frames = [], {}
    for ent, feeds in bronze.items():
        for df, tag in feeds:
            target = f"{ent}__{tag}" if tag else ent
            frames[target] = df
            rows.append(SourceRow(
                source_type="frame", db_name=tag or "reference", schema_name="dbo",
                table_name=ent, source_path="", target_file_name=target,
                is_active=True, load_mode="full", watermark_column="",
            ))
    return rows, frames


class PipelineRun:
    """The warehouse and the two days run against it."""

    def __init__(self, spark, root: Path, tracer: Tracer):
        self.tracer = tracer
        wh_cls = traced_warehouse(tracer) if tracer.enabled else Warehouse
        self.audit_cls = traced_audit(tracer) if tracer.enabled else AuditLog
        self.wh = wh_cls(spark, str(root))
        self.days: list[dict] = []
        self.day_write_counts: list[int] = []  # traced warehouse writes per day

    def run_day(self, n: int, at: dt.datetime, bronze: dict) -> dict:
        """One ``pl_master`` day; returns its walls (perf-counter seconds)."""
        wh, tr = self.wh, self.tracer
        config, frames = _ingestion_config(bronze)
        resolvers = {"frame": lambda row, wm: frames[row.target_file_name]}
        clock, audit_clock = FixedClock(at), RunningClock(at)
        day: dict = {"day": n, "at": at, "audit_lo": audit_clock.now()}
        t0 = time.perf_counter()
        with tr.span(f"pipeline.day{n}") as root:
            tr.root = root and root["id"]
            audit = self.audit_cls(wh, audit_clock)  # creates the audit table on day 1
            with tr.span("plans.ingestion") as s:
                tr.root = s and s["id"]
                run_ingestion(audit, config, resolvers, max_parallel=10)
            t1 = time.perf_counter()
            landed = {
                ent: [(wh.read("bronze", ent), None)] if ent in _SINGLE else [
                    (wh.read("bronze", f"{ent}__{tag}"), tag) for _, tag in feeds
                ]
                for ent, feeds in bronze.items()
            }
            with tr.span("plans.silver") as s:
                tr.root = s and s["id"]
                run_silver(wh, landed, clock, audit, max_parallel=10)
            t2 = time.perf_counter()
            with tr.span("plans.gold") as s:
                tr.root = s and s["id"]
                run_gold(wh, clock, audit, max_parallel=10)
            tr.root = root and root["id"]
        t3 = time.perf_counter()
        if tr.enabled:
            self.day_write_counts.append(len(wh.written) - sum(self.day_write_counts))
        day.update(wall=t3 - t0, ingestion=t1 - t0, silver=t2 - t1, gold=t3 - t2,
                   audit_hi=audit_clock.now())
        self.days.append(day)
        return day

    # ---- reading back (outside every timed region) -----------------------

    def _glob(self, namespace: str, table: str) -> str:
        return str(Path(self.wh.data_dir(namespace, table)) / "**" / "*.parquet")

    def audit_rows(self, con) -> list[dict]:
        rel = con.sql(
            "SELECT source_system, source_object, status, "
            "epoch_us(start_time) AS start_time, epoch_us(end_time) AS end_time "
            f"FROM read_parquet('{self._glob('audit', 'audit_logs')}', union_by_name = true)"
        )
        cols = rel.columns
        rows = [dict(zip(cols, r)) for r in rel.fetchall()]
        for r in rows:
            for c in ("start_time", "end_time"):
                r[c] = None if r[c] is None else _EPOCH + dt.timedelta(microseconds=r[c])
        return rows

    def day_profile(self, con, day: dict) -> dict:
        """Per-phase stage walls, overlap and critical path of one day, from
        that day's audit rows only."""
        rows = stats.window_audit(self.audit_rows(con), day["audit_lo"], day["audit_hi"])
        walls = stats.stage_walls(rows)
        phases = {"ingestion": {}, "silver": {}, "gold": {}}
        for (system, obj), wall in walls.items():
            phase = system if system in ("silver", "gold") else "ingestion"
            phases[phase][obj] = wall
        deps = {"ingestion": {}, "silver": SILVER_DEPS, "gold": GOLD_DEPS}
        out = {
            "stage_walls": phases,
            "overlap": {p: sum(w.values()) / day[p] for p, w in phases.items()},
            "critical_path_s": {p: stats.critical_path(w, deps[p]) for p, w in phases.items()},
            "stage_attempts": sum(1 for r in rows if r["status"] in ("SUCCESS", "FAILED")),
            "failed_attempts": sum(1 for r in rows if r["status"] == "FAILED"),
            "hidden_retries": stats.hidden_retries(rows),
            "audit_rows": len(rows),
            "silver_by_load": {
                load: sum(w for o, w in phases["silver"].items() if SILVER_SPECS[o].load == load)
                for load in ("scd2", "append", "full_refresh")
            },
        }
        return out

    def count(self, con, table: str, where: str = "TRUE") -> int:
        return con.sql(
            f"SELECT count(*) FROM read_parquet('{self._glob('silver', table)}') WHERE {where}"
        ).fetchone()[0]

    def expired_on(self, con, at: dt.datetime) -> dict[str, int]:
        us = _micros(at)
        return {
            t: self.count(con, t, f"NOT is_current AND epoch_us(audit_modifieddate) = {us}")
            for t in SCD2
        }

    def inserted_on(self, con, at: dt.datetime) -> dict[str, int]:
        us = _micros(at)
        return {t: self.count(con, t, f"epoch_us(audit_insertdate) = {us}") for t in SCD2 + APPEND}

    def check_day(self, con, plan, expected_settlements: int, day2_at) -> list[tuple[str, bool, str]]:
        """The output checks after day 2: (name, passed, detail)."""
        checks = []
        for t in SCD2:
            key = SILVER_SPECS[t].key
            bad = con.sql(
                f"SELECT count(*) FROM (SELECT {key}, sum(CAST(is_current AS INT)) c "
                f"FROM read_parquet('{self._glob('silver', t)}') GROUP BY {key}) WHERE c != 1"
            ).fetchone()[0]
            checks.append((f"one_current_row.{t}", bad == 0, f"{bad} keys without exactly one current row"))
        expired = self.expired_on(con, day2_at)
        for t, want in plan.expired.items():
            got = expired[t]
            checks.append((f"expired_rows.{t}", got == want, f"expired {got}, seeded {want}"))
        total, distinct = con.sql(
            f"SELECT count(*), count(DISTINCT settlement_key) "
            f"FROM read_parquet('{self._glob('silver', 'settlements')}')"
        ).fetchone()
        checks.append(("settlements_not_duplicated", total == distinct == expected_settlements,
                       f"{total} rows, {distinct} keys, expected {expected_settlements}"))
        return checks

    def gold_digest(self, con, norm_rows) -> str:
        """SHA-256 over every gold table's rows, order-insensitive."""
        h = hashlib.sha256()
        for name in sorted(GOLD_BUILDERS):
            rel = con.sql(f"SELECT * FROM read_parquet('{self._glob('gold', name)}')")
            h.update(name.encode())
            for line in norm_rows(list(rel.columns), rel.fetchall()):
                h.update(line.encode())
        return h.hexdigest()
