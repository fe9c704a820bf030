"""Audit log + watermark state store — macro-ops M4/M5.

The reference's ``audit.audit_logs`` Delta table is both run telemetry and
the incremental-load state store (1_audit/audit_ddl.sql:4-28); the last
successful watermark is read back with a filter → orderBy desc_nulls_last →
limit 1 → collect of a single scalar (1_audit/fetch_logs.py:21-35) — the
only sanctioned driver-side collect in the engine.

Audit bracketing (M5): a STARTED row before work, SUCCESS/FAILED after,
with rows_processed and error_message (1_audit/audit_start.py:76-105,
audit_end.py:53-101). The reference builds INSERT strings by hand with
manual quote-escaping; we write typed rows (an Arrow table under
``AUDIT_SCHEMA``), which removes its SQL-injection surface entirely.
"""

from __future__ import annotations

import datetime as _dt
import uuid
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..engine.clock import Clock, SystemClock
from ..engine.tableio import SPARK_SCHEMA_KEY, Warehouse

AUDIT_SCHEMA = T.StructType(
    [
        T.StructField("source_system", T.StringType()),
        T.StructField("source_object", T.StringType()),
        T.StructField("run_date", T.DateType()),
        T.StructField("status", T.StringType()),  # STARTED | SUCCESS | FAILED
        T.StructField("rows_processed", T.LongType()),
        T.StructField("watermark_value", T.StringType()),
        T.StructField("start_time", T.TimestampType()),
        T.StructField("end_time", T.TimestampType()),
        T.StructField("error_message", T.StringType()),
        T.StructField("inserted_at", T.TimestampType()),
    ]
)

#: AUDIT_SCHEMA as Arrow, for the driver-side writes; it carries Spark's
#: schema footer key, so a read of any audit file needs no inference job
_ARROW_SCHEMA = to_arrow_schema(AUDIT_SCHEMA).with_metadata(
    {SPARK_SCHEMA_KEY: AUDIT_SCHEMA.json()}
)

NAMESPACE, TABLE = "audit", "audit_logs"

_EPOCH = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)


def _epoch_us(t: _dt.datetime) -> int:
    # a naive clock reading is UTC, as the Arrow insert stores it
    if t.tzinfo is None:
        t = t.replace(tzinfo=_dt.timezone.utc)
    return (t - _EPOCH) // _dt.timedelta(microseconds=1)


@dataclass
class AuditRun:
    """What a bracketed stage reports for its SUCCESS row."""

    rows_processed: int | None = None
    watermark_value: str | None = None


@dataclass
class AuditLog:
    wh: Warehouse
    clock: Clock = None  # type: ignore[assignment]

    def __post_init__(self):
        if self.clock is None:
            self.clock = SystemClock()
        if not self.wh.exists(NAMESPACE, TABLE):
            # the empty table is one zero-row file written on the driver:
            # no Spark job before the pipeline's first stage
            self._write(_ARROW_SCHEMA.empty_table())
        # every row insert is its own APPEND version: bound the audit
        # table's history inline (per-table retention, so gold time travel
        # is untouched) unless the operator already chose
        self.wh.default_retention(NAMESPACE, TABLE, 8)

    def _write(self, tbl: pa.Table) -> None:
        """Write ``tbl`` as one parquet file on the driver (Arrow), published
        as an APPEND version by the warehouse's ``insert_file``: no Spark
        job, and a unique file name per call. The footer carries Spark's
        schema key, so a read takes its schema from whichever file sorts
        first without a Spark job. A failed write raises."""
        name = f"part-audit-{uuid.uuid4().hex}.parquet"
        self.wh.insert_file(
            NAMESPACE, TABLE, name, lambda tmp: pq.write_table(tbl, tmp)
        )

    def _insert(self, **kw) -> None:
        """Write one audit row (see ``_write``)."""
        now = self.clock.now()
        row = {
            "source_system": kw.get("source_system"),
            "source_object": kw.get("source_object"),
            "run_date": now.date(),
            "status": kw.get("status"),
            "rows_processed": kw.get("rows_processed"),
            "watermark_value": kw.get("watermark_value"),
            "start_time": kw.get("start_time"),
            "end_time": kw.get("end_time"),
            "error_message": kw.get("error_message"),
            "inserted_at": now,
        }
        self._write(pa.table({k: [v] for k, v in row.items()}, schema=_ARROW_SCHEMA))

    def start(self, source_system: str, source_object: str) -> _dt.datetime:
        t0 = self.clock.now()
        self._insert(
            source_system=source_system, source_object=source_object,
            status="STARTED", start_time=t0,
        )
        return t0

    def success(
        self, source_system: str, source_object: str, start_time: _dt.datetime,
        rows_processed: int, watermark_value: str | None,
    ) -> None:
        self._insert(
            source_system=source_system, source_object=source_object,
            status="SUCCESS", rows_processed=rows_processed,
            watermark_value=watermark_value, start_time=start_time,
            end_time=self.clock.now(),
        )

    def failed(
        self, source_system: str, source_object: str, start_time: _dt.datetime, error: str
    ) -> None:
        self._insert(
            source_system=source_system, source_object=source_object,
            status="FAILED", start_time=start_time, end_time=self.clock.now(),
            error_message=error[:4000],
        )

    @contextmanager
    def bracket(self, source_system: str, source_object: str) -> Iterator[AuditRun]:
        """M5 bracket around one stage: a STARTED row on entry; on exit a
        SUCCESS row carrying what the body set on the yielded ``AuditRun``,
        or a FAILED row with the error, after which the error re-raises.
        A failure writing the SUCCESS row is audited as FAILED too."""
        t0 = self.start(source_system, source_object)
        run = AuditRun()
        try:
            yield run
            self.success(
                source_system, source_object, t0,
                run.rows_processed, run.watermark_value,
            )
        except Exception as exc:
            self.failed(source_system, source_object, t0, str(exc))
            raise

    def read(self) -> DataFrame:
        return self.wh.read(NAMESPACE, TABLE)

    def stage_walls(
        self, since: _dt.datetime, until: _dt.datetime
    ) -> dict[tuple[str, str], float]:
        """Seconds per ``(source_system, source_object)`` for one run: the
        last SUCCESS row of each stage whose ``start_time`` lies in
        ``[since, until]``. A reused warehouse keeps every earlier run's
        rows in the same table, so a reader of stage walls windows first."""
        start, end = F.unix_micros("start_time"), F.unix_micros("end_time")
        rows = (
            self.read()
            .filter(
                (F.col("status") == "SUCCESS")
                & end.isNotNull()
                & start.between(_epoch_us(since), _epoch_us(until))
            )
            .select("source_system", "source_object", end.alias("_end"), (end - start).alias("_us"))
            .collect()  # bounded: one row per stage attempt of one run (~40)
        )
        return {
            (r.source_system, r.source_object): r._us / 1e6
            for r in sorted(rows, key=lambda r: r._end)
        }

    def compact(self, target_files: int = 8) -> int:
        """Fold the accumulated one-file-per-insert audit rows into
        ``target_files`` files, range-clustered on ``inserted_at``. Run
        periodically — the Arrow fast path trades one tiny file per audit
        row for insert latency, and a long-lived deployment should sweep
        the accretion.

        The sweep is the warehouse's ``compact``: one OVERWRITE version
        under the table's append lock, which row inserts also hold, so no
        row racing the sweep is lost. Returns the file count after it."""
        n = len(list(self.wh.data_dir(NAMESPACE, TABLE).glob("*.parquet")))
        if n <= target_files:
            return n
        return self.wh.compact(NAMESPACE, TABLE, target_files, cluster_by=["inserted_at"])

    def fetch_last_watermark(self, source_system: str, source_object: str) -> str:
        """O1/P6 — reference: 1_audit/fetch_logs.py:21-35. Empty string when
        no successful prior run (⇒ caller does a full scan, S6)."""
        rows = (
            self.read()
            .filter(
                (F.col("source_system") == source_system)
                & (F.col("source_object") == source_object)
                & (F.col("status") == "SUCCESS")
                & F.col("watermark_value").isNotNull()
                & (F.length(F.col("watermark_value")) > 0)
            )
            .orderBy(
                F.col("end_time").desc_nulls_last(), F.col("inserted_at").desc_nulls_last()
            )
            .select("watermark_value")
            .limit(1)
            .collect()
        )
        return rows[0][0] if rows else ""
