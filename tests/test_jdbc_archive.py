"""S5/S6 real-JDBC path (embedded Derby) + S14 archive rotation + M1 MERGE
SQL golden shape — the round-1 verdict's untested-operator list.

Derby's embedded driver ships inside Spark's own jars directory, so
``read_jdbc`` is exercised against a real database: Spark writes the
fixture table over JDBC, then reads it back full (S5) and
watermark-filtered (S6, predicate executed source-side via the pushdown
query).
"""

from __future__ import annotations

import datetime as dt

import pytest

from end_to_end_azure_data_engineering_spark.engine.clock import FixedClock
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
from end_to_end_azure_data_engineering_spark.operators.scd2 import scd2_merge_sql
from end_to_end_azure_data_engineering_spark.sources.readers import (
    build_incremental_query,
    read_jdbc,
)


# ---------------------------------------------------------------------------
# S5/S6 — JDBC against embedded Derby
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    db = tmp_path_factory.mktemp("derby") / "srcdb"
    url = f"jdbc:derby:{db};create=true"
    rows = [
        (1, "alpha", "2024-01-01T00:00:00"),
        (2, "beta", "2024-01-02T00:00:00"),
        (3, "gamma", "2024-01-03T00:00:00"),
        (4, "delta", "2024-01-04T00:00:00"),
    ]
    # uppercase identifiers: Spark's JDBC writer quotes column names, and
    # Derby folds unquoted identifiers (as in the pushdown query) to upper
    df = spark.createDataFrame(rows, "ID INT, NAME STRING, UPDATED_AT STRING")
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "APP.SRC_TABLE")
        # VARCHAR, not Spark's default CLOB mapping — Derby can't compare
        # CLOB to a literal, which the watermark pushdown predicate needs
        .option(
            "createTableColumnTypes",
            "ID INT, NAME VARCHAR(50), UPDATED_AT VARCHAR(30)",
        )
        .mode("overwrite")
        .save()
    )
    return url


def test_jdbc_full_copy(spark, derby_url):
    """S5 — full-table JDBC read (pl_sql_copy_bronze.json:301-376)."""
    out = read_jdbc(spark, derby_url, table="APP.SRC_TABLE")
    got = sorted((r["ID"], r["NAME"]) for r in out.collect())
    assert got == [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta")]


def test_jdbc_incremental_pushdown(spark, derby_url):
    """S6 — watermark predicate runs source-side: the JDBC scan receives
    the dynamic query, so only rows past the watermark cross the wire
    (pl_sql_copy_bronze.json:631-637)."""
    q = build_incremental_query("APP", "SRC_TABLE", "UPDATED_AT", "2024-01-02T00:00:00")
    out = read_jdbc(spark, derby_url, query=q)
    got = sorted(r["ID"] for r in out.collect())
    assert got == [3, 4]
    # empty watermark ⇒ full scan
    q0 = build_incremental_query("APP", "SRC_TABLE", "updated_at", "")
    assert read_jdbc(spark, derby_url, query=q0).count() == 4


# ---------------------------------------------------------------------------
# S14 — archive-copy+delete rotation
# ---------------------------------------------------------------------------


def test_archive_rotation(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    v1 = spark.createDataFrame([(1, "old")], "id INT, v STRING")
    v2 = spark.createDataFrame([(2, "new")], "id INT, v STRING")

    wh.overwrite(v1, "bronze", "customers")
    archived = wh.archive("bronze", "customers", "20240201")
    assert archived == "customers_20240201"
    # prior file moved out of bronze, preserved in archive
    assert not wh.exists("bronze", "customers")
    assert [r["v"] for r in wh.read("archive", "customers_20240201").collect()] == ["old"]

    wh.overwrite(v2, "bronze", "customers")
    assert [r["v"] for r in wh.read("bronze", "customers").collect()] == ["new"]
    # nothing to rotate → no-op
    assert wh.archive("bronze", "never_landed", "20240202") is None


def test_archive_is_a_rename(spark, tmp_path):
    """The rotation moves the table directory: every archived file keeps
    its inode (no byte is copied), the hard links between version
    directories stay shared, and the source is gone."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.overwrite(spark.createDataFrame([(1,)], "id INT"), "bronze", "c")
    wh.append(spark.createDataFrame([(2,)], "id INT"), "bronze", "c")
    src = wh.path("bronze", "c")
    inodes = {f.relative_to(src): f.stat().st_ino for f in src.rglob("*") if f.is_file()}
    wh.archive("bronze", "c", "20240201")
    dst = wh.path("archive", "c_20240201")
    assert not src.exists() and not wh.exists("bronze", "c")
    assert {f.relative_to(dst): f.stat().st_ino for f in dst.rglob("*") if f.is_file()} == inodes
    linked = [f for f in dst.rglob("*.parquet") if f.stat().st_nlink > 1]
    assert linked, "the appended version's forward links were copied apart"
    assert sorted(r.id for r in wh.read("archive", "c_20240201").collect()) == [1, 2]


def test_full_load_ingestion_archives_prior(spark, tmp_path):
    """run_ingestion full-load branch rotates the previous landing
    (pl_sql_copy_bronze.json:148-277) before overwriting."""
    from end_to_end_azure_data_engineering_spark.plans.audit import AuditLog
    from end_to_end_azure_data_engineering_spark.plans.ingestion import (
        SourceRow,
        run_ingestion,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    clock = FixedClock(dt.datetime(2024, 3, 1, 12, 0, 0))
    audit = AuditLog(wh, clock)
    row = SourceRow(
        source_type="fixture", db_name="srcdb", schema_name="dbo",
        table_name="orders", source_path="", target_file_name="orders",
        is_active=True, load_mode="full", watermark_column="",
    )
    batches = iter(
        [
            spark.createDataFrame([(1,)], "id INT"),
            spark.createDataFrame([(2,), (3,)], "id INT"),
        ]
    )
    resolvers = {"fixture": lambda r, wm: next(batches)}

    run_ingestion(audit, [row], resolvers)
    assert wh.read("bronze", "orders").count() == 1

    run_ingestion(audit, [row], resolvers)
    assert wh.read("bronze", "orders").count() == 2
    assert wh.read("archive", "orders_20240301120000").count() == 1


# ---------------------------------------------------------------------------
# M1 — Delta MERGE SQL golden shape (silver_transactions.py:123-201)
# ---------------------------------------------------------------------------


def test_scd2_merge_sql_golden():
    expire, insert = scd2_merge_sql(
        "silver.transactions",
        "stg_transactions",
        "transaction_key",
        ["transaction_key", "amount", "status"],
        ["transaction_key", "amount", "status"],
    )
    # expire pass: match current rows on key, null-unsafe <> change chain
    assert "MERGE INTO silver.transactions t USING stg_transactions s" in expire
    assert "ON t.transaction_key = s.transaction_key AND t.is_current = true" in expire
    assert "WHEN MATCHED AND (t.amount <> s.amount OR t.status <> s.status)" in expire
    assert "t.is_current = false" in expire
    # the key itself never appears in the change-detection chain
    assert "t.transaction_key <> s.transaction_key" not in expire
    # insert pass: NOT MATCHED against current rows, full payload + audit cols
    assert "WHEN NOT MATCHED THEN INSERT" in insert
    assert (
        "(transaction_key, amount, status, is_current, audit_insertdate, audit_modifieddate)"
        in insert
    )
    assert (
        "VALUES (s.transaction_key, s.amount, s.status, true, "
        "current_timestamp(), current_timestamp())" in insert
    )
