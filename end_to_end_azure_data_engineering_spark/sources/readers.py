"""Source connectors — SURVEY §2.1 S1-S8.

Every reader returns a plain DataFrame; schema enforcement happens in the
conform step (schema-on-read bronze, fixed silver — SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    keep_corrupt: bool = False,
) -> DataFrame:
    """S7 — header, quote '\"', escape '\\'
    (generic_adls_flat_file_ds.json:33-38). No inferSchema: conform casts.

    ``keep_corrupt`` is the ADF fault-tolerance twin (the reference's copy
    activities default to skip-incompatible-rows): malformed lines land in
    a ``_corrupt_record`` column instead of failing the load, so the bad
    rows can be quarantined downstream like any other DQ violation rather
    than silently dropped. Requires an explicit ``schema`` (Spark only
    materializes _corrupt_record under a user schema)."""
    r = (
        spark.read.option("header", True)
        .option("quote", '"')
        .option("escape", "\\")
    )
    if keep_corrupt:
        if schema is None:
            raise ValueError("keep_corrupt requires an explicit schema")
        r = (
            r.schema(f"{schema}, _corrupt_record string")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt_record")
        )
    elif schema is not None:
        r = r.schema(schema)
    return r.csv(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str | None = None,
    query: str | None = None,
    options: dict | None = None,
) -> DataFrame:
    """S5/S6 — JDBC full-table or pushdown-query read
    (pl_sql_copy_bronze.json:301-376, 631-637). The watermark predicate is
    part of ``query`` so the filter executes source-side. Exercised against
    a real embedded Derby database (the driver ships in Spark's jars) in
    tests/test_jdbc_archive.py; `incremental_ingest` additionally covers
    the audited watermark cycle with parquet stand-ins."""
    reader = spark.read.format("jdbc").option("url", url)
    if query is not None:
        reader = reader.option("query", query)
    elif table is not None:
        reader = reader.option("dbtable", table)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def build_incremental_query(schema: str, table: str, wm_col: str, last_wm: str) -> str:
    """S6 — dynamic predicate; empty watermark ⇒ full scan
    (pl_sql_copy_bronze.json:632)."""
    base = f"SELECT * FROM {schema}.{table}"
    if last_wm:
        return f"{base} WHERE {wm_col} > '{last_wm}'"
    return base
