"""`scd2_merge_sql` coverage (VERDICT r1 item 6): the Delta MERGE twin was
untested code. No Delta jar is installable here and DuckDB 1.0 has no MERGE,
so the two statements are verified two ways:

1. golden-shape: the generated SQL reproduces the reference's MERGE
   structure (4_silver/silver_transactions.py:123-201) — ON key+is_current,
   null-unsafe `<>` OR-chain expire, NOT-MATCHED insert with audit columns.
2. semantic twin: the exact UPDATE/INSERT equivalence of those two MERGEs is
   executed on DuckDB against a fixture and the final table state must equal
   the plan-form `scd2_merge` output on the same fixture — including the
   latent null-unsafe rule (NULL→value transitions do NOT expire).
"""

from __future__ import annotations

import datetime as dt
import re

import duckdb

from end_to_end_azure_data_engineering_spark.operators.scd2 import (
    scd2_init,
    scd2_merge,
    scd2_merge_sql,
)

KEY = "txn_id"
COMPARE = ["txn_id", "amount", "status"]
PAYLOAD = ["txn_id", "amount", "status"]


def test_merge_sql_golden_shape():
    expire, insert = scd2_merge_sql("silver.txn", "stg", KEY, COMPARE, PAYLOAD)

    # both statements target the current slice of the key
    for sql in (expire, insert):
        assert re.search(r"MERGE INTO silver\.txn t USING stg s", sql)
        assert re.search(r"ON t\.txn_id = s\.txn_id AND t\.is_current = true", sql)

    # expire pass: null-unsafe <> OR-chain over non-key compare cols only,
    # flips is_current and stamps audit_modifieddate — nothing else
    assert "WHEN MATCHED AND (t.amount <> s.amount OR t.status <> s.status)" in expire
    assert "t.is_current = false" in expire
    assert "t.audit_modifieddate = current_timestamp()" in expire
    assert "t.txn_id <> s.txn_id" not in expire  # key never compared
    assert "INSERT" not in expire

    # insert pass: NOT MATCHED only, full payload + SCD2 flags in order
    assert "WHEN NOT MATCHED THEN INSERT" in insert
    assert (
        "(txn_id, amount, status, is_current, audit_insertdate, audit_modifieddate)"
        in insert
    )
    assert (
        "VALUES (s.txn_id, s.amount, s.status, true, current_timestamp(), current_timestamp())"
        in insert
    )
    assert "WHEN MATCHED" not in insert.replace("WHEN NOT MATCHED", "")


def _duck_merge(con, batch, ts) -> None:
    """The two MERGE statements' exact UPDATE/INSERT equivalents."""
    con.execute("DELETE FROM s")
    con.executemany(
        "INSERT INTO s VALUES (?, ?, ?)",
        [(r.txn_id, r.amount, r.status) for r in batch.collect()],
    )
    # MERGE 1 equivalent: matched-and-changed current rows expire
    con.execute(
        f"""
        UPDATE t SET is_current = false, audit_modifieddate = TIMESTAMP '{ts}'
        FROM s WHERE t.txn_id = s.txn_id AND t.is_current
          AND (t.amount <> s.amount OR t.status <> s.status)
        """
    )
    # MERGE 2 equivalent: source keys with no current row insert as current
    con.execute(
        f"""
        INSERT INTO t
        SELECT s.txn_id, s.amount, s.status, true,
               TIMESTAMP '{ts}', TIMESTAMP '{ts}'
        FROM s LEFT JOIN (SELECT txn_id FROM t WHERE is_current) c
          USING (txn_id)
        WHERE c.txn_id IS NULL
        """
    )


def test_merge_sql_semantics_match_plan_form(spark):
    """Execute the MERGE statements' exact UPDATE/INSERT equivalents on
    DuckDB; after each of two merges the final state must equal the
    plan-form scd2_merge (row multiset)."""
    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    t2 = dt.datetime(2024, 3, 1)
    schema = "txn_id INT, amount DOUBLE, status STRING"

    base = spark.createDataFrame(
        # 5: a target key no batch sends — its current row stays as is
        [(1, 100.0, "OPEN"), (2, 200.0, "OPEN"), (3, None, "OPEN"), (5, 500.0, "OPEN")],
        schema,
    )
    batch1 = spark.createDataFrame(
        # 1: changed → expire + insert; 2: unchanged → keep;
        # 3: NULL→value on amount only → null-unsafe <> must NOT expire;
        # 4: brand new → insert
        [(1, 150.0, "OPEN"), (2, 200.0, "OPEN"), (3, 300.0, "OPEN"), (4, 50.0, "NEW")],
        schema,
    )
    batch2 = spark.createDataFrame(
        # 1: changed again while its first version is already history;
        # 4: unchanged; 6: brand new; 2, 3, 5 absent
        [(1, 175.0, "CLOSED"), (4, 50.0, "NEW"), (6, 60.0, "NEW")],
        schema,
    )

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (txn_id INT, amount DOUBLE, status VARCHAR, "
        "is_current BOOLEAN, audit_insertdate TIMESTAMP, audit_modifieddate TIMESTAMP)"
    )
    con.executemany(
        "INSERT INTO t VALUES (?, ?, ?, true, ?, ?)",
        [(r.txn_id, r.amount, r.status, t0, t0) for r in base.collect()],
    )
    con.execute("CREATE TABLE s (txn_id INT, amount DOUBLE, status VARCHAR)")

    state = scd2_init(base, t0)
    for batch, ts in ((batch1, t1), (batch2, t2)):
        state = scd2_merge(state, batch, KEY, COMPARE, ts)
        plan_rows = sorted(
            tuple(r)
            for r in state.select(
                *PAYLOAD, "is_current", "audit_insertdate", "audit_modifieddate"
            ).collect()
        )
        _duck_merge(con, batch, ts)
        duck_rows = sorted(con.execute("SELECT * FROM t").fetchall())
        assert plan_rows == duck_rows, ts

    by_key = {}
    for r in duck_rows:
        by_key.setdefault(r[0], []).append(r)
    # the latent semantics explicitly: key 3 (NULL→300.0) kept its original
    # current row — no expire, no second version
    assert by_key[3] == [(3, None, "OPEN", True, t0, t0)]
    # key 5 was in no batch; key 1 went through two versions into history
    assert by_key[5] == [(5, 500.0, "OPEN", True, t0, t0)]
    assert sorted(by_key[1]) == [
        (1, 100.0, "OPEN", False, t0, t1),
        (1, 150.0, "OPEN", False, t1, t2),
        (1, 175.0, "CLOSED", True, t2, t2),
    ]


def test_merge_plans_one_join_over_one_batch_scan(spark, tmp_path):
    """The merge is one full-outer join of the current slice with the
    batch, which is scanned once: both MERGE passes come out of that one
    join, so the batch's lineage is planned and run once."""
    from tools.plan_audit import executed_plans, features

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 2, 1)
    schema = "txn_id INT, amount DOUBLE, status STRING"
    target = str(tmp_path / "target.parquet")
    source = str(tmp_path / "batch.parquet")
    scd2_init(
        spark.createDataFrame([(i, float(i), "OPEN") for i in range(50)], schema), t0
    ).write.parquet(target)
    spark.createDataFrame(
        [(i, float(i % 7), "OPEN") for i in range(25, 75)], schema
    ).write.parquet(source)

    plans = executed_plans(
        spark,
        lambda s, _: scd2_merge(
            s.read.parquet(target), s.read.parquet(source), KEY, COMPARE, t1
        ),
        "",
    )
    joins = features(plans)["joins"]
    assert sum(joins.values()) == 1, joins
    # the scan's Location is cut short in plan strings; the batch is the
    # scan without the SCD2 flag columns
    executed = [p.split("== Initial Plan ==")[0] for p in plans]
    batch_scans = [
        line
        for p in executed
        for line in p.splitlines()
        if "FileScan parquet" in line and "is_current" not in line
    ]
    assert len(batch_scans) == 1, executed


def test_snapshot_asof_null_unsafe_and_expiry(spark):
    """scd2_snapshot_asof reconstructs mid-history state, including the two
    cases the driver testdata cannot exercise: (a) a NULL source value does
    NOT expire the standing row (null-unsafe `<>`), so the as-of state
    keeps the older value; (b) a row expired AFTER the as-of point must
    reappear in the snapshot."""
    import datetime as dt

    from end_to_end_azure_data_engineering_spark.operators.scd2 import (
        scd2_init, scd2_merge, scd2_snapshot_asof,
    )
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    t0, t1, t2 = (dt.datetime(2024, 1, d) for d in (1, 2, 3))
    b0 = spark.createDataFrame([("a", 1.0), ("b", 2.0)], schema)
    b1 = spark.createDataFrame([("a", None), ("b", 5.0)], schema)  # a: NULL vs 1.0
    b2 = spark.createDataFrame([("b", 9.0)], schema)

    state = scd2_merge(scd2_init(b0, t0), b1, "k", ["v"], t1)
    state = scd2_merge(state, b2, "k", ["v"], t2)

    snap1 = {r.k: r.v for r in scd2_snapshot_asof(state, t1).collect()}
    # (a) NULL <> 1.0 is not a change: 'a' keeps 1.0 at t1
    # (b) 'b' changed at t1 (5.0) and again at t2 (9.0): the t1 row was
    #     expired at t2, but the t1 snapshot must still show 5.0
    assert snap1 == {"a": 1.0, "b": 5.0}

    snap2 = {r.k: r.v for r in scd2_snapshot_asof(state, t2).collect()}
    assert snap2 == {"a": 1.0, "b": 9.0}

    snap0 = {r.k: r.v for r in scd2_snapshot_asof(state, t0).collect()}
    assert snap0 == {"a": 1.0, "b": 2.0}
