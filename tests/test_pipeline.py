"""End-to-end medallion pipeline tests (SURVEY §5 test plan items 2-3):
bronze→silver→gold over banking fixtures, then idempotence and SCD2
properties on re-runs.
"""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.engine.clock import FixedClock
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
from end_to_end_azure_data_engineering_spark.plans.pipeline import run_pipeline, run_silver
from end_to_end_azure_data_engineering_spark.plans.audit import AuditLog
from tests.fixtures_banking import bronze_frames


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("warehouse")))
    clock = FixedClock(dt.datetime(2024, 2, 1, 12, 0, 0))
    run_pipeline(wh, bronze_frames(spark), clock)
    return wh


def test_silver_tables_exist(wh):
    for t in ["transactions", "customers", "accounts", "settlements", "disputes",
              "products", "branches", "merchants", "counterparties", "mcc_codes", "fx_rates"]:
        assert wh.exists("silver", t), t
        assert wh.read("silver", t).count() > 0, t


def test_quarantine_flag_not_drop(wh):
    tx = wh.read("silver", "transactions")
    total = tx.count()
    quarantined = tx.filter(F.col("is_quarantined")).count()
    # dirty rows present (IN/OUT directions, bad currency, null amounts)
    # and retained, not dropped
    assert 0 < quarantined < total


def test_direction_vocabulary_rule(wh):
    """IN/OUT rows (generator vocab) are quarantined per the DQ rule as
    written (silver_transactions.py:101) — the pinned reference behavior."""
    tx = wh.read("silver", "transactions")
    in_out = tx.filter(F.col("direction").isin("IN", "OUT"))
    assert in_out.count() > 0
    assert in_out.filter(~F.col("is_quarantined")).count() == 0


def test_surrogate_keys(wh):
    tx = wh.read("silver", "transactions")
    row = tx.filter(F.col("merchant_id").isNotNull()).select(
        "transaction_id", "source_system", "transaction_key", "merchant_key"
    ).first()
    assert row.transaction_key == f"{row.transaction_id}-{row.source_system}"
    no_merchant = tx.filter(F.col("merchant_id").isNull()).select("merchant_key").first()
    assert no_merchant.merchant_key is None


def test_fx_latest_observation(wh):
    fx = wh.read("silver", "fx_rates")
    usd = fx.filter(F.col("currency_code") == "USD").collect()
    assert len(usd) == 1
    assert usd[0].rate == 1.09  # newest obs_date survives
    xxx = fx.filter(F.col("currency_code") == "XXX").collect()
    assert len(xxx) == 1 and xxx[0].is_quarantined  # flagged not dropped


def test_mcc_trimmed(wh):
    mcc = wh.read("silver", "mcc_codes").first()
    assert mcc.mcc_code == mcc.mcc_code.strip()


def test_gold_star_schema(wh):
    fact = wh.read("gold", "fact_transaction")
    tx = wh.read("silver", "transactions")
    expected = tx.filter(F.col("is_current") & ~F.col("is_quarantined")).count()
    assert fact.count() == expected
    # FK semantics per the reference: fk_customer_key comes from the account
    # row without validating the customer (fact_transaction.py:87-90), so a
    # fact may reference a customer missing from dim_customer *only if* that
    # customer is quarantined or superseded in silver. Every orphan fk must
    # resolve in silver.customers; clean+current customers are never orphaned.
    dim_c = wh.read("gold", "dim_customer")
    orphans = (
        fact.filter(F.col("fk_customer_key").isNotNull())
        .join(dim_c, fact.fk_customer_key == dim_c.customer_key, "left_anti")
        .select("fk_customer_key").distinct()
    )
    silver_c = wh.read("silver", "customers")
    unresolved = orphans.join(
        silver_c, orphans.fk_customer_key == silver_c.customer_key, "left_anti"
    )
    assert unresolved.count() == 0
    clean_current = silver_c.filter(F.col("is_current") & ~F.col("is_quarantined"))
    wrongly_orphaned = orphans.join(
        clean_current, orphans.fk_customer_key == clean_current.customer_key, "inner"
    )
    assert wrongly_orphaned.count() == 0


def test_fact_dispute_inherits_currency(wh):
    fd = wh.read("gold", "fact_dispute")
    assert fd.count() > 0
    with_txn = fd.filter(F.col("fk_account_key").isNotNull())
    assert with_txn.filter(F.col("currency").isNull()).count() == 0
    assert fd.select("dispute_amount").distinct().collect()[0][0] is None


def test_audit_bracketing(wh):
    audit = AuditLog(wh)
    logs = audit.read()
    assert logs.filter(F.col("status") == "STARTED").count() >= 18
    assert logs.filter(F.col("status") == "SUCCESS").count() >= 18
    assert logs.filter(F.col("status") == "FAILED").count() == 0
    # compaction folds the per-insert files without losing rows, and the
    # watermark fetch still works on the compacted layout
    n_before = audit.read().count()
    n_files = audit.compact(target_files=2)
    assert n_files <= 4
    assert audit.read().count() == n_before


def test_audit_bracket_rows(spark, tmp_path):
    """One bracket writes every stage's audit rows: STARTED, then SUCCESS
    with what the body reported, or FAILED with the error (truncated to
    4000 characters) before the error re-raises."""
    wh = Warehouse(spark, str(tmp_path / "bracket_wh"))
    audit = AuditLog(wh, FixedClock(dt.datetime(2024, 3, 1)))
    with audit.bracket("bank_a", "ok") as run:
        run.rows_processed, run.watermark_value = 7, "2024-01-02"
    with pytest.raises(RuntimeError, match="boom"):
        with audit.bracket("bank_a", "bad"):
            raise RuntimeError("boom" + "x" * 5000)
    rows = sorted(
        (r.source_object, r.status, r.rows_processed, r.watermark_value,
         len(r.error_message or ""), r.end_time is not None)
        for r in audit.read().collect()
    )
    assert rows == [
        ("bad", "FAILED", None, None, 4000, True),
        ("bad", "STARTED", None, None, 0, False),
        ("ok", "STARTED", None, None, 0, False),
        ("ok", "SUCCESS", 7, "2024-01-02", 0, True),
    ]


def test_audit_insert_failure_raises(spark, tmp_path, monkeypatch):
    """A failed audit row write raises to the caller instead of landing
    the row through a second write path; no row is written."""
    wh = Warehouse(spark, str(tmp_path / "insert_fail_wh"))
    audit = AuditLog(wh, FixedClock(dt.datetime(2024, 3, 1)))

    def refuse(*_args, **_kwargs):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(wh, "insert_file", refuse)
    with pytest.raises(OSError, match="No space left"):
        audit.start("bank_a", "x")
    monkeypatch.undo()
    assert audit.read().count() == 0


def test_audit_compact_on_versioned_warehouse(spark, tmp_path):
    """The audit sweep is one OVERWRITE version that keeps every row; a
    table already at the target is left alone."""
    vwh = Warehouse(spark, str(tmp_path / "audit_vwh"))
    audit = AuditLog(vwh, FixedClock(dt.datetime(2024, 3, 1)))
    for obj in ("a", "b", "c"):
        with audit.bracket("bank_a", obj) as run:
            run.rows_processed = 1
    n_rows = audit.read().count()
    v_before = vwh.current_version("audit", "audit_logs")
    assert audit.compact(target_files=1) == 1
    assert vwh.history("audit", "audit_logs")[0]["operation"] == "OVERWRITE"
    assert audit.read().count() == n_rows == 6
    v_after = vwh.current_version("audit", "audit_logs")
    assert v_after > v_before
    assert audit.compact(target_files=1) == 1
    assert vwh.current_version("audit", "audit_logs") == v_after


def test_idempotent_rerun_settlements_and_scd2(spark, wh):
    """M2: re-running the same batch adds no rows. M1: SCD2 history stable."""
    before_st = wh.read("silver", "settlements").count()
    before_tx = wh.read("silver", "transactions").count()
    clock2 = FixedClock(dt.datetime(2024, 2, 2, 12, 0, 0))
    run_silver(wh, bronze_frames(spark), clock2)
    assert wh.read("silver", "settlements").count() == before_st
    tx_after = wh.read("silver", "transactions")
    # unchanged source rows ⇒ no new versions, single current row per key
    assert tx_after.count() == before_tx
    dup_current = (
        tx_after.filter(F.col("is_current"))
        .groupBy("transaction_key").count().filter(F.col("count") > 1)
    )
    assert dup_current.count() == 0


def test_scd2_change_creates_history(spark, wh):
    """Changed attribute ⇒ old row expired + new current row (M1)."""
    import pandas as pd
    from tests.fixtures_banking import make_bank

    rows = make_bank("bank_a")["customers"]
    rows[0]["country"] = "Portugal"  # attribute change for CUST000000
    changed = spark.createDataFrame(pd.DataFrame(rows))
    clock3 = FixedClock(dt.datetime(2024, 2, 3, 12, 0, 0))
    run_silver(wh, {"customers": [(changed, "bank_a")]}, clock3)

    hist = wh.read("silver", "customers").filter(
        F.col("customer_key") == "CUST000000-bank_a"
    )
    assert hist.count() == 2
    cur = hist.filter(F.col("is_current")).collect()
    assert len(cur) == 1 and cur[0].country == "Portugal"
    old = hist.filter(~F.col("is_current")).collect()
    assert len(old) == 1 and old[0].country == "Luxembourg"


def test_quarantine_transition_expires_scd2_row(spark, wh):
    """Reference parity: the <> chain includes is_quarantined
    (silver_customers.py:116-117), so a NULL→value fix on a DQ column —
    which changes no payload compare column but flips the quarantine flag —
    still expires the current row and inserts a fresh one."""
    import pandas as pd
    from tests.fixtures_banking import make_bank

    rows = make_bank("bank_a")["customers"]
    rows[1]["dob"] = None  # DQ null_("dob") → quarantined, same payload
    q = spark.createDataFrame(pd.DataFrame(rows))
    key = f"{rows[1]['customer_id']}-bank_a"
    clock4 = FixedClock(dt.datetime(2024, 2, 4, 12, 0, 0))
    run_silver(wh, {"customers": [(q, "bank_a")]}, clock4)
    n_after_quarantine = (
        wh.read("silver", "customers").filter(F.col("customer_key") == key).count()
    )

    rows[1]["dob"] = dt.date(1990, 1, 1)  # fixed → flag flips back
    fixed = spark.createDataFrame(pd.DataFrame(rows))
    clock5 = FixedClock(dt.datetime(2024, 2, 5, 12, 0, 0))
    run_silver(wh, {"customers": [(fixed, "bank_a")]}, clock5)

    versions = wh.read("silver", "customers").filter(F.col("customer_key") == key)
    assert versions.count() == n_after_quarantine + 1
    cur = versions.filter(F.col("is_current")).collect()
    assert len(cur) == 1 and cur[0].is_quarantined is False


def test_per_bank_validation():
    """per_bank is load-bearing: tagless feeds to a per_bank entity (and
    tagged/multi feeds to a single-source one) fail loudly."""
    from end_to_end_azure_data_engineering_spark.plans.silver import (
        SILVER_SPECS, conform_entity,
    )

    with pytest.raises(ValueError, match="per_bank"):
        conform_entity(SILVER_SPECS["customers"], [(None, None)])
    with pytest.raises(ValueError, match="single-source"):
        conform_entity(SILVER_SPECS["fx_rates"], [(None, "bank_a")])


def test_pipeline_runs_on_versioned_warehouse_with_time_travel(spark, tmp_path):
    """Every publish of the medallion pipeline is a versioned commit: two
    runs produce two gold versions, yesterday's fact table stays
    time-travelable, and history records every publish — the Delta-ACID
    deployment story at the Warehouse seam."""
    vwh = Warehouse(spark, str(tmp_path / "vwh"))
    run_pipeline(vwh, bronze_frames(spark), FixedClock(dt.datetime(2024, 2, 1, 12)))
    v_first = vwh.current_version("gold", "fact_transaction")
    n_first = vwh.read("gold", "fact_transaction").count()
    run_pipeline(vwh, bronze_frames(spark), FixedClock(dt.datetime(2024, 2, 2, 12)))
    v_second = vwh.current_version("gold", "fact_transaction")
    assert v_second > v_first
    # yesterday's snapshot still reads exactly as it was published
    assert vwh.read("gold", "fact_transaction", version=v_first).count() == n_first
    ops = {h["operation"] for h in vwh.history("gold", "fact_transaction")}
    assert ops == {"OVERWRITE"}
    # audit rows must be VISIBLE through the version-pointer reads (the
    # driver-side arrow inserts publish as APPEND versions — the review
    # finding where they landed outside the version layout and every
    # watermark fetch silently returned None)
    audit_rows = vwh.read("audit", "audit_logs")
    assert audit_rows.count() > 0
    assert "APPEND" in {h["operation"] for h in vwh.history("audit", "audit_logs")}
