"""Gold star schema — 4 dims + 3 facts (SURVEY §1.1, §2.3 J1/J2, M3).

Dims are filtered projections of silver (current + non-quarantined for SCD2
entities — dim_customer.py:56-57; only non-quarantined for snapshot dims —
dim_merchant.py:52). Facts left-join their dims with the filters in the ON
clause so unmatched facts survive with NULL fks (fact_transaction.py:87-90,
fact_settlement.py:72-80, fact_dispute.py:74-82).

Scale: dims are bounded (≤ merchants ≈ hundreds per bank) ⇒ broadcast;
fact→dim joins never shuffle the fact table. refreshed_at comes from the
injected clock, not current_timestamp(), so runs are reproducible.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..engine.tableio import Warehouse
from ..operators.quality import current_valid


def _stamp(df: DataFrame, now: _dt.datetime) -> DataFrame:
    return df.withColumn("refreshed_at", F.lit(now).cast("timestamp"))


def build_dim_customer(wh: Warehouse, now: _dt.datetime) -> DataFrame:
    # 5_gold/dim_customer.py:42-58
    c = current_valid(wh.read("silver", "customers"))
    return _stamp(
        c.select(
            "customer_key", "customer_id", "first_name", "last_name", "dob",
            "country", "created_at", "updated_at", "source_system",
        ),
        now,
    )


def build_dim_account(wh: Warehouse, now: _dt.datetime) -> DataFrame:
    # 5_gold/dim_account.py:40-62
    a = current_valid(wh.read("silver", "accounts"))
    return _stamp(
        a.select(
            "account_key", "account_id", "customer_key", "customer_id", "iban",
            "product_id", "branch_id", "currency", "status", "opened_at",
            "closed_at", "source_system",
        ),
        now,
    )


def build_dim_merchant(wh: Warehouse, now: _dt.datetime) -> DataFrame:
    # 5_gold/dim_merchant.py:40-53 — snapshot dim: only the quarantine filter
    m = wh.read("silver", "merchants").filter(~F.col("is_quarantined"))
    return _stamp(
        m.select(
            "merchant_key", "merchant_id", "merchant_name", "mcc_code",
            "country", "city", "source_system",
        ),
        now,
    )


def build_dim_counterparty(wh: Warehouse, now: _dt.datetime) -> DataFrame:
    cp = wh.read("silver", "counterparties").filter(~F.col("is_quarantined"))
    return _stamp(
        cp.select(
            "counterparty_key", "counterparty_id", "counterparty_name",
            "counterparty_type", "bank_bic", "country", "source_system",
        ),
        now,
    )


def build_fact_transaction(wh: Warehouse, now: _dt.datetime) -> DataFrame:
    # 5_gold/fact_transaction.py:58-93 — J1 with ON-clause dim filters
    t = current_valid(wh.read("silver", "transactions"))
    a = current_valid(wh.read("silver", "accounts")).select("account_key", "customer_key")
    return _stamp(
        t.join(F.broadcast(a), "account_key", "left").select(
            "transaction_key", "transaction_id",
            F.col("account_key").alias("fk_account_key"), "account_id",
            F.col("customer_key").alias("fk_customer_key"),
            F.col("merchant_key").alias("fk_merchant_key"), "merchant_id",
            F.col("counterparty_key").alias("fk_counterparty_key"), "counterparty_id",
            "booking_ts", "value_ts", "amount", "currency", "direction",
            "channel", "txn_type", "status", "source_system",
        ),
        now,
    )


def _two_hop(fact: DataFrame, wh: Warehouse) -> DataFrame:
    """J2 — fact→transaction→account chain shared by settlement/dispute."""
    t = current_valid(wh.read("silver", "transactions")).select(
        "transaction_key", F.col("account_key").alias("_t_account_key"),
        F.col("currency").alias("_t_currency"),
    )
    a = current_valid(wh.read("silver", "accounts")).select(
        F.col("account_key").alias("_t_account_key"),
        F.col("customer_key").alias("_a_customer_key"),
    )
    return fact.join(t, "transaction_key", "left").join(
        F.broadcast(a), "_t_account_key", "left"
    )


def build_fact_settlement(wh: Warehouse, now: _dt.datetime) -> DataFrame:
    # 5_gold/fact_settlement.py:50-83
    s = wh.read("silver", "settlements").filter(~F.col("is_quarantined"))
    j = _two_hop(s, wh)
    return _stamp(
        j.select(
            "settlement_key", "settlement_id",
            F.col("transaction_key").alias("fk_transaction_key"), "transaction_id",
            F.col("_t_account_key").alias("fk_account_key"),
            F.col("_a_customer_key").alias("fk_customer_key"),
            "settlement_date", "settled_amount", "currency", "fx_rate_used",
            "fees", "settlement_status", "source_system",
        ),
        now,
    )


def build_fact_dispute(wh: Warehouse, now: _dt.datetime) -> DataFrame:
    # 5_gold/fact_dispute.py:55-91 reconciled with 4_silver/silver_disputes.py
    # :55-90 (SURVEY §7.3): reason→dispute_reason, outcome→dispute_status,
    # NULL dispute_amount, currency inherited from the transaction.
    d = current_valid(wh.read("silver", "disputes"))
    j = _two_hop(d, wh)
    return _stamp(
        j.select(
            "dispute_key", "dispute_id",
            F.col("transaction_key").alias("fk_transaction_key"), "transaction_id",
            F.col("_t_account_key").alias("fk_account_key"),
            F.col("_a_customer_key").alias("fk_customer_key"),
            F.col("reason").alias("dispute_reason"),
            F.col("outcome").alias("dispute_status"),
            F.lit(None).cast("double").alias("dispute_amount"),
            F.col("_t_currency").alias("currency"),
            F.col("opened_date").cast("timestamp").alias("created_at"),
            F.col("resolved_date").cast("timestamp").alias("resolved_at"),
            "source_system",
        ),
        now,
    )


GOLD_BUILDERS = {
    "dim_customer": build_dim_customer,
    "dim_account": build_dim_account,
    "dim_merchant": build_dim_merchant,
    "dim_counterparty": build_dim_counterparty,
    "fact_transaction": build_fact_transaction,
    "fact_settlement": build_fact_settlement,
    "fact_dispute": build_fact_dispute,
}

# gold DAG edges (pl_silver_to_gold.json:86-195): dims parallel → facts
GOLD_DEPS = {
    "dim_customer": [],
    "dim_account": [],
    "dim_merchant": [],
    "dim_counterparty": [],
    "fact_transaction": ["dim_customer", "dim_account"],
    "fact_settlement": ["dim_customer", "dim_account"],
    "fact_dispute": ["dim_customer", "dim_account"],
}

