"""Data-quality quarantine operator — SURVEY §2.2 quarantine catalog.

Reference semantics (4_silver/silver_transactions.py:94-102 and the nine
sibling catalogs): invalid rows are *flagged* ``is_quarantined = true``,
never dropped; the gold layer filters them out (5_gold/fact_transaction.py:91-92).

Rules are plain Column predicates OR-ed together — pure Catalyst
expressions, fully codegen'd, no UDFs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

Rule = Callable[[], Column]


def blank(col: str) -> Column:
    """Null or whitespace-only (reference: length(trim(c)) == 0)."""
    return F.col(col).isNull() | (F.length(F.trim(F.col(col))) == 0)


def null_(col: str) -> Column:
    return F.col(col).isNull()


def bad_length(col: str, n: int) -> Column:
    """e.g. ISO currency must be exactly 3 chars (silver_fx_rates.py:60-61)."""
    return F.length(F.col(col)) != n


def not_in(col: str, *allowed: str) -> Column:
    """Set-membership violation (silver_transactions.py:101)."""
    return ~F.col(col).isin(*allowed)


def negative(col: str) -> Column:
    return F.col(col) < 0


def non_positive(col: str) -> Column:
    """rate <= 0 (silver_fx_rates.py:62)."""
    return F.col(col) <= 0


def inverted_range(start_col: str, end_col: str) -> Column:
    """closed_at < opened_at (silver_accounts.py:89) — null-safe: only fires
    when both present."""
    return F.col(end_col).isNotNull() & (F.col(end_col) < F.col(start_col))


def apply_quarantine(df: DataFrame, rules: list[Column]) -> DataFrame:
    """OR all rule predicates into ``is_quarantined`` (the flag
    ``current_valid`` and the gold builders filter on). NULL predicate
    results (e.g. comparisons on NULL) are treated as not-violating,
    matching the reference's boolean OR-chain under coalesce-to-false
    semantics."""
    combined = F.lit(False)
    for r in rules:
        combined = combined | F.coalesce(r, F.lit(False))
    return df.withColumn("is_quarantined", combined)


def current_valid(df: DataFrame) -> DataFrame:
    """P5 — the gold-side filter: current, non-quarantined rows only
    (fact_transaction.py:91-92)."""
    out = df
    if "is_current" in df.columns:
        out = out.filter(F.col("is_current"))
    return out.filter(~F.col("is_quarantined"))
