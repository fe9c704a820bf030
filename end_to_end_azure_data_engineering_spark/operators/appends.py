"""Append-only load patterns — macro-ops M2 (idempotent append) and M3
(full refresh).

M2 (reference: 4_silver/silver_settlements.py:88-113): stage → LEFT ANTI
JOIN target on the business key → insert only absent keys. Re-running the
same batch is a no-op — the idempotence guarantee the reference relies on
for replayed file drops.

M3 (reference: 4_silver/silver_products.py:75-82 et al.): TRUNCATE +
INSERT SELECT ⇒ ``Warehouse.overwrite`` of the conformed batch; the new
table state is exactly the batch, so M3 needs no operator here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def append_if_absent(target: DataFrame, batch: DataFrame, key: str) -> DataFrame:
    """Post-append table state: target ∪ (batch rows whose key is absent).

    On Delta this is `MERGE WHEN NOT MATCHED THEN INSERT`; the anti-join
    below is the identical shuffle. The key join is broadcast-eligible when
    the incoming batch is small relative to the table.
    """
    new_rows = batch.join(target.select(key), on=key, how="left_anti")
    return target.unionByName(new_rows)


def table_diff(
    old: DataFrame, new: DataFrame, key: str, compare_cols: list[str] | None = None
) -> DataFrame:
    """Change-data-feed between two table snapshots (Delta CDF parity for
    the VersionedWarehouse: diff version N-1 against N instead of storing
    per-commit change files). Returns new-side rows stamped `_change` ∈
    {insert, update} plus old-side rows for deleted keys stamped `delete`;
    unchanged rows are dropped. One full-outer equi-join on the key — at
    scale both sides are the same bucketed layout, so the join co-locates.

    Change detection is null-safe (`eqNullSafe` per column): NULL→value and
    value→NULL transitions count as updates — note this is deliberately
    STRICTER than the reference's null-unsafe SCD2 `<>` (scd2.py), because
    a change FEED must not silently drop transitions; the SCD2 consumer
    can still apply its own null-unsafe policy downstream.
    """
    from pyspark.sql import functions as F

    cols = compare_cols or [c for c in new.columns if c != key]
    o = old.select(
        F.col(key).alias("_k_old"), *[F.col(c).alias(f"_old_{c}") for c in cols]
    )
    n = new.select(
        F.col(key).alias("_k_new"), *[F.col(c) for c in cols]
    )
    j = n.join(o, F.col("_k_new") == F.col("_k_old"), "full_outer")
    same = F.lit(True)
    for c in cols:
        same = same & F.col(c).eqNullSafe(F.col(f"_old_{c}"))
    change = (
        F.when(F.col("_k_old").isNull(), "insert")
        .when(F.col("_k_new").isNull(), "delete")
        .when(~same, "update")
    )
    out_cols = [
        F.coalesce(F.col("_k_new"), F.col("_k_old")).alias(key),
        *[
            F.when(F.col("_k_new").isNull(), F.col(f"_old_{c}"))
            .otherwise(F.col(c))
            .alias(c)
            for c in cols
        ],
    ]
    return (
        j.withColumn("_change", change)
        .filter(F.col("_change").isNotNull())
        .select(*out_cols, "_change")
    )
