"""SCD2 upsert (macro-op M1) — the reference's richest composite.

Reference semantics (4_silver/silver_transactions.py:123-201, two MERGEs):

  MERGE 1 (expire):  ON t.key = s.key AND t.is_current = true
                     WHEN MATCHED AND (t.c1 <> s.c1 OR ... OR t.cN <> s.cN)
                     THEN UPDATE is_current = false, audit_modifieddate = now
  MERGE 2 (insert):  ON t.key = s.key AND t.is_current = true
                     WHEN NOT MATCHED THEN INSERT (..., is_current = true,
                     audit_insertdate = now, audit_modifieddate = now)

Latent semantics we reproduce exactly: ``<>`` is **null-unsafe**, so a
NULL→value or value→NULL transition does NOT expire the current row
(SURVEY §7.3). After merge 1, changed keys have no current row, so merge 2
inserts them; unchanged matched keys keep their current row; brand-new keys
insert. History rows (`is_current = false`) are untouched.

This build has no Delta jar, so the merge is expressed as a declarative
plan producing the *new table state* (history ∪ expire-updated current ∪
inserts) which the caller overwrites atomically. Both MERGE passes come out
of ONE full-outer equi-join of the current slice with the batch: each
joined row yields the kept or expired current row, plus the batch row when
its key is new or changed. The batch is referenced once, so its lineage
(conform, quarantine, keep-latest window) is planned and run once, and
history rows bypass the join. A full-outer join cannot be broadcast, so it
is always the key-hash shuffle on both sides — the same shuffle MERGE
itself runs. On a Delta-enabled cluster, `scd2_merge_sql` emits the
identical two MERGE statements and the operator becomes two Delta commands
touching only matched files; at 100 TB that, plus hash-partitioning both
sides on the key, is the scale path.

The source must be pre-deduped per key (keep_latest), matching the
reference's mandatory pre-MERGE compaction.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _any_changed(compare_cols: list[str]) -> Column:
    """Null-unsafe `<>` OR-chain: fires only when both sides non-null and
    different — literal reference semantics (silver_transactions.py:127-143)."""
    cond = F.lit(False)
    for c in compare_cols:
        cond = cond | (F.col(c) != F.col(f"_src_{c}"))
    return F.coalesce(cond, F.lit(False))


def scd2_merge(
    target: DataFrame,
    source: DataFrame,
    key: str,
    compare_cols: list[str],
    now: _dt.datetime,
) -> DataFrame:
    """Return the post-merge table state (lazy plan; caller persists).

    target: full SCD2 table (payload + is_current, audit_insertdate,
            audit_modifieddate). source: conformed batch, unique per key,
            payload columns only.
    """
    ts = F.lit(now).cast("timestamp")

    hist = target.filter(~F.col("is_current"))
    cur = target.filter(F.col("is_current"))

    # _src_hit marks the batch side of the join (a NULL key cannot)
    src = source.select(
        F.col(key).alias("_src_key"),
        *[F.col(c).alias(f"_src_{c}") for c in source.columns if c != key],
        F.lit(True).alias("_src_hit"),
    )

    # one full-outer equi-join on the key serves both MERGE passes;
    # is_current is NULL exactly on the batch rows with no current row, and
    # _any_changed is false wherever either side is missing
    j = cur.join(src, cur[key] == src["_src_key"], "full_outer")
    has_cur = F.col("is_current").isNotNull()
    has_src = F.col("_src_hit").isNotNull()
    changed = _any_changed([c for c in compare_cols if c != key])

    # MERGE 1: the current row, kept or expired
    expire = {"is_current": F.lit(False), "audit_modifieddate": ts}
    standing = F.when(
        has_cur,
        F.struct(
            *[
                F.when(changed, expire[c]).otherwise(F.col(c)).alias(c)
                if c in expire
                else F.col(c)
                for c in target.columns
            ]
        ),
    )
    # MERGE 2: the batch row, for a new key or one just expired
    insert = {
        key: F.col("_src_key"),
        "is_current": F.lit(True),
        "audit_insertdate": ts,
        "audit_modifieddate": ts,
    }
    inserted = F.when(
        has_src & (~has_cur | changed),
        F.struct(
            *[
                (insert[c] if c in insert else F.col(f"_src_{c}")).alias(c)
                for c in target.columns
            ]
        ),
    )
    rows = j.select(
        F.inline(F.filter(F.array(standing, inserted), lambda r: r.isNotNull()))
    )
    return hist.unionByName(rows)


def scd2_init(source: DataFrame, now: _dt.datetime) -> DataFrame:
    """First load: everything current."""
    ts = F.lit(now).cast("timestamp")
    return (
        source.withColumn("is_current", F.lit(True))
        .withColumn("audit_insertdate", ts)
        .withColumn("audit_modifieddate", ts)
    )


def scd2_merge_sql(
    table: str, staging_view: str, key: str, compare_cols: list[str], payload_cols: list[str]
) -> tuple[str, str]:
    """The two Delta MERGE statements for a Delta-enabled deployment —
    byte-for-byte the reference's shape (silver_transactions.py:123-201)."""
    neq = " OR ".join(f"t.{c} <> s.{c}" for c in compare_cols if c != key)
    cols = ", ".join(payload_cols + ["is_current", "audit_insertdate", "audit_modifieddate"])
    vals = ", ".join([f"s.{c}" for c in payload_cols] + ["true", "current_timestamp()", "current_timestamp()"])
    expire = f"""
        MERGE INTO {table} t USING {staging_view} s
        ON t.{key} = s.{key} AND t.is_current = true
        WHEN MATCHED AND ({neq})
        THEN UPDATE SET t.is_current = false, t.audit_modifieddate = current_timestamp()
    """
    insert = f"""
        MERGE INTO {table} t USING {staging_view} s
        ON t.{key} = s.{key} AND t.is_current = true
        WHEN NOT MATCHED THEN INSERT ({cols}) VALUES ({vals})
    """
    return expire, insert


def scd2_snapshot_asof(table: DataFrame, ts: _dt.datetime) -> DataFrame:
    """Reconstruct the table state as of ``ts`` from SCD2 history — the
    row-validity twin of Delta time travel (``VERSION AS OF`` reads a
    storage version; this reads business validity, the query the reference's
    is_current-based silver layer supports implicitly).

    A row was in effect at ``ts`` iff it had been inserted by then
    (audit_insertdate <= ts) and had not yet been expired
    (is_current, or expired later: audit_modifieddate > ts). Pure filter —
    partition-prunable when the table is laid out by insert date."""
    t = F.lit(ts).cast("timestamp")
    return table.filter(
        (F.col("audit_insertdate") <= t)
        & (F.col("is_current") | (F.col("audit_modifieddate") > t))
    )
