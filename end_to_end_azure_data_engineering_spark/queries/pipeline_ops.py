"""Macro-op queries — SCD2 merge (M1) and idempotent append (M2) expressed
as multi-step fixtures over the events table whose *final state* is
SQL-expressible for the DuckDB oracle (SURVEY §5 test plan item 1).

Audit timestamps are excluded from the checked output (they come from an
injected clock; the oracle verifies row multiplicity + is_current flags,
which is the SCD2 semantics).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine.pin import pin as _pin
from ..functions import sketches as S
from ..operators.appends import append_if_absent
from ..operators.dedup import keep_latest
from ..operators.scd2 import scd2_init, scd2_merge, scd2_snapshot_asof
from . import load, register

_T0 = dt.datetime(2024, 2, 1, 0, 0, 0)
_T1 = dt.datetime(2024, 2, 2, 0, 0, 0)


def _earliest_per_user(e: DataFrame) -> DataFrame:
    return keep_latest(
        e, ["user_id"], [F.col("ts").asc_nulls_first(), F.col("event_id").asc_nulls_first()]
    ).select("user_id", "event_type", "value")


def _latest_per_user(e: DataFrame) -> DataFrame:
    return keep_latest(
        e, ["user_id"], [F.col("ts").desc_nulls_last(), F.col("event_id").desc_nulls_last()]
    ).select("user_id", "event_type", "value")


@register(
    "scd2_final_state",
    oracle="""
    WITH b1 AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST) AS rn
        FROM events) WHERE rn = 1
    ),
    b2 AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn
        FROM events) WHERE rn = 1
    ),
    changed AS (
      SELECT b1.user_id FROM b1 JOIN b2 USING (user_id)
      WHERE b1.event_type <> b2.event_type OR b1.value <> b2.value
    )
    SELECT b1.user_id, b1.event_type, b1.value,
           (b1.user_id NOT IN (SELECT user_id FROM changed)) AS is_current
    FROM b1
    UNION ALL
    SELECT b2.user_id, b2.event_type, b2.value, true AS is_current
    FROM b2 WHERE b2.user_id IN (SELECT user_id FROM changed)
    """,
)
def scd2_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch SCD2: initial load = earliest event per user; second batch =
    latest event per user. Changed users get an expired row + a new current
    row; unchanged users keep one current row — M1 semantics end-to-end
    (silver_transactions.py:123-201), null-unsafe `<>` change detection
    included."""
    # r14: both batch frames are pinned once — the merge references each
    # batch from several branches (expire/keep/survive/insert), and
    # Catalyst plans that DAG reuse as TREE DUPLICATION: the unpinned
    # plan executed 28 scan+window nodes for two logical window passes
    # (`tools/plan_audit.py --plans` prints the executed plans). The pins
    # are user-count bounded (state-table sized — what a real SCD2
    # deployment materializes as its staging batch anyway).
    e = load(spark, sf_dir, "events")
    target = scd2_init(_earliest_per_user(e).transform(_pin), _T0)
    merged = scd2_merge(
        target,
        _latest_per_user(e).transform(_pin),
        "user_id",
        ["event_type", "value"],
        _T1,
    )
    return merged.select("user_id", "event_type", "value", "is_current")


@register(
    "idempotent_append",
    oracle="""
    SELECT event_id, user_id, event_type, value
    FROM events
    WHERE event_id < 8000
    """,
)
def idempotent_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2 — anti-join insert-if-absent (silver_settlements.py:94-113):
    overlapping batches [0,5000) and [2500,8000) land each key exactly once;
    a replay of batch 2 inserts nothing."""
    e = load(spark, sf_dir, "events").select("event_id", "user_id", "event_type", "value")
    b1 = e.filter(F.col("event_id") < 5000)
    b2 = e.filter((F.col("event_id") >= 2500) & (F.col("event_id") < 8000))
    state = append_if_absent(b1, b2, "event_id")
    state = append_if_absent(state, b2, "event_id")  # replay → no-op
    return state


@register(
    "incremental_rollup_merge",
    oracle="""
    SELECT user_id,
           count(*) AS n_rows,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value,
           CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) / count(*)
               AS avg_value
    FROM events
    GROUP BY user_id
    """,
)
def incremental_rollup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental gold-rollup maintenance (operators/rollup.py): the
    events table plays three successive loads (event_id mod 3); each is
    aggregated to mergeable partial-aggregate form and folded into the
    standing rollup with merge_rollups — history is never rescanned, which
    is the O(batch) upgrade of the reference's truncate+rebuild gold
    refresh (M3, 5_gold/fact_transaction.py). The oracle recomputes the
    same statistics from the full raw table in one pass: merged
    partial-aggregate state must be indistinguishable from a full rebuild
    (sums kept on DECIMAL so re-association is exact; avg derived at read
    time from sum/count)."""
    from ..operators.rollup import merge_rollups, read_rollup, rollup_batch

    ev = load(spark, sf_dir, "events")
    batches = [
        rollup_batch(
            ev.filter(F.col("event_id") % 3 == i),
            keys=["user_id"],
            sum_cols=["value"],
            minmax_cols=["value"],
        )
        for i in range(3)
    ]
    merged = batches[0]
    for b in batches[1:]:
        merged = merge_rollups(merged, b, keys=["user_id"])
    return read_rollup(merged, avg_of=["value"]).select(
        "user_id", "n_rows", "sum_value", "min_value", "max_value", "avg_value"
    )


@register(
    "change_data_feed",
    oracle="""
    WITH old AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 3 <> 0
    ),
    new AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 7 <> 0
    )
    SELECT coalesce(n.o_orderkey, o.o_orderkey) AS o_orderkey,
           coalesce(n.o_orderstatus, o.o_orderstatus) AS o_orderstatus,
           coalesce(n.o_totalprice, o.o_totalprice) AS o_totalprice,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS _change
    FROM new n FULL OUTER JOIN old o ON n.o_orderkey = o.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
       OR n.o_totalprice IS DISTINCT FROM o.o_totalprice
    """,
)
def change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two snapshots (operators/appends.table_diff — the
    versioned Warehouse's Delta-CDF equivalent): orders plays version N-1
    and a mutated slice plays version N (keys dropped, keys added, every
    5th price bumped). Full-outer join on the key, null-safe change
    predicate, unchanged rows dropped. The +1.0 price mutation is exact in
    doubles, so the feed hashes cross-engine."""
    from ..operators.appends import table_diff

    o = load(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderkey") % 3 != 0).select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    new = o.filter(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 1.0
        ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
    )
    return table_diff(old, new, "o_orderkey")


_T2 = dt.datetime(2024, 2, 3, 0, 0, 0)


@register(
    "scd2_as_of_snapshot",
    oracle="""
    WITH b AS (
      SELECT user_id, event_type, value, event_id % 3 AS slice FROM (
        SELECT user_id, event_type, value, event_id,
               row_number() OVER (PARTITION BY user_id, event_id % 3
                                  ORDER BY ts DESC NULLS LAST,
                                           event_id DESC NULLS LAST) AS rn
        FROM events) WHERE rn = 1
    ),
    b0 AS (SELECT user_id, event_type, value FROM b WHERE slice = 0),
    b1 AS (SELECT user_id, event_type, value FROM b WHERE slice = 1),
    m AS (
      SELECT coalesce(b1.user_id, b0.user_id) AS user_id,
             -- b1 takes effect only when it null-unsafe-differs from b0 or
             -- b0 is absent; a NULL-vs-value comparison is NOT a change, so
             -- the b0 row stays (CASE's NULL condition falls to ELSE)
             b0.user_id IS NULL
               OR (b1.event_type <> b0.event_type) OR (b1.value <> b0.value)
                 AS takes,
             b0.event_type AS et0, b0.value AS v0,
             b1.event_type AS et1, b1.value AS v1,
             b1.user_id IS NOT NULL AS has1
      FROM b0 FULL OUTER JOIN b1 ON b0.user_id = b1.user_id
    )
    SELECT user_id,
           CASE WHEN has1 AND takes THEN et1 ELSE et0 END AS event_type,
           CASE WHEN has1 AND takes THEN v1 ELSE v0 END AS value
    FROM m
    """,
)
def scd2_as_of_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over SCD2 history: three batches (events sliced by
    event_id mod 3, latest per user each) merge at T0 < T1 < T2; the query
    reconstructs the state AS OF T1 via scd2_snapshot_asof — batch 0/1 rows
    that were later expired by batch 2 must reappear, and batch-2 inserts
    must vanish. The oracle is the closed form of that state: batch-1
    values take effect only where the null-unsafe `<>` chain fires (or no
    batch-0 row exists) — a NULL-vs-value comparison is NOT a change under
    the reference's merge predicate, so in that case the batch-0 row
    remains the state at T1. (The testdata carries no NULL payloads, but
    the closed form models the merge exactly either way.)

    r14 (VERDICT item 8, guide §2.4 one-exchange-for-same-key-work): the
    three per-batch dedups are ONE window pass partitioned by
    (user_id, slice) — window partitions are independent, so filtering
    slice k afterwards is row-identical to windowing the filtered slice
    (the oracle's own b CTE is written exactly this way). Previously
    each batch() call re-scanned events and ran its own window shuffle
    (Catalyst duplicates shared subtrees), 3 scans + 3 shuffles for the
    same keyed work. The deduped frame (≤ 3 rows per user — state-table
    sized) is pinned once; the merge chain itself still replays every
    batch unchanged."""
    e = load(spark, sf_dir, "events")
    dedup3 = (
        keep_latest(
            e.withColumn("_slice", F.col("event_id") % 3),
            ["user_id", "_slice"],
            [F.col("ts").desc_nulls_last(), F.col("event_id").desc_nulls_last()],
        )
        .select("user_id", "event_type", "value", "_slice")
        .transform(_pin)
    )

    def batch(k: int) -> DataFrame:
        return dedup3.filter(F.col("_slice") == k).select(
            "user_id", "event_type", "value"
        )

    state = scd2_init(batch(0), _T0)
    state = scd2_merge(state, batch(1), "user_id", ["event_type", "value"], _T1)
    state = scd2_merge(state, batch(2), "user_id", ["event_type", "value"], _T2)
    return scd2_snapshot_asof(state, _T1).select("user_id", "event_type", "value")


# ---------------------------------------------------------------------------
# Z-order layout — multi-dimensional clustering for scan pruning. The morton
# key interleaves 16 bits of each dimension so rows near each other in
# (custkey, orderdate) space land in the same bucket/file; min/max ranges
# per bucket are then TIGHT in BOTH dimensions, which is what lets a filter
# on either column skip files at 100 TB (the OPTIMIZE ZORDER BY twin). All
# bit math — hash-stable by construction.
# ---------------------------------------------------------------------------

_Z_EPOCH = "1992-01-01"
_Z_BITS = 16
_Z_BUCKET_SHIFT = 20  # 32-bit morton >> 20 → ≤4096 buckets




@register(
    "zorder_layout",
    oracle=f"""
    WITH dims AS (
      SELECT o_custkey % 65536 AS x,
             date_diff('day', DATE '{_Z_EPOCH}', o_orderdate) % 65536 AS y,
             o_custkey, o_orderdate
      FROM orders
    ),
    keyed AS (
      SELECT o_custkey, o_orderdate,
             CAST(list_sum(list_transform(range(0, {_Z_BITS}), b ->
               ((x >> b) & 1) * (CAST(1 AS BIGINT) << (2*b))
               + ((y >> b) & 1) * (CAST(1 AS BIGINT) << (2*b + 1)))) AS BIGINT)
                 AS morton
      FROM dims
    )
    SELECT morton >> {_Z_BUCKET_SHIFT} AS z_bucket,
           count(*) AS n_orders,
           min(o_custkey) AS min_custkey, max(o_custkey) AS max_custkey,
           min(o_orderdate) AS min_date, max(o_orderdate) AS max_date
    FROM keyed GROUP BY z_bucket
    """,
)
def zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order bucketing of orders on (custkey, orderdate): the
    data-layout op behind multi-column file skipping. The key is the
    closed-form bit-spread interleave (whole-stage-codegen arithmetic, no
    HOF); the bucket agg's min/max ranges are the skipping index a writer
    would persist as file stats. In production the bucket becomes
    repartitionByRange(morton) + sortWithinPartitions before the parquet
    write."""
    o = load(spark, sf_dir, "orders")
    dims = o.select(
        "o_custkey", "o_orderdate",
        (F.col("o_custkey") % 65536).alias("x"),
        (F.datediff(F.col("o_orderdate"), F.lit(_Z_EPOCH).cast("date")) % 65536).alias("y"),
    )
    from ..functions.zorder import morton_key

    morton = morton_key("x", "y")
    return (
        dims.withColumn("morton", morton)
        .select(
            F.shiftright(F.col("morton"), _Z_BUCKET_SHIFT).alias("z_bucket"),
            "o_custkey", "o_orderdate",
        )
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_orders"),
            F.min("o_custkey").alias("min_custkey"),
            F.max("o_custkey").alias("max_custkey"),
            F.min("o_orderdate").alias("min_date"),
            F.max("o_orderdate").alias("max_date"),
        )
    )


@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH sk AS (
      SELECT t.j AS j,
             {S.CMS_BUCKET_SQL('CAST(user_id AS VARCHAR)', 't.j')} AS b,
             CAST(count(*) AS BIGINT) AS c
      FROM events CROSS JOIN generate_series(0, {S.CMS_D - 1}) AS t(j)
      GROUP BY j, b
    ),
    top AS (
      SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT 20
    ),
    probes AS (
      SELECT top.user_id, top.exact_n, t.j AS j,
             {S.CMS_BUCKET_SQL('CAST(top.user_id AS VARCHAR)', 't.j')} AS b
      FROM top CROSS JOIN generate_series(0, {S.CMS_D - 1}) AS t(j)
    )
    SELECT p.user_id, p.exact_n, CAST(min(sk.c) AS BIGINT) AS cms_estimate
    FROM probes p JOIN sk ON sk.j = p.j AND sk.b = p.b
    GROUP BY p.user_id, p.exact_n
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch build + probe: the sketch (4 md5-salted rows x
    1024 buckets, functions/sketches.py::cms_entries) is one groupBy over
    exploded (row, bucket) entries — map-side combine reduces every
    partition to <= D*W counters before the shuffle, and two sketches
    merge by adding counters, so the build is a mergeable rollup partial
    like the HLL column. Probing the exact top-20 users compares each true
    count with the sketch's min-over-rows estimate (always >=, within N/W
    w.h.p.). All-integer arithmetic — bit-identical cross-engine."""

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id"), F.col("user_id").cast("string").alias("k")
    )
    entries = ev.select(F.explode(S.cms_entries(F.col("k"))).alias("e"))
    sk = (
        entries.select(F.col("e.j").alias("j"), F.col("e.b").alias("b"))
        .groupBy("j", "b")
        .agg(F.count("*").alias("c"))
    )
    top = (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), "user_id")
        .limit(20)
    )
    probes = top.select(
        "user_id",
        "exact_n",
        F.explode(S.cms_entries(F.col("user_id").cast("string"))).alias("e"),
    ).select("user_id", "exact_n", F.col("e.j").alias("j"), F.col("e.b").alias("b"))
    return (
        F.broadcast(probes)
        .join(sk, ["j", "b"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )
