"""Extended relational operators beyond the reference's surface.

SURVEY.md §2.3 notes the reference has no inner/right/full/semi/theta/range/
as-of joins and §2.4 no grouped rollups — these are the extensions that make
the engine a complete query surface (as-of joins are also the missing FX
rate-lookup the reference's design implies but never implements,
4_silver/silver_settlements.py:70).

Scale notes per query: the as-of join is the union+carry-forward form (one
shuffle, no join blow-up); the range join broadcasts the bounded band table;
the skew demo shows explicit salting (at 100 TB, AQE skew-join covers the
common case, salting covers pathological keys).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from . import epoch_us, load, register, spread
from ..engine.pin import collect_if_bounded, driver_frame, pin as _pin, release_checkpoints

# ---------------------------------------------------------------------------
# As-of join — for each purchase event, the latest strictly-earlier click of
# the same user. Implemented as union + last(ignorenulls) carry-forward over
# one (user_id, ts)-sorted window: a single shuffle on user_id, no
# probe×build row explosion, no range-join candidate blow-up. This is the
# 100 TB-safe as-of plan (the join+filter+row_number alternative materializes
# every (purchase, earlier-click) pair first).
# Determinism: ties at equal click ts carry the max value; a click at the
# exact purchase ts is excluded (strict <) by sorting purchases first.
# ---------------------------------------------------------------------------


@register(
    "asof_join_last_click",
    oracle="""
    WITH clicks AS (
        SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    purch AS (
        SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    ranked AS (
        SELECT p.event_id, c.ts AS cts, c.value AS cval,
               row_number() OVER (
                   PARTITION BY p.event_id ORDER BY c.ts DESC, c.value DESC
               ) AS rn
        FROM purch p JOIN clicks c
          ON c.user_id = p.user_id AND c.ts < p.ts
    )
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           r.cts AS last_click_ts,
           round(r.cval, 4) AS last_click_value
    FROM purch p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
      ON r.event_id = p.event_id
    """,
)
def asof_join_last_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts",
        F.lit(None).cast("bigint").alias("event_id"),
        F.col("ts").alias("click_ts"), F.col("value").alias("click_value"),
        F.lit(1).alias("_side"),  # clicks sort AFTER purchases at equal ts
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id",
        F.lit(None).cast("timestamp").alias("click_ts"),
        F.lit(None).cast("double").alias("click_value"),
        F.lit(0).alias("_side"),
    )
    # struct carries (ts, value) atomically so last() can't mix rows; value
    # in the sort key breaks equal-ts click ties as max-value (matches oracle)
    u = clicks.unionByName(purch).withColumn(
        "_click", F.when(F.col("_side") == 1, F.struct("click_ts", "click_value"))
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "_side", "click_value")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    carried = u.withColumn("_last", F.last("_click", ignorenulls=True).over(w))
    return carried.filter(F.col("_side") == 0).select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"),
        F.col("_last.click_ts").alias("last_click_ts"),
        F.round(F.col("_last.click_value"), 4).alias("last_click_value"),
    )


# ---------------------------------------------------------------------------
# Range (band) join — theta join of a fact against a small interval table.
# The band table is bounded ⇒ broadcast nested-loop; the fact side never
# shuffles. DuckDB runs its IEJoin on the same predicate.
# ---------------------------------------------------------------------------

_BANDS = [(f"b{i}", float(i * 12_500), float((i + 1) * 12_500)) for i in range(9)]


@register(
    "range_join_price_bands",
    oracle=f"""
    SELECT b.band,
           count(*) AS n_items,
           round(sum(l.l_extendedprice), 2) AS band_revenue
    FROM lineitem l
    JOIN (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in _BANDS)})
         AS b(band, lo, hi)
      ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
    GROUP BY b.band
    """,
)
def range_join_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        li.join(
            F.broadcast(bands),
            (F.col("l_extendedprice") >= F.col("lo"))
            & (F.col("l_extendedprice") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("band_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Set operations — INTERSECT / EXCEPT (absent from the reference, §2.7: the
# anti-join plays the except-by-key role there). Distinct set semantics.
# ---------------------------------------------------------------------------


@register(
    "set_ops_customers",
    oracle="""
    SELECT o_custkey AS cust_key FROM orders
    WHERE o_orderdate >= TIMESTAMP '1995-01-01' AND o_orderdate < TIMESTAMP '1996-01-01'
    INTERSECT
    SELECT o_custkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
)
def set_ops_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")

    def in_year(y: int) -> DataFrame:
        return o.filter(
            (F.col("o_orderdate") >= F.lit(f"{y}-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(f"{y + 1}-01-01").cast("timestamp"))
        ).select(F.col("o_custkey").alias("cust_key"))

    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("cust_key")
    )
    return in_year(1995).intersect(in_year(1996)).exceptAll(urgent.distinct())


# ---------------------------------------------------------------------------
# Correlated scalar subquery (TPC-H Q17 shape) — parts of one brand whose
# order quantity is below 20 % of that part's average. Spark form: per-part
# partial agg (map-side combined) joined back — no correlated re-scan per
# row; the brand filter prunes before the join.
# ---------------------------------------------------------------------------


@register(
    "scalar_subquery_below_avg",
    oracle="""
    SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           count(*) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4'
      AND l.l_quantity < (
          SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey
      )
    """,
)
def scalar_subquery_below_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4")
    per_part = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.2).alias("_qty_cap")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(per_part, "l_partkey")
        .filter(F.col("l_quantity") < F.col("_qty_cap"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar subquery + NOT EXISTS (TPC-H Q22 shape) — rich customers with no
# orders. Spark: one-row avg broadcast via cross join, then left-anti.
# ---------------------------------------------------------------------------


@register(
    "not_exists_rich_inactive",
    oracle="""
    SELECT c_mktsegment,
           count(*) AS n_customers,
           round(sum(c_acctbal), 2) AS total_acctbal
    FROM customer c
    WHERE c.c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    """,
)
def not_exists_rich_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    avg_bal = c.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# CUBE + GROUPING flags (rollup_agg covers ROLLUP; this adds the full cube
# lattice and the grouping() disambiguator for NULL group keys).
# ---------------------------------------------------------------------------


@register(
    "cube_grouping_flags",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_rf,
           GROUPING(l_linestatus) AS g_ls,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_grouping_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_rf"),
        F.grouping("l_linestatus").cast("int").alias("g_ls"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# Exact percentiles per group — linear-interpolated quantiles (Spark
# percentile == DuckDB quantile_cont). percentile_approx deliberately NOT
# used here: cross-engine sketches don't hash-match (see approx_distinct).
# ---------------------------------------------------------------------------


@register(
    "percentile_group_stats",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS q25,
           round(quantile_cont(l_quantity, 0.50), 4) AS q50,
           round(quantile_cont(l_quantity, 0.75), 4) AS q75,
           round(quantile_cont(l_extendedprice, 0.90), 4) AS price_p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def percentile_group_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.25), 4).alias("q25"),
        F.round(F.percentile("l_quantity", 0.50), 4).alias("q50"),
        F.round(F.percentile("l_quantity", 0.75), 4).alias("q75"),
        F.round(F.percentile("l_extendedprice", 0.90), 4).alias("price_p90"),
    )


# ---------------------------------------------------------------------------
# Array higher-order functions over the embedding column — JVM-side
# transform/aggregate (no Python UDF): L2 norm, element mean, dimension.
# The same HOF kernel backs the cosine ANN queries (similarity_ops).
# ---------------------------------------------------------------------------


@register(
    "array_hof_vector_stats",
    oracle="""
    SELECT vec_id,
           len(embedding) AS dim,
           round(sqrt(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
               (acc, x) -> acc + x)), 4) AS l2_norm,
           round(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list_transform(embedding, x -> CAST(x AS DOUBLE))),
               (acc, x) -> acc + x)
               / len(embedding), 4) + 0.0 AS elem_mean
    FROM embeddings
    """,
)
def array_hof_vector_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    sq_sum = F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x)
    el_sum = F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.sqrt(sq_sum), 4).alias("l2_norm"),
        # + 0.0 folds IEEE negative zero into +0.0: round(-3e-05, 4) gives
        # -0.0 on DuckDB and 0.0 on Spark, which hash differently
        (F.round(el_sum / F.size("embedding"), 4) + 0.0).alias("elem_mean"),
    )


# ---------------------------------------------------------------------------
# Salted skew join — explicit skew mitigation: the fact side gets a
# deterministic salt, the dim side is exploded ×SALT, the join key becomes
# (key, salt) so one hot key spreads over SALT reducers. Result is provably
# identical to the unsalted join (the oracle IS the unsalted join). At scale
# AQE skew-join handles moderate skew; salting is the explicit fallback for
# pathological keys. Dim explode ×8 is fine: dims are bounded (§1.1).
# ---------------------------------------------------------------------------

_SALT = 8


@register(
    "salted_skew_join",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS total_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment
    """,
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn(
        "_salt", F.pmod(F.col("event_id"), F.lit(_SALT)).cast("int")
    )
    cust = (
        load(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(_SALT - 1))))
    )
    return (
        ev.join(cust, (ev.user_id == cust.c_custkey) & (ev._salt == cust._salt))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Full outer join — reconcile two aggregates with partially disjoint key
# sets (heavy purchasers vs heavy error-producers), NULL-safe coalesced
# output. Completes the join-type family (§2.3 gap list).
# ---------------------------------------------------------------------------


@register(
    "full_outer_activity",
    oracle="""
    WITH p AS (
        SELECT user_id, count(*) AS n_purchases, round(sum(value), 2) AS spend
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id HAVING count(*) >= 16
    ),
    e AS (
        SELECT user_id, count(*) AS n_errors
        FROM events WHERE event_type = 'error'
        GROUP BY user_id HAVING count(*) >= 16
    )
    SELECT coalesce(p.user_id, e.user_id) AS user_id,
           coalesce(p.n_purchases, 0) AS n_purchases,
           coalesce(p.spend, 0.0) AS spend,
           coalesce(e.n_errors, 0) AS n_errors
    FROM p FULL OUTER JOIN e ON p.user_id = e.user_id
    """,
)
def full_outer_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_purchases"), F.round(F.sum("value"), 2).alias("spend"))
        .filter(F.col("n_purchases") >= 16)
    )
    e = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_errors"))
        .filter(F.col("n_errors") >= 16)
    )
    return p.join(e, "user_id", "full_outer").select(
        "user_id",
        F.coalesce("n_purchases", F.lit(0)).alias("n_purchases"),
        F.coalesce("spend", F.lit(0.0)).alias("spend"),
        F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
    )


# ---------------------------------------------------------------------------
# Sessionization (gaps-and-islands) — batch analogue of the streaming
# session window (streaming/ingest.py): a new session starts after a >30 min
# silence; session_id is the running count of session starts. One shuffle on
# user_id; at 100 TB this is the standard pre-partitioned clickstream rollup.
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000


@register(
    "sessionize_events",
    oracle=f"""
    WITH t AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_US}
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM t
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           (epoch_us(max(ts)) - epoch_us(min(ts))) // 1000 AS duration_ms
    FROM s
    GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    prev = F.lag(us).over(w)
    t = ev.withColumn(
        "new_session",
        F.when(prev.isNull() | ((us - prev) > _GAP_US), 1).otherwise(0),
    )
    s = t.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    # Integer millisecond duration: micros-diff div 1000 is exact integer
    # math on both engines (divide-then-round on doubles was the one
    # non-integer step and hash-mismatched in round 1).
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.expr(
            "div(unix_micros(cast(max(ts) as timestamp)) - unix_micros(cast(min(ts) as timestamp)), 1000)"
        ).alias("duration_ms"),
    )


# ---------------------------------------------------------------------------
# Approximate distinct — HyperLogLog++ sketch. Raw HLL estimates are
# engine-specific (Spark HLL++ vs DuckDB's sketch give different values for
# the same input), so the raw estimate can't be hash-compared. Instead the
# deterministic columns are hash-checked, and the HLL estimate is folded
# into a checkable claim: `approx_ok` asserts Spark's estimate lands within
# 3x the requested rsd of the exact count (Spark's HLL++ is deterministic
# for fixed input, so this boolean is stable), while the oracle states the
# same claim as TRUE. A wildly-off sketch now fails the driver's hash gate
# instead of escaping as a rows-only check.
# ---------------------------------------------------------------------------


@register(
    "approx_distinct_users",
    oracle="""
    SELECT event_type,
           count(DISTINCT user_id) AS exact_users,
           count(*) AS n_events,
           TRUE AS approx_ok
    FROM events
    GROUP BY event_type
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("_approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count("*").alias("n_events"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        (
            F.abs(F.col("_approx_users") - F.col("exact_users"))
            <= F.col("exact_users") * F.lit(0.03)
        ).alias("approx_ok"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q18 shape — semi-join against an aggregate (large-quantity orders).
# The HAVING subquery becomes a grouped agg reused as a semi-join build side;
# the outer 3-way join broadcasts customer (bounded dim).
# ---------------------------------------------------------------------------


@register(
    "large_order_customers",
    oracle="""
    SELECT c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           round(sum(l.l_quantity), 2) AS total_qty
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 250
    )
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 250)
        .select("l_orderkey")
    )
    return (
        o.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey", "left_semi")
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q11 shape — HAVING against a scalar-subquery fraction of the global
# total (high-value parts). Spark: two aggs over one scan + broadcast of the
# one-row total; no correlated re-evaluation.
# ---------------------------------------------------------------------------


@register(
    "important_part_value",
    oracle="""
    SELECT l_partkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
    FROM lineitem
    GROUP BY l_partkey
    HAVING sum(l_extendedprice * (1 - l_discount)) > (
        SELECT sum(l_extendedprice * (1 - l_discount)) * 0.0005 FROM lineitem
    )
    """,
)
def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    val = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.sum(val).alias("_v"))
    total = li.agg((F.sum(val) * 0.0005).alias("_cap"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("_v") > F.col("_cap"))
        .select("l_partkey", F.round("_v", 2).alias("part_value"))
    )


# ---------------------------------------------------------------------------
# TPC-H Q21 shape — correlated EXISTS + NOT EXISTS on the same fact: the
# sole returning supplier in multi-supplier finished orders. EXISTS ⇒
# left-semi, NOT EXISTS ⇒ left-anti, both with a non-equi suppkey term on
# top of the orderkey equi-join (equi part keeps them hash-joinable).
# ---------------------------------------------------------------------------


@register(
    "sole_returning_supplier",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE l1.l_returnflag = 'R' AND o.o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_returnflag = 'R')
    GROUP BY s.s_name
    """,
)
def sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load(spark, sf_dir, "supplier")
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .alias("l3")
    )
    cand = (
        l1.join(o.select("o_orderkey"), F.col("l1.l_orderkey") == F.col("o_orderkey"))
        .join(
            l2,
            (F.col("l1.l_orderkey") == F.col("l2.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l2.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l1.l_orderkey") == F.col("l3.l_orderkey"))
            & (F.col("l1.l_suppkey") != F.col("l3.l_suppkey")),
            "left_anti",
        )
    )
    return (
        cand.join(s, F.col("l1.l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


# ---------------------------------------------------------------------------
# Time-RANGE window frame — moving aggregate over a trailing 10-minute
# interval per user (rangeBetween on the event-time axis, vs the ROWS
# frames in window_running_and_lead). One shuffle on user_id; state per
# row is the in-range neighborhood, bounded by the interval.
# ---------------------------------------------------------------------------

_RANGE_US = 10 * 60 * 1_000_000


@register(
    "moving_avg_time_range",
    oracle=f"""
    SELECT event_id, user_id, ts,
           round(avg(value) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {_RANGE_US} PRECEDING AND CURRENT ROW
           ), 4) AS avg_10m,
           count(*) OVER (
               PARTITION BY user_id ORDER BY epoch_us(ts)
               RANGE BETWEEN {_RANGE_US} PRECEDING AND CURRENT ROW
           ) AS n_10m
    FROM events
    """,
)
def moving_avg_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(epoch_us("ts"))
        .rangeBetween(-_RANGE_US, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts",
        F.round(F.avg("value").over(w), 4).alias("avg_10m"),
        F.count("*").over(w).alias("n_10m"),
    )


# ---------------------------------------------------------------------------
# TPC-H Q7 shape — trade volume between two specific nations by year:
# customer-nation × supplier-nation pair filter inside a 5-way join, then
# (pair, year) rollup. All dims broadcast; lineitem never re-shuffles until
# the final small-key agg.
# ---------------------------------------------------------------------------


@register(
    "nation_trade_volume",
    oracle="""
    SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
           EXTRACT(year FROM l.l_shipdate) AS ship_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS volume,
           count(*) AS n_lines
    FROM lineitem l
    JOIN orders o    ON o.o_orderkey = l.l_orderkey
    JOIN customer c  ON c.c_custkey = o.o_custkey
    JOIN nation cn   ON cn.n_nationkey = c.c_nationkey
    JOIN supplier s  ON s.s_suppkey = l.l_suppkey
    JOIN nation sn   ON sn.n_nationkey = s.s_nationkey
    WHERE (cn.n_name = 'NATION_1' AND sn.n_name = 'NATION_2')
       OR (cn.n_name = 'NATION_2' AND sn.n_name = 'NATION_1')
    GROUP BY cn.n_name, sn.n_name, EXTRACT(year FROM l.l_shipdate)
    """,
)
def nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    cn = n.select(F.col("n_nationkey").alias("_cn_key"), F.col("n_name").alias("cust_nation"))
    sn = n.select(F.col("n_nationkey").alias("_sn_key"), F.col("n_name").alias("supp_nation"))
    pair = (
        (F.col("cust_nation") == "NATION_1") & (F.col("supp_nation") == "NATION_2")
    ) | ((F.col("cust_nation") == "NATION_2") & (F.col("supp_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("_cn_key"))
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("_sn_key"))
        .filter(pair)
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("volume"),
            F.count("*").alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q8 shape — market share: one brand's fraction of total revenue per
# year. sum(CASE)/sum over one joined frame — single agg pass, no second
# scan for the denominator.
# ---------------------------------------------------------------------------


@register(
    "brand_market_share",
    oracle="""
    SELECT EXTRACT(year FROM l.l_shipdate) AS ship_year,
           round(sum(CASE WHEN p.p_brand = 'Brand#4'
                          THEN l.l_extendedprice * (1 - l.l_discount)
                          ELSE 0 END)
                 / sum(l.l_extendedprice * (1 - l.l_discount)), 6) AS brand_share,
           round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS total_volume
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY EXTRACT(year FROM l.l_shipdate)
    """,
)
def brand_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    brand_rev = F.when(F.col("p_brand") == "Brand#4", rev).otherwise(F.lit(0))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.year("l_shipdate").alias("ship_year"))
        .agg(
            F.round(F.sum(brand_rev) / F.sum(rev), 6).alias("brand_share"),
            F.round(F.sum(rev), 2).alias("total_volume"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q9 shape — profit by supplier nation and year for parts matching a
# name pattern (LIKE filter pushes into the broadcast part scan).
# ---------------------------------------------------------------------------


@register(
    "product_profit_by_nation",
    oracle="""
    SELECT n.n_name AS nation, EXTRACT(year FROM l.l_shipdate) AS ship_year,
           round(sum(l.l_extendedprice * (1 - l.l_discount)
                     - 0.5 * p.p_retailprice * l.l_quantity), 2) AS profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%a%'
    GROUP BY n.n_name, EXTRACT(year FROM l.l_shipdate)
    """,
)
def product_profit_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part").filter(F.col("p_name").like("%a%"))
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.5 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), F.year("l_shipdate").alias("ship_year"))
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


# ---------------------------------------------------------------------------
# Schema-enforced JSON parsing — from_json into a typed struct (vs the
# per-path get_json_object in json_extract): one parse per row regardless
# of how many fields are read, malformed rows become NULL structs instead
# of erroring (PERMISSIVE), and the struct field feeds a grouped agg.
# ---------------------------------------------------------------------------


@register(
    "json_typed_agg",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
               AS sum_k,
           count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k,
           max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k,
           CAST(sum(CASE WHEN json_extract_string(props, '$.k') IS NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed
    FROM events
    GROUP BY event_type
    """,
)
def json_typed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Exact integer sum+count instead of round(avg(...)): the average is
    # recoverable as sum_k/n_k, and the BIGINT aggregates are
    # order-independent so the cross-engine hash is stable by construction
    # (round 1's double-division average hash-mismatched).
    ev = load(spark, sf_dir, "events")
    parsed = ev.withColumn("_p", F.from_json("props", "k BIGINT"))
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum("_p.k").alias("sum_k"),
        F.count("_p.k").alias("n_k"),
        F.max("_p.k").alias("max_k"),
        F.sum(F.when(F.col("_p.k").isNull(), 1).otherwise(0)).alias("n_unparsed"),
    )


# ---------------------------------------------------------------------------
# Top-k per group — rank window + filter (the grouped top-k that
# TakeOrderedAndProject can't do; Spark 3.5+ pushes the rank limit below
# the shuffle via WindowGroupLimit, so only ~k rows per group survive the
# exchange).
# ---------------------------------------------------------------------------


@register(
    "topk_orders_per_segment",
    oracle="""
    SELECT c_mktsegment, o_orderkey, o_totalprice, rk FROM (
        SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
               row_number() OVER (
                   PARTITION BY c.c_mktsegment
                   ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
               ) AS rk
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ) WHERE rk <= 3
    """,
)
def topk_orders_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("c_mktsegment", "o_orderkey", "o_totalprice", "rk")
    )


# ---------------------------------------------------------------------------
# Whole-partition window aggregates — per-user z-score anomaly flag
# (avg/stddev over the full partition, no frame): the streaming-adjacent
# outlier screen a training pipeline runs over telemetry. One shuffle on
# user_id; both moments come out of a single Window pass.
# ---------------------------------------------------------------------------


@register(
    "anomaly_zscore",
    oracle="""
    SELECT event_id, user_id, value,
           round((value - avg(value) OVER w) / stddev_samp(value) OVER w, 4) + 0.0
               AS z,
           CASE WHEN abs((value - avg(value) OVER w) / stddev_samp(value) OVER w) > 2.5
                THEN 1 ELSE 0 END AS is_anomaly
    FROM events
    WHERE event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id)
    """,
)
def anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = W.partitionBy("user_id")
    z = (F.col("value") - F.avg("value").over(w)) / F.stddev_samp("value").over(w)
    return ev.select(
        "event_id", "user_id", "value",
        (F.round(z, 4) + 0.0).alias("z"),
        F.when(F.abs(z) > 2.5, 1).otherwise(0).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS via the spark.sql string API — the engine's SQL surface
# (every other query is DataFrame-API; spark.sql hits the same Catalyst
# plan). Mixed sets: by (flag,status), by flag, by status — NOT the full
# cube (no grand total), which only GROUPING SETS can express directly.
# ---------------------------------------------------------------------------


@register(
    "grouping_sets_mixed",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           GROUPING(l_returnflag) AS g_rf, GROUPING(l_linestatus) AS g_ls,
           round(sum(l_extendedprice), 2) AS revenue, count(*) AS n_rows
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
    """,
)
def grouping_sets_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping(l_returnflag) AS INT) AS g_rf,
               CAST(grouping(l_linestatus) AS INT) AS g_ls,
               round(sum(l_extendedprice), 2) AS revenue, count(*) AS n_rows
        FROM lineitem_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), (l_linestatus))
        """
    )


# ---------------------------------------------------------------------------
# Statistical aggregates — correlation / covariance / variance per group
# (sample semantics match DuckDB's corr/covar_samp/var_samp).
# ---------------------------------------------------------------------------


@register(
    "price_discount_stats",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_extendedprice, l_discount), 6) + 0.0 AS price_disc_corr,
           round(covar_samp(l_extendedprice, l_discount), 6) + 0.0
               AS price_disc_covar,
           round(var_samp(l_quantity), 6) AS qty_var,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def price_discount_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        (F.round(F.corr("l_extendedprice", "l_discount"), 6) + 0.0).alias(
            "price_disc_corr"
        ),
        (F.round(F.covar_samp("l_extendedprice", "l_discount"), 6) + 0.0).alias(
            "price_disc_covar"
        ),
        F.round(F.var_samp("l_quantity"), 6).alias("qty_var"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
    )


# ---------------------------------------------------------------------------
# argmax aggregates — the value AT the extremum (max_by/min_by vs DuckDB
# arg_max/arg_min), composite ordering key for deterministic ties.
# ---------------------------------------------------------------------------


@register(
    "latest_event_value_per_user",
    oracle="""
    WITH keyed AS (
      SELECT user_id, value, event_type,
             lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0') || '-' ||
             lpad(CAST(event_id AS VARCHAR), 12, '0') AS k
      FROM events
    )
    SELECT user_id,
           arg_max(value, k) AS last_value,
           arg_max(event_type, k) AS last_type,
           arg_min(value, k) AS first_value,
           count(*) AS n_events
    FROM keyed
    GROUP BY user_id
    """,
)
def latest_event_value_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # composite ordering key as a zero-padded string (lexicographic ==
    # numeric): DuckDB's arg_max takes no struct keys, so both engines
    # order by the same scalar encoding of (ts, event_id)
    key = F.concat(
        F.lpad(epoch_us("ts").cast("string"), 20, "0"),
        F.lit("-"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    return ev.groupBy("user_id").agg(
        F.max_by("value", key).alias("last_value"),
        F.max_by("event_type", key).alias("last_type"),
        F.min_by("value", key).alias("first_value"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# UNPIVOT (melt) — wide→long reshaping, the inverse of the pivot query.
# Catalyst plans DataFrame.unpivot as Expand (same node family as CUBE /
# sliding windows): one pass, rows × n_value_columns output, no shuffle
# until the downstream agg.
# ---------------------------------------------------------------------------


@register(
    "unpivot_order_flags",
    oracle="""
    WITH wide AS (
      SELECT o_orderpriority,
             CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_finished,
             CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_open,
             CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pending
      FROM orders GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, status_bucket, n_orders
    FROM wide UNPIVOT (n_orders FOR status_bucket IN (n_finished, n_open, n_pending))
    """,
)
def unpivot_order_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via DataFrame.unpivot (§2 API completeness: the
    inverse of pivot_status_by_segment). DuckDB's UNPIVOT drops NULL value
    rows by default; counts here are never NULL so both sides agree without
    extra filters."""
    o = load(spark, sf_dir, "orders")

    def cnt(status: str):
        return F.sum(F.when(F.col("o_orderstatus") == status, 1).otherwise(0))

    wide = o.groupBy("o_orderpriority").agg(
        cnt("F").alias("n_finished"), cnt("O").alias("n_open"), cnt("P").alias("n_pending")
    )
    return wide.unpivot(
        ids=["o_orderpriority"],
        values=["n_finished", "n_open", "n_pending"],
        variableColumnName="status_bucket",
        valueColumnName="n_orders",
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM) — NULL keys MATCH
# each other, unlike plain equi-joins where NULL = NULL is NULL and the row
# drops. The semantic corner every dedup-on-nullable-key pipeline hits.
# ---------------------------------------------------------------------------


@register(
    "null_safe_key_match",
    oracle="""
    WITH a AS (
      SELECT CASE WHEN value < 10 THEN NULL ELSE event_type END AS k,
             count(*) AS n_a
      FROM events WHERE event_id % 2 = 0 GROUP BY 1
    ),
    b AS (
      SELECT CASE WHEN value < 10 THEN NULL ELSE event_type END AS k,
             count(*) AS n_b
      FROM events WHERE event_id % 2 = 1 GROUP BY 1
    )
    SELECT a.k, a.n_a, b.n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
)
def null_safe_key_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """eqNullSafe join: the NULL-keyed group on each side must pair up (a
    plain equi-join silently drops it). Spark plans <=> as a hash join on
    the key's null-wrapped struct — same shuffle shape as the equi-join."""
    ev = load(spark, sf_dir, "events")
    k = F.when(F.col("value") < 10, F.lit(None)).otherwise(F.col("event_type"))
    a = (
        ev.filter(F.col("event_id") % 2 == 0)
        .groupBy(k.alias("k"))
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        ev.filter(F.col("event_id") % 2 == 1)
        .groupBy(k.alias("k"))
        .agg(F.count("*").alias("n_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(a["k"], "n_a", "n_b")


# ---------------------------------------------------------------------------
# Calendar-spine gap detection — generate the full day range with
# F.sequence+explode, anti-join the observed days: "which days had no
# qualifying orders". The spine is bounded (days, not rows) so it
# broadcasts; the fact side contributes one distinct-days agg.
# ---------------------------------------------------------------------------


@register(
    "order_date_gaps",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS lo,
             CAST(max(o_orderdate) AS DATE) AS hi
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    observed AS (
      SELECT DISTINCT CAST(o_orderdate AS DATE) AS day
      FROM orders WHERE o_orderpriority = '1-URGENT'
    )
    SELECT s.day FROM spine s LEFT JOIN observed o USING (day)
    WHERE o.day IS NULL
    """,
)
def order_date_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Days inside the observed range with no urgent orders — the
    completeness check a daily-ingest pipeline runs on its watermark
    column. The day spine comes from one F.sequence over the min/max
    scalar row (bounded: |days| elements), exploded and anti-joined
    against the distinct observed days."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    days = o.select(F.col("o_orderdate").cast("date").alias("day"))
    bounds = days.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    return spine.join(days.distinct(), "day", "left_anti")


# ---------------------------------------------------------------------------
# Distribution windows — ntile / percent_rank / cume_dist (§2.5 gap: the
# statistical rank family beyond row_number/rank). percent_rank and
# cume_dist are exact integer-ratio divisions ((rk-1)/(n-1), cume/n) — IEEE
# deterministic, so they hash cross-engine without rounding tricks.
# ---------------------------------------------------------------------------


@register(
    "order_value_distribution",
    oracle="""
    SELECT o_orderkey, c_mktsegment,
           ntile(4) OVER w AS value_quartile,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cume
    FROM orders JOIN customer ON c_custkey = o_custkey
    WHERE o_totalprice > 400000
    WINDOW w AS (PARTITION BY c_mktsegment
                 ORDER BY o_totalprice ASC, o_orderkey ASC)
    """,
)
def order_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartile bucketing + exact distribution ranks per segment. The
    deterministic (price, orderkey) ordering makes ntile assignment
    unique. The >400000 filter trims a constant FRACTION of orders, so a
    `PARTITION BY c_mktsegment` window still sorts O(N) rows on each of
    5 tasks — rewritten on sharded_row_number + the closed-form rank
    family (r8), hash-verified by the unchanged SQL window oracle. The
    filtered join is pinned before the rank, which adapts plain-window/
    sharded by probed size (r9)."""
    from ..operators.ranks import (
        cume_dist_expr,
        ntile_expr,
        percent_rank_expr,
        sharded_row_number,
    )

    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    c = load(spark, sf_dir, "customer")
    # Dim uniqueness is a DECLARED property (r11, verdict item 2): the
    # loader registers customer's PK (engine/pkregistry), and the rank
    # router's proof walker trusts the PK scan side directly
    # (_pk_scan_unique) — the r10 groupBy(c_custkey).agg(first(...))
    # rewrite and its dim-sized exchange are gone, while the zero-job
    # bound (join output <= fact child) still holds with no probe job.
    base = o.join(c, F.col("o_custkey") == F.col("c_custkey")).select(
        "o_orderkey", "c_mktsegment", "o_totalprice"
    )
    ranked = sharded_row_number(
        base,
        ["c_mktsegment"],
        ["o_totalprice", "o_orderkey"],
        materialize=True,
    )
    return ranked.select(
        "o_orderkey",
        "c_mktsegment",
        ntile_expr("rn", "n_g", 4).alias("value_quartile"),
        percent_rank_expr("rn", "n_g").alias("pct_rank"),
        cume_dist_expr("rn", "n_g").alias("cume"),
    )


# ---------------------------------------------------------------------------
# Fuzzy string matching — levenshtein within blocking buckets: the entity-
# reconciliation primitive (same-name-different-spelling dims). Blocking on
# a cheap key (name length band) keeps the candidate set linear-ish — the
# same never-all-pairs discipline as the LSH dedup family.
# ---------------------------------------------------------------------------


@register(
    "fuzzy_name_match",
    oracle="""
    WITH c AS (
      SELECT c_custkey, c_name, length(c_name) AS ln
      FROM customer WHERE c_custkey % 7 = 0
    ),
    s AS (
      SELECT s_suppkey, s_name, length(s_name) AS ln
      FROM supplier
    )
    SELECT c.c_custkey, s.s_suppkey,
           levenshtein(c.c_name, s.s_name) AS edit_dist
    FROM c JOIN s ON s.ln BETWEEN c.ln - 1 AND c.ln + 1
    WHERE levenshtein(c.c_name, s.s_name) <= 10
    """,
)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join: candidates pair only within a +-1 name-length
    band, then exact Levenshtein filters. The band theta-join is rewritten
    as an EQUI-join (r7): each supplier row explodes into its 3 candidate
    band keys (ln-1, ln, ln+1) and the join keys on c_ln == band — a plain
    hash join that shuffles on the band key at scale, instead of the
    broadcast nested-loop the BETWEEN form forces (supplier grows with the
    corpus, so a broadcast build side is a scale-killer; 3x row fan-out on
    the smaller side is not). Integer distances hash cross-engine; at
    scale the blocking key would be a phonetic/prefix bucket with the
    identical plan shape."""
    c = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 7 == 0)
        .select("c_custkey", "c_name", F.length("c_name").alias("c_ln"))
    )
    s = load(spark, sf_dir, "supplier").select(
        "s_suppkey",
        "s_name",
        F.explode(
            F.array(
                F.length("s_name") - 1,
                F.length("s_name"),
                F.length("s_name") + 1,
            )
        ).alias("band"),
    )
    dist = F.levenshtein(F.col("c_name"), F.col("s_name"))
    return (
        c.join(s, F.col("c_ln") == F.col("band"))
        .filter(dist <= 10)
        .select("c_custkey", "s_suppkey", dist.alias("edit_dist"))
    )


# ---------------------------------------------------------------------------
# Window frame-function completeness — first/last/nth_value + lag-with-
# default over explicit ROWS frames (§2.5 remainder beyond
# row_number/rank/lead/lag). Pure value SELECTION from existing rows — no
# arithmetic, so cross-engine hashing is trivial; the explicit full frame
# on last_value avoids Spark's default RANGE..CURRENT frame trap.
# ---------------------------------------------------------------------------


@register(
    "window_frame_functions",
    oracle="""
    SELECT event_id, user_id,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER (PARTITION BY user_id
                                   ORDER BY ts ASC, event_id ASC
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                            AND UNBOUNDED FOLLOWING) AS last_val,
           nth_value(value, 2) OVER (PARTITION BY user_id
                                     ORDER BY ts ASC, event_id ASC
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND UNBOUNDED FOLLOWING) AS second_val,
           lag(value, 1, -1.0) OVER w AS prev_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
    """,
)
def window_frame_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return ev.select(
        "event_id", "user_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(wfull).alias("last_val"),
        F.nth_value("value", 2).over(wfull).alias("second_val"),
        F.lag("value", 1, -1.0).over(w).alias("prev_val"),
    )


# ---------------------------------------------------------------------------
# Error-safe arithmetic — try_divide semantics: zero denominators yield
# NULL instead of failing or producing Infinity. Spark's try_divide ==
# DuckDB's `/` (NULL on zero divisor), so the contract is pinned by hash.
# ---------------------------------------------------------------------------


@register(
    "safe_ratio_metrics",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_purchase,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_click
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_purchase, n_click,
           n_purchase / nullif(n_click, 0) AS purchase_per_click
    FROM per_user
    """,
)
def safe_ratio_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion ratio with zero-denominator users: F.try_divide returns
    NULL where a plain division would raise under ANSI mode — the
    error-safe arithmetic family (try_add/try_cast/try_divide) every
    quality pipeline leans on. Integer counts; one IEEE division."""
    ev = load(spark, sf_dir, "events")

    def cnt(t: str):
        return F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))

    per_user = ev.groupBy("user_id").agg(
        cnt("purchase").alias("n_purchase"), cnt("click").alias("n_click")
    )
    return per_user.select(
        "user_id", "n_purchase", "n_click",
        F.try_divide(F.col("n_purchase"), F.col("n_click")).alias("purchase_per_click"),
    )


# ---------------------------------------------------------------------------
# Nearest-asof join — the merge_asof(direction='nearest', tolerance=T)
# operator: each purchase pairs with the temporally CLOSEST click of the
# same user within ±1 hour, either direction (asof_join_last_click is the
# backward-only variant). The plan is an equi-join on user_id with the
# band predicate as a post-join filter — the shuffle keys on user_id alone,
# so at 100 TB this scales exactly like any keyed join (plus AQE skew
# handling for hot users); the per-purchase argmin is one partial-aggregable
# min(struct). Ties (equidistant before/after) break to the earlier click,
# then smaller value, deterministically on both engines.
# ---------------------------------------------------------------------------

_NEAREST_TOL_US = 3_600_000_000  # ±1 hour


@register(
    "asof_join_nearest",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    ranked AS (
      SELECT p.event_id, c.ts AS cts, c.value AS cval,
             epoch_us(c.ts) - epoch_us(p.ts) AS diff_us,
             row_number() OVER (
               PARTITION BY p.event_id
               ORDER BY abs(epoch_us(c.ts) - epoch_us(p.ts)), c.ts, c.value
             ) AS rn
      FROM purch p JOIN clicks c
        ON c.user_id = p.user_id
       AND abs(epoch_us(c.ts) - epoch_us(p.ts)) <= {_NEAREST_TOL_US}
    )
    SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
           r.cts AS nearest_click_ts,
           r.diff_us AS click_offset_us,
           round(r.cval, 4) AS nearest_click_value
    FROM purch p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
      ON r.event_id = p.event_id
    """,
)
def asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.col("value").alias("click_value"),
        epoch_us("ts").alias("_c_us"),
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("purchase_ts"),
        epoch_us("ts").alias("_p_us"),
    )
    j = purch.join(clicks, "user_id").filter(
        F.abs(F.col("_c_us") - F.col("_p_us")) <= _NEAREST_TOL_US
    )
    # argmin as a partial-aggregable min(struct): (|Δ|, ts, value) mirrors
    # the oracle's row_number ordering, then the payload rides along
    best = (
        j.groupBy("event_id")
        .agg(
            F.min(
                F.struct(
                    F.abs(F.col("_c_us") - F.col("_p_us")).alias("abs_us"),
                    F.col("click_ts").alias("cts"),
                    F.col("click_value").alias("cval"),
                    (F.col("_c_us") - F.col("_p_us")).alias("diff_us"),
                )
            ).alias("_b")
        )
    )
    return purch.join(best, "event_id", "left").select(
        "event_id", "user_id", "purchase_ts",
        F.col("_b.cts").alias("nearest_click_ts"),
        F.col("_b.diff_us").alias("click_offset_us"),
        F.round(F.col("_b.cval"), 4).alias("nearest_click_value"),
    )


# ---------------------------------------------------------------------------
# Ordered event funnel — view → click → purchase, each stage's timestamp at
# or after the previous stage's for the same user. Three user-keyed aggs
# chained by joins on user_id (co-partitioned; AQE broadcasts the shrinking
# stage frames). All outputs are exact counts.
# ---------------------------------------------------------------------------


@register(
    "funnel_conversion",
    oracle="""
    WITH v AS (
      SELECT user_id, min(ts) AS tv FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, min(e.ts) AS tc
      FROM events e JOIN v ON v.user_id = e.user_id AND e.ts >= v.tv
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, min(e.ts) AS tp
      FROM events e JOIN c ON c.user_id = e.user_id AND e.ts >= c.tc
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM v) AS n_view,
           (SELECT count(*) FROM c) AS n_view_click,
           (SELECT count(*) FROM p) AS n_view_click_purchase
    """,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered funnel: first view, first click at/after it, first
    purchase at/after that; output is the stage survivor counts."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id").agg(F.min("ts").alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("tv"))
        .groupBy("user_id").agg(F.min("ts").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("tc"))
        .groupBy("user_id").agg(F.min("ts").alias("tp"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(F.broadcast(c.agg(F.count("*").alias("n_view_click"))))
        .crossJoin(F.broadcast(p.agg(F.count("*").alias("n_view_click_purchase"))))
    )


# ---------------------------------------------------------------------------
# Retention cohort matrix — users grouped by first-activity week, counted in
# each later week they return. Two user-keyed aggs + one (cohort, offset)
# agg; weeks are exact integer epoch-day divisions.
# ---------------------------------------------------------------------------


@register(
    "retention_cohorts",
    oracle="""
    WITH w AS (
      SELECT user_id, epoch_us(ts) // (86400000000 * 7) AS week
      FROM events GROUP BY user_id, week
    ),
    first_w AS (SELECT user_id, min(week) AS cohort FROM w GROUP BY user_id)
    SELECT f.cohort AS cohort_week,
           w.week - f.cohort AS week_offset,
           count(*) AS n_users
    FROM w JOIN first_w f USING (user_id)
    GROUP BY cohort_week, week_offset
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: (first-activity week, week offset) → distinct
    returning users. The distinct (user, week) reduction happens FIRST, so
    the cohort join carries one row per user-week, not per event."""
    ev = load(spark, sf_dir, "events")
    week = (epoch_us("ts") / F.lit(86_400_000_000 * 7)).cast("long")
    w = ev.select("user_id", week.alias("week")).distinct()
    first_w = w.groupBy("user_id").agg(F.min("week").alias("cohort"))
    return (
        w.join(first_w, "user_id")
        .groupBy(
            F.col("cohort").alias("cohort_week"),
            (F.col("week") - F.col("cohort")).alias("week_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# Overlapping-interval merge — gaps-and-islands over derived validity spans
# (order date .. +orderkey%30 days, per customer). The island detector is a
# running max of span ends per customer; all window partitions are bounded
# by per-customer order counts.
# ---------------------------------------------------------------------------


@register(
    "merge_overlapping_intervals",
    oracle="""
    WITH spans AS (
      SELECT o_custkey, CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE) + CAST(o_orderkey % 30 AS INTEGER) AS e
      FROM orders
    ),
    flagged AS (
      SELECT o_custkey, s, e,
             CASE WHEN s > max(e) OVER (
                 PARTITION BY o_custkey ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR max(e) OVER (
                 PARTITION BY o_custkey ORDER BY s, e
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             THEN 1 ELSE 0 END AS new_island
      FROM spans
    ),
    islands AS (
      SELECT o_custkey, s, e,
             sum(new_island) OVER (
                 PARTITION BY o_custkey ORDER BY s, e
                 ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    )
    SELECT o_custkey, min(s) AS merged_start, max(e) AS merged_end,
           count(*) AS n_spans
    FROM islands GROUP BY o_custkey, island
    """,
)
def merge_overlapping_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge overlapping per-customer validity spans (gaps-and-islands):
    a span starts a new island iff it begins after the running max of all
    previous span ends. Two windows on the same (custkey, s, e) ordering —
    one sort, bounded partitions."""
    o = load(spark, sf_dir, "orders")
    spans = o.select(
        "o_custkey",
        F.to_date(F.col("o_orderdate")).alias("s"),
        F.date_add(F.col("o_orderdate"), (F.col("o_orderkey") % 30).cast("int")).alias("e"),
    )
    w_prev = (
        W.partitionBy("o_custkey").orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_run = (
        W.partitionBy("o_custkey").orderBy("s", "e")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    prev_max_e = F.max("e").over(w_prev)
    flagged = spans.withColumn(
        "new_island",
        F.when(prev_max_e.isNull() | (F.col("s") > prev_max_e), 1).otherwise(0),
    )
    islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
    return islands.groupBy("o_custkey", "island").agg(
        F.min("s").alias("merged_start"),
        F.max("e").alias("merged_end"),
        F.count("*").alias("n_spans"),
    ).drop("island")
    # (island id is the grouping key but not part of the reported shape)


# ---------------------------------------------------------------------------
# Cumulative distinct users per day — first-seen reduction then a bounded
# day-keyed cumsum (the window frame is #days, never #events).
# ---------------------------------------------------------------------------


@register(
    "cumulative_distinct_users",
    oracle="""
    WITH du AS (
      SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      GROUP BY user_id, day
    ),
    daily AS (SELECT day, count(*) AS n_active FROM du GROUP BY day),
    firsts AS (
      SELECT min(day) AS first_day FROM du GROUP BY user_id
    ),
    new_per_day AS (
      SELECT first_day AS day, count(*) AS n_new FROM firsts GROUP BY first_day
    )
    SELECT d.day,
           d.n_active,
           coalesce(n.n_new, 0) AS n_new,
           CAST(sum(coalesce(n.n_new, 0)) OVER (
               ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS n_cumulative
    FROM daily d LEFT JOIN new_per_day n USING (day)
    """,
)
def cumulative_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives, new users, and the running total of distinct users
    ever seen. The global window runs over one row per DAY (bounded —
    ~thousands of rows at any corpus size), never over events; the heavy
    reductions are keyed aggs."""
    ev = load(spark, sf_dir, "events")
    day = (epoch_us("ts") / F.lit(86_400_000_000)).cast("long")
    du = ev.select("user_id", day.alias("day")).distinct()
    daily = du.groupBy("day").agg(F.count("*").alias("n_active"))
    firsts = du.groupBy("user_id").agg(F.min("day").alias("day"))
    new_per_day = firsts.groupBy("day").agg(F.count("*").alias("n_new"))
    joined = daily.join(new_per_day, "day", "left").select(
        "day", "n_active", F.coalesce("n_new", F.lit(0)).alias("n_new")
    )
    w = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    return joined.withColumn("n_cumulative", F.sum("n_new").over(w))


# ---------------------------------------------------------------------------
# Market-basket co-purchase pairs — the classic association mining shape.
# The pair fan-out is bounded by ORDER size (items per order), never corpus
# size: the self-join keys on l_orderkey, so at 100 TB the shuffle carries
# order-sized groups and the pair space is Σ k_i², not N².
# ---------------------------------------------------------------------------


@register(
    "copurchase_pairs",
    oracle="""
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           count(*) AS n_orders_together,
           CAST(sum(a.l_quantity + b.l_quantity) AS BIGINT) AS units_together
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY part_a, part_b
    HAVING count(*) >= 2
    """,
)
def copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part pairs bought together in ≥2 orders, with order and unit counts
    — the support counts feeding association rules. One order-keyed
    self-join (co-partitioned after the first shuffle) + one pair-keyed
    agg. spread() on the projected scan (r13 opt): a single-row-group
    parquet file pins the scan to ONE task, which then executes the
    join+pair-explosion+partial-agg map single-threaded (measured 1.2 s
    of 2.0 s total at sf0.1; 2.0 → 1.5 s with the round-robin fan-out).
    At production scale the scan arrives in thousands of splits and
    spread() is a no-op — no extra exchange."""
    li = spread(
        load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    )
    a = li.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_a"),
        F.col("l_quantity").alias("q_a"),
    )
    b = li.select(
        "l_orderkey",
        F.col("l_partkey").alias("part_b"),
        F.col("l_quantity").alias("q_b"),
    )
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(
            F.count("*").alias("n_orders_together"),
            F.sum(F.col("q_a") + F.col("q_b")).cast("bigint").alias("units_together"),
        )
        .filter(F.col("n_orders_together") >= 2)
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation — recency/frequency/monetary quartiles assigned
# by BROADCAST percentile boundaries, not a global ntile: an ntile needs a
# total order (one task sorting every customer — the exact single-partition
# window the plan guard bans), whereas three exact quartile scalars
# broadcast back give the same segmentation as pure comparisons, fully
# parallel at any customer count. Dates quartile via exact epoch-day ints.
# ---------------------------------------------------------------------------


@register(
    "rfm_segmentation",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             date_diff('day', DATE '1970-01-01', CAST(max(o_orderdate) AS DATE))
                 AS last_day,
             count(*) AS freq,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM orders GROUP BY o_custkey
    ),
    q AS (
      SELECT quantile_cont(last_day, 0.25) AS r1, quantile_cont(last_day, 0.5) AS r2,
             quantile_cont(last_day, 0.75) AS r3,
             quantile_cont(freq, 0.25) AS f1, quantile_cont(freq, 0.5) AS f2,
             quantile_cont(freq, 0.75) AS f3,
             quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2,
             quantile_cont(monetary, 0.75) AS m3
      FROM per_cust
    )
    SELECT 1 + CAST(last_day > q.r1 AS INT) + CAST(last_day > q.r2 AS INT)
             + CAST(last_day > q.r3 AS INT) AS r,
           1 + CAST(freq > q.f1 AS INT) + CAST(freq > q.f2 AS INT)
             + CAST(freq > q.f3 AS INT) AS f,
           1 + CAST(monetary > q.m1 AS INT) + CAST(monetary > q.m2 AS INT)
             + CAST(monetary > q.m3 AS INT) AS m,
           count(*) AS n_customers
    FROM per_cust CROSS JOIN q
    GROUP BY r, f, m
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM cells: each customer scored 1-4 per dimension by comparison
    against the exact quartile boundaries (9 scalars, one broadcast row);
    count the resulting lattice. Quartile arithmetic is exact: recency is
    integer epoch-days, frequency integer, monetary decimal-accumulated —
    interpolated quantiles of exact inputs match quantile_cont/percentile
    bit-for-bit (the established percentile parity)."""
    o = load(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(F.max("o_orderdate"), F.lit("1970-01-01").cast("date")).alias("last_day"),
        F.count("*").alias("freq"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("monetary"),
    )
    q = per_cust.agg(
        F.percentile("last_day", 0.25).alias("r1"),
        F.percentile("last_day", 0.5).alias("r2"),
        F.percentile("last_day", 0.75).alias("r3"),
        F.percentile("freq", 0.25).alias("f1"),
        F.percentile("freq", 0.5).alias("f2"),
        F.percentile("freq", 0.75).alias("f3"),
        F.percentile("monetary", 0.25).alias("m1"),
        F.percentile("monetary", 0.5).alias("m2"),
        F.percentile("monetary", 0.75).alias("m3"),
    )

    def bucket(col, b1, b2, b3):
        return (
            F.lit(1)
            + (F.col(col) > F.col(b1)).cast("int")
            + (F.col(col) > F.col(b2)).cast("int")
            + (F.col(col) > F.col(b3)).cast("int")
        )

    return (
        per_cust.crossJoin(F.broadcast(q))
        .select(
            bucket("last_day", "r1", "r2", "r3").alias("r"),
            bucket("freq", "f1", "f2", "f3").alias("f"),
            bucket("monetary", "m1", "m2", "m3").alias("m"),
        )
        .groupBy("r", "f", "m")
        .agg(F.count("*").alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# Trending top-k per time window — the "what's hot right now" query: top-3
# users by summed value in each hourly bucket. The rank window partitions
# by the hour bucket (bounded groups); the corpus-sized work is the keyed
# (hour, user) pre-aggregation before it. Streaming twin: the same shape
# over windowed_counts' tumbling windows with output-mode complete.
# ---------------------------------------------------------------------------

_TREND_US = 3_600_000_000  # 1 hour


@register(
    "trending_users_hourly",
    oracle=f"""
    WITH hourly AS (
      SELECT epoch_us(ts) // {_TREND_US} AS hour_bucket,
             user_id,
             CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
             count(*) AS n_events
      FROM events GROUP BY hour_bucket, user_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (
          PARTITION BY hour_bucket
          ORDER BY total_value DESC, user_id ASC) AS rnk
      FROM hourly
    )
    SELECT hour_bucket, rnk, user_id, total_value, CAST(n_events AS BIGINT) AS n_events
    FROM ranked WHERE rnk <= 3
    """,
)
def trending_users_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 users by decimal-exact summed value per hour bucket;
    deterministic user_id tie-break. Spark plans the rank-filter as
    WindowGroupLimit (per-partition top-k pushed below the full sort)."""
    ev = load(spark, sf_dir, "events")
    # positive epoch values: floor division == integer cast division
    hourly = (
        ev.select(
            (epoch_us("ts") / _TREND_US).cast("long").alias("hour_bucket"),
            "user_id",
            "value",
        )
        .groupBy("hour_bucket", "user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
            F.count("*").alias("n_events"),
        )
    )
    w = W.partitionBy("hour_bucket").orderBy(
        F.col("total_value").desc(), F.col("user_id").asc()
    )
    return (
        hourly.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("hour_bucket", "rnk", "user_id", "total_value", "n_events")
    )


# ---------------------------------------------------------------------------
# Declarative data-contract report — the expectations pattern (null rates,
# range bounds, vocabulary membership) as ONE conditional-aggregation pass:
# every rule is a CASE-sum over the same scan, so adding expectations never
# adds jobs. This generalizes the silver quarantine catalog into a
# monitoring artifact an operator tracks per load.
# ---------------------------------------------------------------------------

_ORDER_EXPECTATIONS = [
    ("custkey_not_null", "o_custkey IS NULL"),
    ("totalprice_positive", "o_totalprice <= 0"),
    ("orderdate_in_range",
     "o_orderdate < DATE '1992-01-01' OR o_orderdate > DATE '1998-12-31'"),
    ("status_in_vocab", "o_orderstatus NOT IN ('O', 'F', 'P')"),
    ("priority_wellformed", "o_orderpriority NOT LIKE '_-%'"),
]


@register(
    "table_expectations_report",
    oracle=f"""
    SELECT * FROM (
      {" UNION ALL ".join(
        f"SELECT '{name}' AS expectation, "
        f"CAST(sum(CASE WHEN {pred} THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, "
        f"count(*) AS n_rows FROM orders"
        for name, pred in _ORDER_EXPECTATIONS
      )}
    )
    """,
)
def table_expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Violation counts per declared expectation over orders. The Spark
    side computes every rule in one aggregation and unpivots to the
    report shape; the oracle spells the same counts as a UNION (DuckDB
    re-reads per branch — the single-pass form is the point of the Spark
    plan). All exact integers."""
    o = load(spark, sf_dir, "orders")
    agg = o.agg(
        F.count("*").alias("n_rows"),
        *[
            F.sum(F.when(F.expr(pred), 1).otherwise(0)).alias(name)
            for name, pred in _ORDER_EXPECTATIONS
        ],
    )
    stack = ", ".join(f"'{name}', {name}" for name, _ in _ORDER_EXPECTATIONS)
    return agg.selectExpr(
        f"stack({len(_ORDER_EXPECTATIONS)}, {stack}) AS (expectation, n_violations)",
        "n_rows",
    ).select("expectation", "n_violations", "n_rows")


# ---------------------------------------------------------------------------
# Event transition matrix — Markov next-event counts per user sequence.
# One user-keyed window (lead) feeds one grouped count; the per-from-type
# probability normalization runs over the tiny #types x #types grouped frame,
# never the event stream. Deterministic ordering: (ts, event_id) tie-break.
# ---------------------------------------------------------------------------


@register(
    "event_transition_matrix",
    oracle="""
    WITH seq AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ),
    m AS (
      SELECT event_type AS from_type, next_type AS to_type,
             CAST(count(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY from_type), 6) AS p
    FROM m
    """,
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts and row-normalized probabilities between
    consecutive events of each user's timeline — the session-behavior
    summary behind next-event prediction features. The lead() window
    shuffles once on user_id (same key as every other per-user op, so AQE
    reuses the exchange when composed); normalization windows over the
    grouped #types^2 frame only."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    m = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    wt = W.partitionBy("from_type")
    return m.select(
        "from_type",
        "to_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wt), 6).alias("p"),
    )


# ---------------------------------------------------------------------------
# PageRank over the co-purchase graph — 3 unrolled power iterations in
# FIXED-POINT integer arithmetic (rank in millionths): every operation is
# exact integer math (floor-div contributions, 85/100 damping), so the
# result is bit-identical regardless of summation order or engine — the
# same cross-engine floor-div discipline as the corpus sampling ops.
# Per iteration: one src-keyed join + one dst-keyed agg (two shuffles),
# the canonical distributed PageRank shape; the edge list is materialized
# once (localCheckpoint) and reused by all three iterations.
# ---------------------------------------------------------------------------


def pagerank_iterations_plan(ew: DataFrame, iterations: int = 3) -> DataFrame:
    """The DISTRIBUTED 3-iteration PageRank chain over a pinned
    (src, dst, d) edge+degree frame — the 100 TB path. Exact bigint math:
    contributions floor-divide by degree, damping is (85*sum) div 100."""
    ranks = ew.select(F.col("src").alias("node")).distinct().withColumn(
        "r", F.lit(1_000_000).cast("long")
    )
    for _ in range(iterations):
        contrib = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .select("dst", F.expr("r div d").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
        )
        ranks = contrib.select(
            F.col("dst").alias("node"),
            (F.lit(150_000) + F.expr("(85 * s) div 100")).cast("long").alias("r"),
        )
    # degrees come from the CHECKPOINTED frame — joining the original `deg`
    # here would re-run the whole pair-mining self-join a second time at the
    # final action (measured: ~2x the query)
    dd = ew.select("src", "d").distinct()
    return (
        ranks.join(dd, ranks["node"] == dd["src"])
        .select(
            F.col("node").alias("part"),
            F.col("r").alias("rank_millionths"),
            F.col("d").alias("degree"),
        )
        .orderBy(F.desc("rank_millionths"), "part")
        .limit(100)
    )


def _pagerank_local(pairs, iterations: int = 3) -> list[tuple]:
    """Driver-side replica of pagerank_iterations_plan over collected
    undirected (pa, pb) pairs: degrees are counted here and each pair is
    walked in both directions, so no directed edge list is built. EXACT
    integer math: every quantity is a positive int, Spark's ``div``
    truncates toward zero which equals Python's ``//`` for non-negative
    operands, and bigint sums are exact in Python. Returns the top-100
    (part, rank_millionths, degree) rows in the same (rank desc, part
    asc) order."""
    deg: dict = {}
    for a, b in pairs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    ranks = dict.fromkeys(deg, 1_000_000)
    for _ in range(iterations):
        acc = dict.fromkeys(deg, 0)
        for a, b in pairs:
            acc[b] += ranks[a] // deg[a]
            acc[a] += ranks[b] // deg[b]
        ranks = {n: 150_000 + (85 * v) // 100 for n, v in acc.items()}
    out = [(n, r, deg[n]) for n, r in ranks.items()]
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:100]


@register(
    "pagerank_copurchase",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a
      JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb
      HAVING count(*) >= 2
    ),
    edges AS (
      SELECT pa AS src, pb AS dst FROM pairs
      UNION ALL
      SELECT pb AS src, pa AS dst FROM pairs
    ),
    deg AS (
      SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY src
    ),
    r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
    it1 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * sum(r0.r // g.d)) // 100 AS BIGINT) AS r
      FROM edges e JOIN r0 ON r0.node = e.src JOIN deg g ON g.src = e.src
      GROUP BY e.dst
    ),
    it2 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * sum(it1.r // g.d)) // 100 AS BIGINT) AS r
      FROM edges e JOIN it1 ON it1.node = e.src JOIN deg g ON g.src = e.src
      GROUP BY e.dst
    ),
    it3 AS (
      SELECT e.dst AS node,
             CAST(150000 + (85 * sum(it2.r // g.d)) // 100 AS BIGINT) AS r
      FROM edges e JOIN it2 ON it2.node = e.src JOIN deg g ON g.src = e.src
      GROUP BY e.dst
    )
    SELECT it3.node AS part, it3.r AS rank_millionths, g.d AS degree
    FROM it3 JOIN deg g ON g.src = it3.node
    ORDER BY rank_millionths DESC, part
    LIMIT 100
    """,
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 parts by 3-iteration PageRank over the >=2-support
    co-purchase graph — the link-analysis quality signal (damping 0.85,
    symmetric edges, so every node has in- and out-degree and no dangling
    mass). Ranks are exact bigint millionths; contributions floor-divide
    by degree, damping is (85*sum) div 100.

    ADAPTIVE, one budget rule (``engine.pin.collect_if_bounded``): the
    undirected ≥2-support (pa, pb) pairs are pinned (either route needs
    them materialized once) and probed once. When their driver payload
    (two fixed-width longs plus per-row overhead, 48 B per pair) fits ⅛
    of ``spark.driver.maxResultSize``, degrees and the three iterations
    run as exact driver-side int math over that one collect: the graph
    is support-bound — tiny relative to the corpus at any scale — so the
    distributed chain's 3 join+agg stage pairs were pure stage
    scheduling here. Otherwise the directed edge+degree frame is derived
    from the pinned pairs, pinned itself, and the distributed chain runs
    over it (the 100 TB path); both pins are released even if an
    iteration fails. Either way the ≤100 result rows come back as an
    Arrow local relation (``engine.pin.driver_frame``: no job, no Python
    worker) and the call leaves no pins behind; route equality is pinned
    by tests/test_functions.py::test_pagerank_local_route."""
    from pyspark.sql.types import LongType, StructField, StructType

    # spread() on the projected scan (r13 opt): same single-task-scan
    # fan-out as copurchase_pairs — no-op at production split counts
    li = spread(load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    # >=2-support co-purchase pairs: a per-order self-join plus support
    # aggregation, pinned once — the only shuffles the local route pays
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
        .transform(_pin)
    )
    schema = StructType(
        [
            StructField("part", pairs.schema["pa"].dataType, True),
            StructField("rank_millionths", LongType(), True),
            StructField("degree", LongType(), True),
        ]
    )
    local = collect_if_bounded(pairs)
    if local is not None:
        return driver_frame(spark, _pagerank_local(local), schema)
    try:
        directed = pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionByName(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        deg = directed.groupBy("src").agg(F.count("*").alias("d"))
        ew = directed.join(deg, "src").transform(_pin)
        try:
            rows = pagerank_iterations_plan(ew).collect()
        finally:
            release_checkpoints(ew)
    finally:
        release_checkpoints(pairs)
    return driver_frame(spark, rows, schema)


# ---------------------------------------------------------------------------
# Round 5: triangle enumeration on the co-purchase graph, user-level
# session rollups, month-over-month revenue growth.
# ---------------------------------------------------------------------------


@register(
    "copurchase_triangles",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT e1.pa AS part_a, e1.pb AS part_b, e2.pb AS part_c
    FROM pairs e1
    JOIN pairs e2 ON e2.pa = e1.pb
    JOIN pairs e3 ON e3.pa = e1.pa AND e3.pb = e2.pb
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangles in the >=2-support co-purchase graph — the clustering
    signal link-analysis uses beyond pairwise lift (a triangle is three
    parts each co-purchased with the other two). Classic sorted-orientation
    enumeration: every edge is stored once as (low, high), so each triangle
    is found exactly once via wedge (a<b<c) closure — the join fan-out is
    sum-of-degree², never edges³, and the closing join is an equi-join on
    the full (pa, pb) pair, all hash-partitionable. At 100 TB the support
    filter is the knob that bounds the wedge set."""
    # spread() on the projected scan (r13 opt): same single-task-scan
    # fan-out as copurchase_pairs — no-op at production split counts
    li = spread(load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        .select("pa", "pb")
        # three self-join branches below: materialize the (bounded,
        # >=2-support) edge list once instead of re-mining the per-order
        # self-join three times
        .transform(_pin)
    )
    e1 = pairs.select(F.col("pa").alias("part_a"), F.col("pb").alias("part_b"))
    e2 = pairs.select(F.col("pa").alias("part_b"), F.col("pb").alias("part_c"))
    e3 = pairs.select(F.col("pa").alias("part_a"), F.col("pb").alias("part_c"))
    return e1.join(e2, "part_b").join(e3, ["part_a", "part_c"]).select(
        "part_a", "part_b", "part_c"
    )


@register(
    "session_dwell_stats",
    oracle=f"""
    WITH t AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_US}
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM t
    ),
    sess AS (
        SELECT user_id, session_id,
               count(*) AS n_events,
               epoch_us(max(ts)) - epoch_us(min(ts)) AS dwell_us
        FROM s GROUP BY user_id, session_id
    )
    SELECT user_id,
           count(*) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(sum(dwell_us) AS BIGINT) AS total_dwell_us,
           CAST(sum(dwell_us) AS DOUBLE) / count(*) AS avg_dwell_us
    FROM sess GROUP BY user_id
    """,
)
def session_dwell_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level session rollup on top of the 30-min-gap sessionization:
    session count, bounce count (1-event sessions), and dwell time —
    the engagement summary a product-analytics consumer derives from
    sessionize_events' row-level output. Dwell sums are exact integer
    microseconds; avg is ONE division of two exact values (hash-stable).
    Same scale shape as sessionize_events: everything partitions by
    user_id, no global state."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "event_id")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = epoch_us("ts")
    prev = F.lag(us).over(w)
    t = ev.withColumn(
        "new_session",
        F.when(prev.isNull() | ((us - prev) > _GAP_US), 1).otherwise(0),
    )
    s = t.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)),
    )
    sess = s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        (F.max(us) - F.min(us)).alias("dwell_us"),
    )
    return sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)).alias("n_bounces"),
        F.sum("dwell_us").alias("total_dwell_us"),
        (F.sum("dwell_us").cast("double") / F.count("*")).alias("avg_dwell_us"),
    )


@register(
    "revenue_mom_growth",
    oracle="""
    WITH m AS (
      SELECT strftime(o_orderdate, '%Y-%m') AS month,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue,
             count(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT month, n_orders, revenue,
           lag(revenue) OVER (ORDER BY month) AS prev_revenue,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 6) AS growth_pct
    FROM m
    """,
)
def revenue_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth — the BI trend line every revenue
    dashboard opens with. Monthly sums accumulate in DECIMAL (exact) and
    cast to DOUBLE once, so the value is summation-order-independent; the
    growth ratio is arithmetic on those two exact-valued doubles. The lag
    window runs over the MONTH frame (one row per month — bounded by
    calendar time, the same documented class as cumulative_distinct_users),
    never order rows."""
    o = load(spark, sf_dir, "orders")
    m = (
        o.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_orders"),
        )
    )
    w = W.orderBy("month")
    prev = F.lag("revenue").over(w)
    return m.select(
        "month",
        "n_orders",
        "revenue",
        prev.alias("prev_revenue"),
        F.round(F.lit(100.0) * (F.col("revenue") - prev) / prev, 6).alias(
            "growth_pct"
        ),
    )


@register(
    "ship_latency_histogram",
    oracle="""
    SELECT o_orderpriority,
           CAST(date_diff('day', CAST(o_orderdate AS DATE),
                          CAST(l_shipdate AS DATE)) AS BIGINT) AS latency_days,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1, 2
    """,
)
def ship_latency_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency distribution per priority class — the
    fulfillment-SLA histogram (a priority class whose latency tail grows
    is the ops alert). Exact integer day differences; one fact-fact
    shuffle on orderkey, then a tiny (priority × day) histogram combine."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            "o_orderpriority",
            F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
            .cast("long")
            .alias("latency_days"),
        )
        .groupBy("o_orderpriority", "latency_days")
        .agg(F.count("*").alias("n_items"))
    )


@register(
    "weekday_seasonality",
    oracle="""
    WITH c AS (
      SELECT CAST(dayofweek(ts) + 1 AS BIGINT) AS dow, event_type,
             count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT dow, event_type, n,
           CAST(n AS DOUBLE) / CAST(sum(n) OVER (PARTITION BY event_type)
                                    AS BIGINT) AS share
    FROM c
    """,
)
def weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × event-type seasonality profile with within-type
    share — the traffic-shape fingerprint batch schedulers and anomaly
    baselines read. Counts are exact; each share is ONE division of two
    exact integers (the window sum runs over ≤7 rows per event_type).
    Spark dayofweek is 1=Sunday..7; DuckDB's is 0=Sunday..6, aligned with
    +1 in the oracle."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    c = (
        ev.select(F.dayofweek("ts").cast("long").alias("dow"), "event_type")
        .groupBy("dow", "event_type")
        .agg(F.count("*").alias("n"))
    )
    w = W.partitionBy("event_type")
    return c.select(
        "dow",
        "event_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(w)).alias("share"),
    )


@register(
    "cohort_value_ltv",
    oracle="""
    WITH firsts AS (
      SELECT user_id, strftime(min(ts), '%Y-%m') AS cohort_month
      FROM events GROUP BY user_id
    )
    SELECT f.cohort_month,
           count(DISTINCT e.user_id) AS n_users,
           count(*) AS n_events,
           CAST(sum(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE) AS total_value,
           CAST(sum(CAST(e.value AS DECIMAL(28,6))) AS DOUBLE)
             / count(DISTINCT e.user_id) AS value_per_user
    FROM events e JOIN firsts f USING (user_id)
    GROUP BY f.cohort_month
    """,
)
def cohort_value_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime value by signup cohort (cohort = month of a user's first
    event): users, events, total and per-user value — the
    retention_cohorts companion that weights cohorts by revenue instead of
    presence. Value accumulates in DECIMAL(28,6) (exact, order-free) and
    casts to DOUBLE once; per-user value is one division of exact values.
    Two shuffles: first-event min per user, then the cohort rollup."""
    ev = load(spark, sf_dir, "events").select("user_id", "ts", "value")
    firsts = ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM").alias("cohort_month")
    )
    j = ev.join(firsts, "user_id")
    return j.groupBy("cohort_month").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
        F.sum(F.col("value").cast("decimal(28,6)")).cast("double").alias("total_value"),
        (
            F.sum(F.col("value").cast("decimal(28,6)")).cast("double")
            / F.count_distinct("user_id")
        ).alias("value_per_user"),
    )


@register(
    "part_supplier_hhi",
    oracle="""
    WITH c AS (
      SELECT l_partkey, l_suppkey, count(*) AS n
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_partkey,
           count(*) AS n_suppliers,
           CAST(sum(n * n) AS BIGINT) AS sum_sq,
           CAST(sum(n) AS BIGINT) AS total_items,
           CAST(sum(n * n) AS DOUBLE)
             / (CAST(sum(n) AS BIGINT) * CAST(sum(n) AS BIGINT)) AS hhi
    FROM c GROUP BY 1
    """,
)
def part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman supply-concentration index per part: sum of
    squared per-supplier item shares (1.0 = single-sourced, →1/n = evenly
    spread) — the sourcing-risk metric behind part_supplier_diversity's
    raw counts. Integer-exact numerator and denominator, ONE division per
    part. Two shuffles: (part, supplier) combine, then the part rollup."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    c = li.groupBy("l_partkey", "l_suppkey").agg(F.count("*").alias("n"))
    return c.groupBy("l_partkey").agg(
        F.count("*").alias("n_suppliers"),
        F.sum(F.col("n") * F.col("n")).alias("sum_sq"),
        F.sum("n").alias("total_items"),
        (
            F.sum(F.col("n") * F.col("n")).cast("double")
            / (F.sum("n") * F.sum("n"))
        ).alias("hhi"),
    )


@register(
    "conversion_delay_histogram",
    oracle="""
    WITH clicks AS (
      SELECT user_id, ts AS c_ts, event_id FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts AS p_ts FROM events WHERE event_type = 'purchase'
    ),
    firstp AS (
      SELECT c.user_id, c.event_id, min(p.p_ts) AS p_ts
      FROM clicks c JOIN purch p
        ON p.user_id = c.user_id AND p.p_ts >= c.c_ts
      GROUP BY c.user_id, c.event_id, c.c_ts
    ),
    d AS (
      SELECT f.user_id, (epoch_us(f.p_ts) - epoch_us(c.c_ts)) // 60000000
               AS delay_minutes
      FROM firstp f JOIN clicks c USING (user_id, event_id)
    )
    SELECT CAST(delay_minutes AS BIGINT) AS delay_minutes,
           count(*) AS n_conversions
    FROM d GROUP BY 1
    """,
)
def conversion_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→first-subsequent-purchase delay histogram (whole minutes) —
    the attribution-window calibration: where this mass ends is where the
    interval join's horizon belongs. Exact integer microsecond diffs
    floor-divided to minutes. The per-user band join's fan-out is bounded
    by per-user purchase counts (same shape as asof_join_last_click; at
    100 TB the sort-merge formulation wins and AQE picks it)."""
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), "event_id"
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    firstp = (
        clicks.join(
            purch,
            (F.col("p_user") == F.col("user_id")) & (F.col("p_ts") >= F.col("c_ts")),
        )
        .groupBy("user_id", "event_id", "c_ts")
        .agg(F.min("p_ts").alias("p_ts"))
    )
    # floor-div via truncating cast: epoch diffs are non-negative exact
    # integers well under 2^53, so /60e6 then cast equals integer division
    # (epoch_us, not unix_micros — the latter rejects TIMESTAMP_NTZ data)
    delay = ((epoch_us("p_ts") - epoch_us("c_ts")) / F.lit(60_000_000)).cast("long")
    return (
        firstp.select(delay.alias("delay_minutes"))
        .groupBy("delay_minutes")
        .agg(F.count("*").alias("n_conversions"))
    )


@register(
    "error_rate_by_hour",
    oracle="""
    SELECT CAST(hour(ts) AS BIGINT) AS hour,
           count(*) AS n_events,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_errors,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS DOUBLE) / count(*) AS error_rate
    FROM events GROUP BY 1
    """,
)
def error_rate_by_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly error-rate profile — the ops baseline an anomaly monitor
    compares each new hour against. Exact counts, one division per hour
    row; a single 24-key combine (map-side partials carry everything)."""
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    err = F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
    return (
        ev.select(F.hour("ts").cast("long").alias("hour"), "event_type")
        .groupBy("hour")
        .agg(
            F.count("*").alias("n_events"),
            err.alias("n_errors"),
            (err.cast("double") / F.count("*")).alias("error_rate"),
        )
    )


@register(
    "copurchase_degree_histogram",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs
      ) GROUP BY node
    )
    SELECT degree, count(*) AS n_parts FROM deg GROUP BY degree
    """,
)
def copurchase_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the >=2-support co-purchase graph — the
    scale-free-ness check that tells you whether PageRank/triangle passes
    face hub skew (a heavy tail here predicts hot keys in every
    graph-keyed shuffle downstream). Exact integers end to end."""
    # spread() on the projected scan (r13 opt): same single-task-scan
    # fan-out as copurchase_pairs — no-op at production split counts
    li = spread(load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"))
    a = li.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("pb"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= 2)
        # two union branches below: materialize the (bounded, >=2-support)
        # edge list once instead of re-mining the per-order self-join per
        # branch (r14 — same fix as copurchase_triangles; the executed
        # unpinned plan ran 5 parquet scans / two full mine branches,
        # AQE's runtime exchange reuse notwithstanding)
        .transform(_pin)
    )
    deg = (
        pairs.select(F.col("pa").alias("node"))
        .unionAll(pairs.select("pb"))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count("*").alias("n_parts"))


# ---------------------------------------------------------------------------
# Inter-event gap statistics — the arrival-process profile behind capacity
# planning and bot detection: for each event, the time since the same user's
# previous event (any type), attributed to the current event's type. One
# shuffle on user_id for the lag window; the aggregate is a tiny
# per-event-type reduction. Averages are derived from exact integer
# (sum, count) pairs, so the doubles hash identically cross-engine.
# ---------------------------------------------------------------------------


@register(
    "interevent_gap_stats",
    oracle="""
    WITH g AS (
        SELECT event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT event_type,
           count(*) AS n_gaps,
           CAST(min(gap_us) AS BIGINT) AS min_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us,
           CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
           round(CAST(sum(gap_us) AS DOUBLE) / count(*) / 1000000.0, 6)
               AS avg_gap_s
    FROM g
    WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def interevent_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    us = epoch_us("ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    return g.groupBy("event_type").agg(
        F.count("*").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("total_gap_us"),
        F.round(
            F.sum("gap_us").cast("double") / F.count("*") / 1000000.0, 6
        ).alias("avg_gap_s"),
    )


# ---------------------------------------------------------------------------
# Activity concentration (Gini) — how skewed the event volume is across
# users, the one-number skew diagnostic that predicts hot-key trouble in
# every user-keyed shuffle downstream. Exact rank formulation:
# G = 2·Σ(i·xᵢ)/(n·Σxᵢ) − (n+1)/n over ascending-sorted per-user counts.
# The rank runs over the per-user reduction — but users GROW with the
# corpus, so it goes through sharded_row_number (global form), not a
# one-task W.orderBy window: the sort shards on num_buckets range
# buckets. All inputs to the final double expression are exact integers.
# ---------------------------------------------------------------------------


@register(
    "user_activity_gini",
    oracle="""
    WITH c AS (
        SELECT user_id, count(*) AS n FROM events GROUP BY user_id
    ),
    r AS (
        SELECT n, row_number() OVER (ORDER BY n, user_id) AS i FROM c
    )
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS total_events,
           round(2.0 * CAST(sum(i * n) AS DOUBLE)
                     / (CAST(count(*) AS DOUBLE) * CAST(sum(n) AS DOUBLE))
                 - (CAST(count(*) AS DOUBLE) + 1.0)
                     / CAST(count(*) AS DOUBLE), 6) AS gini
    FROM r
    """,
)
def user_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import sharded_row_number

    ev = load(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count("*").alias("n"))
    # the per-user frame grows with the corpus, so the global rank runs
    # through sharded_row_number (empty group = global total order) —
    # sorted on num_buckets tasks, never the one-task W.orderBy sort the
    # r8 window fence bans for data-sized frames; the events aggregate is
    # pinned once
    r = sharded_row_number(
        c,
        [],
        ["n", "user_id"],
        rn="i",
        n="_n_all",
        materialize=True,
    ).drop("_n_all")
    n_users = F.count("*").cast("double")
    total = F.sum("n").cast("double")
    return r.agg(
        F.count("*").alias("n_users"),
        F.sum("n").alias("total_events"),
        F.round(
            F.lit(2.0) * F.sum(F.col("i") * F.col("n")).cast("double")
            / (n_users * total)
            - (n_users + F.lit(1.0)) / n_users,
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# Order backlog timeline — open orders per day via event differencing:
# +1 at o_orderdate, −1 at the order's last ship date, then one running sum
# over the DAILY reduction (≈2,500 rows at any SF — the bounded-frame
# global-window exception, never the raw fact). The classic
# interval-counting shape that a join-per-day would turn into a quadratic
# blow-up.
# ---------------------------------------------------------------------------


@register(
    "orders_backlog_timeline",
    oracle="""
    WITH closes AS (
        SELECT l_orderkey, CAST(max(l_shipdate) AS DATE) AS close_d
        FROM lineitem GROUP BY l_orderkey
    ),
    ev AS (
        SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
        UNION ALL
        SELECT close_d AS d, -1 AS delta FROM closes
    ),
    daily AS (
        SELECT d, CAST(sum(delta) AS BIGINT) AS net FROM ev GROUP BY d
    )
    SELECT d AS day,
           CAST(sum(net) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n_open
    FROM daily
    """,
)
def orders_backlog_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    closes = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").cast("date").alias("d")
    )
    ev = orders.select(
        F.col("o_orderdate").cast("date").alias("d"), F.lit(1).alias("delta")
    ).unionByName(closes.select("d", F.lit(-1).alias("delta")))
    daily = ev.groupBy("d").agg(F.sum("delta").alias("net"))
    return daily.select(
        F.col("d").alias("day"),
        F.sum("net")
        .over(W.orderBy("d").rowsBetween(W.unboundedPreceding, 0))
        .alias("n_open"),
    )


# ---------------------------------------------------------------------------
# Customer spend deciles — ntile decile profile of lifetime spend per market
# segment (the CLV banding every growth team asks for). The ntile window is
# partitioned by segment over the per-customer REDUCTION; money accumulates
# in DECIMAL (order-independent) and surfaces as rounded DOUBLE.
# ---------------------------------------------------------------------------


@register(
    "customer_spend_deciles",
    oracle="""
    WITH spend AS (
        SELECT c.c_mktsegment AS segment, c.c_custkey AS ck,
               sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS sp
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2
    ),
    t AS (
        SELECT segment, sp,
               ntile(10) OVER (PARTITION BY segment ORDER BY sp, ck)
                   AS decile
        FROM spend
    )
    SELECT segment, decile,
           count(*) AS n_customers,
           round(CAST(sum(sp) AS DOUBLE), 2) AS total_spend,
           round(CAST(min(sp) AS DOUBLE), 2) AS min_spend,
           round(CAST(max(sp) AS DOUBLE), 2) AS max_spend
    FROM t GROUP BY segment, decile
    """,
)
def customer_spend_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment spend deciles WITHOUT a per-segment single-task sort:
    `ntile(10) OVER (PARTITION BY segment ...)` hash-partitions on the
    5-value segment key, so each window partition holds N/5 customers —
    linear in the corpus, the low-cardinality window class the r8 plan
    fence bans. Rewritten on sharded_row_number (range-bucketed exact
    rank, sorts on segments×buckets tasks) + the closed-form ntile; the
    unchanged DuckDB ntile() oracle hash-verifies equivalence. The spend
    aggregate is pinned before the adaptive rank."""
    from ..operators.ranks import ntile_expr, sharded_row_number

    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    # aggregate BELOW the join: orders collapse to one row per customer
    # (map-side partial agg) before picking up the segment, so the join
    # and every downstream shuffle move |customers| rows, not |orders| —
    # at 100 TB that is the ~10× orders-per-customer factor off the wire.
    # segment is functionally dependent on c_custkey, so the result is
    # identical to grouping after the join (oracle unchanged).
    ospend = orders.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("sp")
    )
    spend = cust.join(ospend, ospend.ck == cust.c_custkey).select(
        F.col("c_mktsegment").alias("segment"), "ck", "sp"
    )
    ranked = sharded_row_number(
        spend,
        ["segment"],
        ["sp", "ck"],
        materialize=True,
    )
    t = ranked.select(
        "segment", "sp", ntile_expr("rn", "n_g", 10).alias("decile")
    )
    return t.groupBy("segment", "decile").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("sp").cast("double"), 2).alias("total_spend"),
        F.round(F.min("sp").cast("double"), 2).alias("min_spend"),
        F.round(F.max("sp").cast("double"), 2).alias("max_spend"),
    )


# ---------------------------------------------------------------------------
# Distribution-position windows — percent_rank / cume_dist / quartile of
# supplier account balance within nation: the full rank-function surface
# (§2 window coverage) in one partitioned window. The composite
# (s_acctbal, s_suppkey) order makes every rank value deterministic; both
# position metrics are exact rationals of row indices, so the doubles hash
# identically cross-engine.
# ---------------------------------------------------------------------------


@register(
    "supplier_percentile_ranks",
    oracle="""
    SELECT n.n_name AS nation, s.s_suppkey, round(s.s_acctbal, 2) AS acctbal,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           ntile(4) OVER w AS quartile
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WINDOW w AS (PARTITION BY n.n_name ORDER BY s.s_acctbal, s.s_suppkey)
    """,
)
def supplier_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full rank-function surface from one sharded exact row_number:
    the former `PARTITION BY nation` window sorted each nation's entire
    supplier list on one task (supplier count grows with the corpus; 25
    nations ⇒ 25 tasks forever). Under the (s_acctbal, s_suppkey) total
    order, percent_rank/cume_dist/ntile are closed forms of (rn, n) —
    hash-verified by the unchanged SQL-rank-function oracle."""
    from ..operators.ranks import (
        cume_dist_expr,
        ntile_expr,
        percent_rank_expr,
        sharded_row_number,
    )

    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    # Dim uniqueness via declared PK (see order_value_distribution):
    # the proof walker trusts nation's registered n_nationkey scan, so
    # the r10 groupBy(n_nationkey).agg(first(...)) pre-aggregate — one
    # 25-row but plan-widening exchange — is gone; zero probe jobs.
    base = s.join(F.broadcast(n), n.n_nationkey == s.s_nationkey).select(
        F.col("n_name").alias("nation"), "s_suppkey", "s_acctbal"
    )
    ranked = sharded_row_number(base, ["nation"], ["s_acctbal", "s_suppkey"])
    return ranked.select(
        "nation",
        "s_suppkey",
        F.round("s_acctbal", 2).alias("acctbal"),
        F.round(percent_rank_expr("rn", "n_g"), 6).alias("pct_rank"),
        F.round(cume_dist_expr("rn", "n_g"), 6).alias("cume"),
        ntile_expr("rn", "n_g", 4).alias("quartile"),
    )


@register(
    "part_size_tie_ranks",
    oracle="""
    SELECT p_brand, p_partkey, p_size,
           rank() OVER w AS rnk,
           dense_rank() OVER w AS drnk
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_size)
    """,
)
def part_size_tie_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware rank()/dense_rank() per brand over part size — p_size is
    a 1..50 integer, so every (brand, size) class holds many tied rows:
    the regime where rank != row_number and the closed forms don't
    apply. Completes the oracle-gated rank-function surface for
    ``with_tie_ranks`` (previously pytest-only): min-rn per tie class
    gives rank, and the class frame's own sharded numbering gives
    dense_rank — no shuffle coarser than (brand, size), never the
    |brands|-partition window the rank fence bans. materialize=True pins
    the ranked frame and the tie-class frame once (left lazy, the DAG
    reuse plans as ~40 duplicated part scans)."""
    from ..operators.ranks import sharded_row_number, with_tie_ranks

    p = load(spark, sf_dir, "part").select("p_brand", "p_partkey", "p_size")
    ranked = sharded_row_number(p, ["p_brand"], ["p_size", "p_partkey"])
    return with_tie_ranks(
        ranked,
        ["p_brand"],
        ["p_size"],
        rank="rnk",
        dense_rank="drnk",
        materialize=True,
    ).select("p_brand", "p_partkey", "p_size", "rnk", "drnk")


#: fixed per-part allocation budget (units) for the FIFO allocation demo —
#: small enough that a realistic fraction of demand is backordered at any SF.
FIFO_CAP = 400.0


# ---------------------------------------------------------------------------
# FIFO capacity allocation — allocate each part's line-item demand against a
# fixed unit budget in ship-date order: the inventory/ATP (available to
# promise) shape. One window cumsum per part (partitioned — parallel across
# parts at any scale); the running sum is order-deterministic inside its
# partition, so the DOUBLE arithmetic is identical cross-engine.
# ---------------------------------------------------------------------------


@register(
    "fifo_quantity_allocation",
    oracle=f"""
    WITH c AS (
        SELECT l_partkey,
               l_quantity,
               sum(l_quantity) OVER (
                   PARTITION BY l_partkey
                   ORDER BY l_shipdate, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM lineitem
    )
    SELECT l_partkey,
           count(*) AS n_lines,
           CAST(sum(CASE WHEN cum <= {FIFO_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_full,
           CAST(sum(CASE WHEN cum > {FIFO_CAP}
                          AND cum - l_quantity < {FIFO_CAP}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_partial,
           CAST(sum(CASE WHEN cum - l_quantity >= {FIFO_CAP} THEN 1 ELSE 0 END)
               AS BIGINT) AS n_backordered,
           round(least(max(cum), {FIFO_CAP}), 2) AS allocated_units,
           round(max(cum), 2) AS demanded_units
    FROM c GROUP BY l_partkey
    """,
)
def fifo_quantity_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    w = (
        W.partitionBy("l_partkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    c = li.select(
        "l_partkey", "l_quantity", F.sum("l_quantity").over(w).alias("cum")
    )
    cap = F.lit(FIFO_CAP)
    return c.groupBy("l_partkey").agg(
        F.count("*").alias("n_lines"),
        F.sum(F.when(F.col("cum") <= cap, 1).otherwise(0)).alias("n_full"),
        F.sum(
            F.when(
                (F.col("cum") > cap) & (F.col("cum") - F.col("l_quantity") < cap),
                1,
            ).otherwise(0)
        ).alias("n_partial"),
        F.sum(
            F.when(F.col("cum") - F.col("l_quantity") >= cap, 1).otherwise(0)
        ).alias("n_backordered"),
        F.round(F.least(F.max("cum"), cap), 2).alias("allocated_units"),
        F.round(F.max("cum"), 2).alias("demanded_units"),
    )


# ---------------------------------------------------------------------------
# Priority mix drift — chi-square decomposition of the order-priority mix
# per year against the all-time mix: the categorical drift monitor a data
# platform runs on every ingest dimension. Expected counts derive from two
# exact integer marginals (broadcast scalar pattern — no global window);
# each cell's contribution is one rational expression of integers.
# ---------------------------------------------------------------------------


@register(
    "priority_share_drift",
    oracle="""
    WITH obs AS (
        SELECT CAST(year(o_orderdate) AS BIGINT) AS yr, o_orderpriority AS prio,
               count(*) AS n
        FROM orders GROUP BY 1, 2
    ),
    yr_tot AS (SELECT yr, CAST(sum(n) AS BIGINT) AS yr_n FROM obs GROUP BY yr),
    pr_tot AS (SELECT prio, CAST(sum(n) AS BIGINT) AS pr_n FROM obs GROUP BY prio),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS all_n FROM obs)
    SELECT o.yr, o.prio, o.n,
           round(CAST(y.yr_n AS DOUBLE) * p.pr_n / t.all_n, 4) AS expected,
           round((o.n - CAST(y.yr_n AS DOUBLE) * p.pr_n / t.all_n)
                 * (o.n - CAST(y.yr_n AS DOUBLE) * p.pr_n / t.all_n)
                 / (CAST(y.yr_n AS DOUBLE) * p.pr_n / t.all_n), 6)
               AS chi2_part
    FROM obs o
    JOIN yr_tot y USING (yr)
    JOIN pr_tot p USING (prio)
    CROSS JOIN tot t
    """,
)
def priority_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    obs = o.groupBy(
        F.year("o_orderdate").cast("long").alias("yr"),
        F.col("o_orderpriority").alias("prio"),
    ).agg(F.count("*").alias("n"))
    yr_tot = obs.groupBy("yr").agg(F.sum("n").alias("yr_n"))
    pr_tot = obs.groupBy("prio").agg(F.sum("n").alias("pr_n"))
    tot = obs.agg(F.sum("n").alias("all_n"))
    exp = F.col("yr_n").cast("double") * F.col("pr_n") / F.col("all_n")
    return (
        obs.join(F.broadcast(yr_tot), "yr")
        .join(F.broadcast(pr_tot), "prio")
        .crossJoin(F.broadcast(tot))
        .select(
            "yr",
            "prio",
            "n",
            F.round(exp, 4).alias("expected"),
            F.round((F.col("n") - exp) * (F.col("n") - exp) / exp, 6).alias(
                "chi2_part"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Item-item Jaccard similarity — collaborative-filtering normalization of
# the co-purchase graph: sim(a,b) = |orders(a) ∩ orders(b)| /
# |orders(a) ∪ orders(b)|, computed from the order-bounded pair self-join
# plus two broadcast degree marginals. All inputs exact integers; the
# similarity is a single rational per pair.
# ---------------------------------------------------------------------------


@register(
    "copurchase_jaccard",
    oracle="""
    WITH pairs AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               count(DISTINCT a.l_orderkey) AS together
        FROM lineitem a
        JOIN lineitem b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
        HAVING count(DISTINCT a.l_orderkey) >= 2
    ),
    deg AS (
        SELECT l_partkey, count(DISTINCT l_orderkey) AS d
        FROM lineitem GROUP BY l_partkey
    )
    SELECT p.part_a, p.part_b, p.together,
           da.d AS deg_a, db.d AS deg_b,
           round(CAST(p.together AS DOUBLE)
                 / (da.d + db.d - p.together), 6) AS jaccard
    FROM pairs p
    JOIN deg da ON da.l_partkey = p.part_a
    JOIN deg db ON db.l_partkey = p.part_b
    """,
)
def copurchase_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Distinct (order, part) FIRST: a part appearing on several line items
    # of one order would otherwise fan the self-join out quadratically per
    # order and force count_distinct downstream; after the pre-distinct the
    # join input is minimal and both counts are plain count(*) — measured
    # 24.9 s → 9.6 s at replicated sf1.
    # r14: the distinct'ed projection is referenced by BOTH self-join
    # sides AND the degree aggregate — Catalyst duplicates the subtree
    # and the executed plan ran SIX lineitem scans (and re-shuffled the
    # distinct each time). Pin it once: guide §5's cache-when-reused —
    # at scale one corpus-sized materialization read three times beats
    # three scan+shuffle recomputes, and the pin is released by the
    # caller's release_checkpoints like every eager query.
    li = (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        .transform(_pin)
    )
    a = li.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = li.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").alias("together"))
        .where(F.col("together") >= 2)
    )
    # No broadcast hint on the degree marginals (r6 verdict): |deg| grows
    # with part cardinality — O(corpus) at 100 TB — so a forced broadcast
    # would OOM the driver exactly when the query matters. Left unhinted,
    # AQE broadcasts it at small SF and falls back to a shuffled join at
    # scale; both joins key on the same part column the pairs frame is
    # already hashed by.
    deg = li.groupBy("l_partkey").agg(F.count("*").alias("d"))
    return (
        pairs.join(
            deg.select(F.col("l_partkey").alias("part_a"), F.col("d").alias("deg_a")),
            "part_a",
        )
        .join(
            deg.select(F.col("l_partkey").alias("part_b"), F.col("d").alias("deg_b")),
            "part_b",
        )
        .select(
            "part_a",
            "part_b",
            "together",
            "deg_a",
            "deg_b",
            F.round(
                F.col("together").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("together")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Daily churn — of the users active on day d, how many return on d+1: the
# operational retention pulse (distinct-user day frame self-joined one day
# forward; both sides are per-day reductions, the join keys on user+day).
# ---------------------------------------------------------------------------


@register(
    "daily_churn_rate",
    oracle="""
    WITH du AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    )
    SELECT a.day,
           count(*) AS n_active,
           CAST(sum(CASE WHEN b.user_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_retained,
           CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_churned,
           round(CAST(sum(CASE WHEN b.user_id IS NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS churn_rate
    FROM du a
    LEFT JOIN du b
      ON b.user_id = a.user_id AND b.day = a.day + INTERVAL 1 DAY
    GROUP BY a.day
    """,
)
def daily_churn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    b = du.select(
        F.col("user_id"), F.date_sub("day", 1).alias("day"), F.lit(1).alias("ret")
    )
    j = du.join(b, ["user_id", "day"], "left")
    churned = F.sum(F.when(F.col("ret").isNull(), 1).otherwise(0))
    return j.groupBy("day").agg(
        F.count("*").alias("n_active"),
        F.sum(F.when(F.col("ret").isNull(), 0).otherwise(1)).alias("n_retained"),
        churned.alias("n_churned"),
        F.round(churned.cast("double") / F.count("*"), 6).alias("churn_rate"),
    )


# ---------------------------------------------------------------------------
# Weekly order fill rate — per order-week, the share of orders whose EVERY
# line item shipped within 30 days (boolean-aggregate coverage: bool_and
# folded per order, then a ratio of exact counts per week).
# ---------------------------------------------------------------------------


@register(
    "order_fill_rate_weekly",
    oracle="""
    WITH per_order AS (
        SELECT o.o_orderkey,
               CAST(date_trunc('week', o.o_orderdate) AS DATE) AS wk,
               bool_and(l.l_shipdate <= o.o_orderdate + INTERVAL 30 DAY)
                   AS filled
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    )
    SELECT wk,
           count(*) AS n_orders,
           CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS BIGINT) AS n_filled,
           round(CAST(sum(CASE WHEN filled THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 6) AS fill_rate
    FROM per_order GROUP BY wk
    """,
)
def order_fill_rate_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    # spread() on the projected fact scan (r13 opt): the broadcast join +
    # per-order partial agg ran on the single-row-group scan's one task
    # (1.9 s of the 2.1 s noop at sf0.1); no-op at production split counts
    li = spread(
        load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    )
    per_order = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "o_orderkey",
            F.date_trunc("week", "o_orderdate").cast("date").alias("wk"),
        )
        .agg(
            F.bool_and(
                F.col("l_shipdate") <= F.date_add(F.col("o_orderdate"), 30)
            ).alias("filled")
        )
    )
    n_filled = F.sum(F.when(F.col("filled"), 1).otherwise(0))
    return per_order.groupBy("wk").agg(
        F.count("*").alias("n_orders"),
        n_filled.alias("n_filled"),
        F.round(n_filled.cast("double") / F.count("*"), 6).alias("fill_rate"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day active users — exact sliding distinct count via the
# offset-explode trick: each (user, day) observation votes into the 7
# calendar days whose trailing window contains it (a 7× fan-out of the
# per-day REDUCTION, not the raw events), then one distinct count per day.
# The exact form of the metric every approx-sliding-HLL is judged against.
# ---------------------------------------------------------------------------


@register(
    "weekly_active_users_rolling",
    oracle="""
    WITH du AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    votes AS (
        SELECT du.user_id, du.day + CAST(o.off AS INT) AS d
        FROM du CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS off) o
    )
    SELECT v.d AS day, count(DISTINCT v.user_id) AS wau
    FROM votes v JOIN (SELECT DISTINCT day FROM du) days ON days.day = v.d
    GROUP BY v.d
    """,
)
def weekly_active_users_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    du = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    votes = du.select(
        "user_id",
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"),
        "day",
    ).select("user_id", F.expr("date_add(day, off)").alias("d"))
    days = du.select("day").distinct()
    return (
        votes.join(F.broadcast(days), votes.d == days.day)
        .groupBy(F.col("d").alias("day2"))
        .agg(F.count_distinct("user_id").alias("wau"))
        .select(F.col("day2").alias("day"), "wau")
    )


# ---------------------------------------------------------------------------
# Revenue Pareto curve — the 80/20 concentration profile: parts ranked into
# revenue deciles, each decile's share of total revenue. Money accumulates
# in DECIMAL; the part reduction GROWS with the corpus, so the decile rank
# goes through sharded_row_number (global form — sorted on num_buckets
# range-bucket tasks, never one) and the grand total is one broadcast
# scalar row.
# ---------------------------------------------------------------------------


@register(
    "revenue_pareto_curve",
    oracle="""
    WITH pr AS (
        SELECT l_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,2))
                   * (1 - CAST(l_discount AS DECIMAL(4,2)))) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    t AS (
        SELECT l_partkey, rev,
               ntile(10) OVER (ORDER BY rev DESC, l_partkey) AS decile
        FROM pr
    ),
    tot AS (SELECT sum(rev) AS total FROM pr)
    SELECT decile,
           count(*) AS n_parts,
           round(CAST(sum(rev) AS DOUBLE), 2) AS decile_revenue,
           round(CAST(sum(rev) AS DOUBLE) / CAST(t2.total AS DOUBLE), 6)
               AS revenue_share
    FROM t CROSS JOIN tot t2
    GROUP BY decile, t2.total
    """,
)
def revenue_pareto_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.ranks import ntile_expr, sharded_row_number

    li = load(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(4,2)")
    )
    # the lineitem reduction feeds the rank passes AND the grand total:
    # checkpoint it once
    pr = li.groupBy("l_partkey").agg(F.sum(rev).alias("rev")).transform(_pin)
    # rev DESC == -rev ASC (decimal negation is exact); l_partkey breaks
    # ties, so the sharded global rank reproduces the SQL ntile order
    ranked = sharded_row_number(
        pr.withColumn("_negrev", -F.col("rev")),
        [],
        ["_negrev", "l_partkey"],
        rn="rn",
        n="n_g",
    ).drop("_negrev")
    t = ranked.select(
        "l_partkey", "rev", ntile_expr("rn", "n_g", 10).alias("decile")
    )
    tot = pr.agg(F.sum("rev").alias("total"))
    return (
        t.crossJoin(F.broadcast(tot))
        .groupBy("decile", "total")
        .agg(
            F.count("*").alias("n_parts"),
            F.round(F.sum("rev").cast("double"), 2).alias("decile_revenue"),
            F.round(
                F.sum("rev").cast("double") / F.col("total").cast("double"), 6
            ).alias("revenue_share"),
        )
        .drop("total")
    )


# ---------------------------------------------------------------------------
# Length↔stopword correlation — exact Pearson r from five integer sums
# (n, Σx, Σy, Σxy, Σx², Σy² over per-doc token and stopword-hit counts):
# the corpus-audit correlation that validates length-normalized quality
# scores. Single map-side-combined reduction to one row; no float enters
# an aggregate.
# ---------------------------------------------------------------------------


@register(
    "length_stopword_correlation",
    oracle="""
    WITH d AS (
        SELECT len(string_split_regex(trim(text), '\\s+')) AS x,
               len(list_filter(string_split_regex(trim(text), '\\s+'),
                   t -> lower(t) IN ('the','a','an','and','or','of','to',
                                     'in','is','it'))) AS y
        FROM documents
    )
    SELECT count(*) AS n_docs,
           CAST(sum(x) AS BIGINT) AS sum_x,
           CAST(sum(y) AS BIGINT) AS sum_y,
           round((count(*) * CAST(sum(x * y) AS DOUBLE)
                  - CAST(sum(x) AS DOUBLE) * CAST(sum(y) AS DOUBLE))
                 / (sqrt(count(*) * CAST(sum(x * x) AS DOUBLE)
                         - CAST(sum(x) AS DOUBLE) * CAST(sum(x) AS DOUBLE))
                    * sqrt(count(*) * CAST(sum(y * y) AS DOUBLE)
                           - CAST(sum(y) AS DOUBLE)
                             * CAST(sum(y) AS DOUBLE))), 6) AS pearson_r
    FROM d
    """,
)
def length_stopword_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions import text as X
    from . import spread

    docs = spread(load(spark, sf_dir, "documents"))
    d = docs.select(
        X.token_count("text").alias("x"), X.stopword_hits("text").alias("y")
    )
    n = F.count("*")
    sx, sy = F.sum("x").cast("double"), F.sum("y").cast("double")
    sxy = F.sum(F.col("x") * F.col("y")).cast("double")
    sxx = F.sum(F.col("x") * F.col("x")).cast("double")
    syy = F.sum(F.col("y") * F.col("y")).cast("double")
    return d.agg(
        n.alias("n_docs"),
        F.sum("x").alias("sum_x"),
        F.sum("y").alias("sum_y"),
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("pearson_r"),
    )


# ---------------------------------------------------------------------------
# Hash-bucket A/B lift — deterministic experiment assignment (user_id
# parity by murmur-free modulus: reproducible in any engine) and the
# Welch t-statistic between arms from integer-quantized value moments
# (cents): the experimentation readout every event platform ships. One
# event-scan reduction to two arm rows, then scalar math on exact sums.
# ---------------------------------------------------------------------------


@register(
    "ab_assignment_lift",
    oracle="""
    WITH v AS (
        SELECT CAST(user_id % 2 AS INT) AS arm,
               CAST(round(value * 100.0) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'
    ),
    m AS (
        SELECT arm, count(*) AS n,
               CAST(sum(cents) AS BIGINT) AS s1,
               CAST(sum(cents * cents) AS BIGINT) AS s2
        FROM v GROUP BY arm
    )
    SELECT a.n AS n_a, b.n AS n_b,
           round(CAST(a.s1 AS DOUBLE) / a.n / 100.0, 6) AS mean_a,
           round(CAST(b.s1 AS DOUBLE) / b.n / 100.0, 6) AS mean_b,
           round((CAST(b.s1 AS DOUBLE) / b.n - CAST(a.s1 AS DOUBLE) / a.n)
                 / 100.0, 6) AS lift,
           round((CAST(b.s1 AS DOUBLE) / b.n - CAST(a.s1 AS DOUBLE) / a.n)
                 / sqrt((a.n * CAST(a.s2 AS DOUBLE)
                         - CAST(a.s1 AS DOUBLE) * CAST(a.s1 AS DOUBLE))
                        / (CAST(a.n AS DOUBLE) * a.n * (a.n - 1))
                        + (b.n * CAST(b.s2 AS DOUBLE)
                           - CAST(b.s1 AS DOUBLE) * CAST(b.s1 AS DOUBLE))
                          / (CAST(b.n AS DOUBLE) * b.n * (b.n - 1))), 6)
               AS welch_t
    FROM m a JOIN m b ON a.arm = 0 AND b.arm = 1
    """,
)
def ab_assignment_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    v = ev.where(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).cast("int").alias("arm"),
        F.round(F.col("value") * 100.0, 0).cast("long").alias("cents"),
    )
    m = v.groupBy("arm").agg(
        F.count("*").alias("n"),
        F.sum("cents").alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).alias("s2"),
    )
    a = m.where(F.col("arm") == 0).select(
        F.col("n").alias("n_a"), F.col("s1").alias("s1a"), F.col("s2").alias("s2a")
    )
    b = m.where(F.col("arm") == 1).select(
        F.col("n").alias("n_b"), F.col("s1").alias("s1b"), F.col("s2").alias("s2b")
    )
    ma = F.col("s1a").cast("double") / F.col("n_a")
    mb = F.col("s1b").cast("double") / F.col("n_b")
    # Welch's s²/n per arm with the SAMPLE-variance n−1 divisor (r6 advice:
    # the population-variance form overstated |t|, materially for small
    # arms): s²/n = (n·Σx² − (Σx)²) / (n²·(n−1)), computed in double so the
    # n³-scale divisor can't overflow BIGINT at large n.
    va = (
        F.col("n_a") * F.col("s2a").cast("double")
        - F.col("s1a").cast("double") * F.col("s1a").cast("double")
    ) / (F.col("n_a").cast("double") * F.col("n_a") * (F.col("n_a") - 1))
    vb = (
        F.col("n_b") * F.col("s2b").cast("double")
        - F.col("s1b").cast("double") * F.col("s1b").cast("double")
    ) / (F.col("n_b").cast("double") * F.col("n_b") * (F.col("n_b") - 1))
    return a.crossJoin(b).select(
        "n_a",
        "n_b",
        F.round(ma / 100.0, 6).alias("mean_a"),
        F.round(mb / 100.0, 6).alias("mean_b"),
        F.round((mb - ma) / 100.0, 6).alias("lift"),
        F.round((mb - ma) / F.sqrt(va + vb), 6).alias("welch_t"),
    )


# ---------------------------------------------------------------------------
# Trend decomposition — daily revenue split into a 7-day centered moving
# trend and residual (the classical STL first step). DECIMAL-exact daily
# sums first (order-independent), then one centered window over the
# ~2.5k-row day frame (bounded-frame global-window exception); the trend is
# an exact-decimal window sum divided by the true window row count, so
# edges use the partial window honestly.
# ---------------------------------------------------------------------------


@register(
    "daily_revenue_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev
        FROM orders GROUP BY 1
    )
    SELECT day,
           round(CAST(rev AS DOUBLE), 2) AS revenue,
           round(CAST(sum(rev) OVER w AS DOUBLE)
                 / count(*) OVER w, 4) AS trend,
           round(CAST(rev AS DOUBLE)
                 - CAST(sum(rev) OVER w AS DOUBLE) / count(*) OVER w, 4)
               AS residual
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    """,
)
def daily_revenue_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("rev")
    )
    w = W.orderBy("day").rowsBetween(-3, 3)
    trend = F.sum("rev").over(w).cast("double") / F.count("*").over(w)
    return daily.select(
        "day",
        F.round(F.col("rev").cast("double"), 2).alias("revenue"),
        F.round(trend, 4).alias("trend"),
        F.round(F.col("rev").cast("double") - trend, 4).alias("residual"),
    )


# ---------------------------------------------------------------------------
# Bot-likelihood flags — the machine-traffic screen every event pipeline
# runs before analytics: per user, volume plus the share of sub-second
# inter-event gaps (integer microsecond lag diffs; one user-keyed window).
# ---------------------------------------------------------------------------


@register(
    "bot_likelihood_flags",
    oracle="""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events
    )
    SELECT user_id,
           count(*) + 1 AS n_events,
           CAST(sum(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_subsecond_gaps,
           round(CAST(sum(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS subsecond_share,
           (count(*) + 1 >= 50
            AND CAST(sum(CASE WHEN gap_us < 1000000 THEN 1 ELSE 0 END)
                     AS DOUBLE) / count(*) > 0.5) AS bot_suspect
    FROM g
    WHERE gap_us IS NOT NULL
    GROUP BY user_id
    """,
)
def bot_likelihood_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    us = epoch_us("ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).where(F.col("gap_us").isNotNull())
    n_sub = F.sum(F.when(F.col("gap_us") < 1000000, 1).otherwise(0))
    share = n_sub.cast("double") / F.count("*")
    return g.groupBy("user_id").agg(
        (F.count("*") + 1).alias("n_events"),
        n_sub.alias("n_subsecond_gaps"),
        F.round(share, 6).alias("subsecond_share"),
        ((F.count("*") + 1 >= 50) & (share > 0.5)).alias("bot_suspect"),
    )


# ---------------------------------------------------------------------------
# Duplicate-payment screen — pairs of orders by the SAME customer for a
# NEAR-IDENTICAL amount (within 1%) within 14 days: the double-charge /
# retry-storm audit. Custkey equi-join keeps the pair space bounded by
# orders-per-customer; amount and date bands are residual predicates,
# ordered o1 < o2 so each pair emits once.
# ---------------------------------------------------------------------------


@register(
    "duplicate_order_screen",
    oracle="""
    SELECT a.o_custkey,
           round(a.o_totalprice, 2) AS amount_a,
           round(b.o_totalprice, 2) AS amount_b,
           a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           CAST(date_diff('day', CAST(a.o_orderdate AS DATE),
                          CAST(b.o_orderdate AS DATE)) AS BIGINT)
               AS days_apart
    FROM orders a
    JOIN orders b
      ON b.o_custkey = a.o_custkey
     AND b.o_orderkey > a.o_orderkey
     AND abs(b.o_totalprice - a.o_totalprice) <= 0.01 * a.o_totalprice
     AND CAST(b.o_orderdate AS DATE) >= CAST(a.o_orderdate AS DATE) - 14
     AND CAST(b.o_orderdate AS DATE) <= CAST(a.o_orderdate AS DATE) + 14
    """,
)
def duplicate_order_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("d"),
    )
    a = o.select(
        F.col("o_custkey"), F.col("o_totalprice").alias("pa"),
        F.col("o_orderkey").alias("order_a"), F.col("d").alias("da"),
    )
    b = o.select(
        F.col("o_custkey"), F.col("o_totalprice").alias("pb"),
        F.col("o_orderkey").alias("order_b"), F.col("d").alias("db"),
    )
    return (
        a.join(b, "o_custkey")
        .where(
            (F.col("order_b") > F.col("order_a"))
            & (F.abs(F.col("pb") - F.col("pa")) <= 0.01 * F.col("pa"))
            & (F.col("db") >= F.date_sub("da", 14))
            & (F.col("db") <= F.date_add("da", 14))
        )
        .select(
            "o_custkey",
            F.round("pa", 2).alias("amount_a"),
            F.round("pb", 2).alias("amount_b"),
            "order_a",
            "order_b",
            F.datediff("db", "da").cast("long").alias("days_apart"),
        )
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters — the ground truth the Misra-Gries streaming sink
# (streaming/ingest.topk_stream_sink) and the CMS probe are judged against:
# top-50 users by event count, deterministic (count DESC, user_id) order.
# One keyed reduction + a 50-row global sort-limit (TakeOrdered — no full
# sort materializes).
# ---------------------------------------------------------------------------


@register(
    "heavy_hitters_exact_topk",
    oracle="""
    SELECT user_id, count(*) AS n_events
    FROM events
    GROUP BY user_id
    ORDER BY n_events DESC, user_id
    LIMIT 50
    """,
)
def heavy_hitters_exact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy(F.col("n_events").desc(), "user_id")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Priority sequence patterns — each customer's order-priority history as an
# ordered symbol string (sequence-mining precursor: the input shape for
# prefix-span / n-gram models over behavior). Ordered aggregation surface:
# collect → sort by (date, orderkey) → project symbols — bounded per
# customer, one keyed shuffle; then a pattern-frequency reduction.
# ---------------------------------------------------------------------------


@register(
    "priority_sequence_patterns",
    oracle="""
    WITH seqs AS (
        SELECT o_custkey,
               string_agg(substr(o_orderpriority, 1, 1), ''
                          ORDER BY o_orderdate, o_orderkey) AS seq
        FROM orders GROUP BY o_custkey
    )
    SELECT substr(seq, 1, 3) AS prefix, count(*) AS n_customers,
           CAST(sum(length(seq)) AS BIGINT) AS total_orders
    FROM seqs
    WHERE length(seq) >= 3
    GROUP BY 1
    """,
)
def priority_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    seqs = (
        o.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("o_orderdate").alias("d"),
                                F.col("o_orderkey").alias("k"),
                                F.substring("o_orderpriority", 1, 1).alias("p"),
                            )
                        )
                    ),
                    lambda s: s.p,
                ),
                "",
            ).alias("seq")
        )
    )
    return (
        seqs.where(F.length("seq") >= 3)
        .groupBy(F.substring("seq", 1, 3).alias("prefix"))
        .agg(
            F.count("*").alias("n_customers"),
            F.sum(F.length("seq")).alias("total_orders"),
        )
    )


# ---------------------------------------------------------------------------
# Peak concurrent sessions — capacity planning's headline number: sessionize
# (same 30-min-gap rule as sessionize_events), then interval-count session
# starts/ends at minute grain and take each hour's peak running concurrency.
# The running sum is over the per-minute REDUCTION (≤ 43k rows for a month
# — bounded-frame exception), never raw events.
# ---------------------------------------------------------------------------


@register(
    "peak_concurrent_sessions",
    oracle=f"""
    WITH t AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_GAP_US}
                         OR lag(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
        SELECT user_id, ts,
               CAST(sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM t
    ),
    sess AS (
        SELECT date_trunc('minute', min(ts)) AS m_start,
               date_trunc('minute', max(ts)) AS m_end
        FROM s GROUP BY user_id, session_id
    ),
    ev AS (
        SELECT m_start AS m, 1 AS delta FROM sess
        UNION ALL
        SELECT m_end + INTERVAL 1 MINUTE AS m, -1 AS delta FROM sess
    ),
    timeline AS (
        SELECT m, CAST(sum(delta) AS BIGINT) AS net FROM ev GROUP BY m
    ),
    run AS (
        SELECT m, CAST(sum(net) OVER (ORDER BY m ROWS UNBOUNDED PRECEDING)
                       AS BIGINT) AS concurrent
        FROM timeline
    )
    SELECT date_trunc('hour', m) AS hour,
           CAST(max(concurrent) AS BIGINT) AS peak_sessions
    FROM run GROUP BY 1
    """,
)
def peak_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    us = epoch_us("ts")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag(us).over(w)
    t = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(prev.isNull() | ((us - prev) > _GAP_US), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    s = t.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(W.unboundedPreceding, 0))
        .alias("session_id"),
    )
    sess = s.groupBy("user_id", "session_id").agg(
        F.date_trunc("minute", F.min("ts")).alias("m_start"),
        F.date_trunc("minute", F.max("ts")).alias("m_end"),
    )
    evp = sess.select(
        F.col("m_start").alias("m"), F.lit(1).alias("delta")
    ).unionByName(
        sess.select(
            (F.col("m_end") + F.expr("INTERVAL 1 MINUTE")).alias("m"),
            F.lit(-1).alias("delta"),
        )
    )
    timeline = evp.groupBy("m").agg(F.sum("delta").alias("net"))
    run = timeline.select(
        "m",
        F.sum("net")
        .over(W.orderBy("m").rowsBetween(W.unboundedPreceding, 0))
        .alias("concurrent"),
    )
    return run.groupBy(F.date_trunc("hour", "m").alias("hour")).agg(
        F.max("concurrent").alias("peak_sessions")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit — orphan counts across the fact/dim edges
# (orders→customer, lineitem→orders, orders without lines): the DQ gate a
# warehouse runs on every load. Anti-join counts only — each is a keyed
# shuffle of the smaller key projection, folded into one summary row.
# ---------------------------------------------------------------------------


@register(
    "referential_integrity_audit",
    oracle="""
    SELECT
        (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM customer c
                           WHERE c.c_custkey = o.o_custkey))
            AS orders_orphan_customer,
        (SELECT count(*) FROM lineitem l
         WHERE NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_orderkey = l.l_orderkey))
            AS lines_orphan_order,
        (SELECT count(*) FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                           WHERE l.l_orderkey = o.o_orderkey))
            AS orders_without_lines
    """,
)
def referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    a = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("orders_orphan_customer"))
    )
    b = (
        li.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "left_anti")
        .agg(F.count("*").alias("lines_orphan_order"))
    )
    d = (
        o.join(
            li.select("l_orderkey").distinct(),
            o.o_orderkey == F.col("l_orderkey"),
            "left_anti",
        )
        .agg(F.count("*").alias("orders_without_lines"))
    )
    return a.crossJoin(b).crossJoin(d)


# ---------------------------------------------------------------------------
# Basket size × value matrix — the joint distribution of lines-per-order
# and order value band: the 2-D histogram a pricing/ops team reads to see
# whether big baskets are big money. Two keyed reductions, all integers.
# ---------------------------------------------------------------------------


@register(
    "basket_size_value_matrix",
    oracle="""
    WITH per_order AS (
        SELECT o.o_orderkey,
               least(count(*), 7) AS n_lines,
               CAST(floor(o.o_totalprice / 50000.0) AS BIGINT) AS value_band
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderkey, o.o_totalprice
    )
    SELECT n_lines, value_band, count(*) AS n_orders
    FROM per_order GROUP BY n_lines, value_band
    """,
)
def basket_size_value_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    per_order = (
        o.join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.least(F.count("*"), F.lit(7)).alias("n_lines"))
        .select(
            "n_lines",
            F.floor(F.col("o_totalprice") / 50000.0).alias("value_band"),
        )
    )
    return per_order.groupBy("n_lines", "value_band").agg(
        F.count("*").alias("n_orders")
    )


# ---------------------------------------------------------------------------
# Burstiness (Fano factor) per user — var/mean of per-minute event counts
# distinguishes steady traffic (≈1, Poisson) from bursty/bot traffic (≫1).
# Counts are exact integers; variance derives from (Σc, Σc²) over the
# user's OBSERVED minutes, one rational per user.
# ---------------------------------------------------------------------------


@register(
    "user_burstiness_fano",
    oracle="""
    WITH m AS (
        SELECT user_id, date_trunc('minute', ts) AS minute,
               count(*) AS c
        FROM events GROUP BY 1, 2
    )
    SELECT user_id,
           count(*) AS n_minutes,
           CAST(sum(c) AS BIGINT) AS n_events,
           round((CAST(sum(c * c) AS DOUBLE) / count(*)
                  - (CAST(sum(c) AS DOUBLE) / count(*))
                    * (CAST(sum(c) AS DOUBLE) / count(*)))
                 / (CAST(sum(c) AS DOUBLE) / count(*)), 6) AS fano
    FROM m GROUP BY user_id
    """,
)
def user_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    m = ev.groupBy(
        "user_id", F.date_trunc("minute", "ts").alias("minute")
    ).agg(F.count("*").alias("c"))
    n = F.count("*")
    s1 = F.sum("c").cast("double")
    s2 = F.sum(F.col("c") * F.col("c")).cast("double")
    mean = s1 / n
    return m.groupBy("user_id").agg(
        n.alias("n_minutes"),
        F.sum("c").alias("n_events"),
        F.round((s2 / n - mean * mean) / mean, 6).alias("fano"),
    )
