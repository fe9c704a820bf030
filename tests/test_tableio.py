"""Warehouse layout tests — the two 100 TB storage levers: hive-partitioned
writes (partition pruning at the scan) and bucketed tables (co-located
equi-joins with no Exchange). Assertions read the formatted physical plan,
the same evidence surface as tools/plan_audit.py.
"""

import re
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse


@pytest.fixture(scope="module")
def wh(spark, tmp_path_factory):
    return Warehouse(spark, str(tmp_path_factory.mktemp("layout_wh")))


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_partitioned_write_prunes(spark, wh):
    ev = spark.createDataFrame(
        [(i, ["click", "view", "purchase"][i % 3], float(i)) for i in range(300)],
        "event_id long, event_type string, value double",
    )
    n = wh.overwrite(ev, "bronze", "events_part", partition_by=["event_type"])
    assert n == 300
    # one directory per partition value on disk
    dirs = {p.name for p in wh.data_dir("bronze", "events_part").iterdir() if p.is_dir()}
    assert dirs == {"event_type=click", "event_type=view", "event_type=purchase"}

    df = wh.read("bronze", "events_part").filter(F.col("event_type") == "click")
    plan = _plan(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "click" in m.group(1), plan
    assert df.count() == 100


def test_bucketed_join_has_no_exchange(spark, wh):
    left = spark.createDataFrame(
        [(i % 50, i, float(i)) for i in range(1000)], "k long, id long, v double"
    )
    right = spark.createDataFrame(
        [(i % 50, f"n{i}") for i in range(500)], "k long, name string"
    )
    wh.overwrite_bucketed(left, "silver", "fact_a", ["k"], 8)
    wh.overwrite_bucketed(right, "silver", "fact_b", ["k"], 8)

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = wh.read_bucketed("silver", "fact_a").join(
            wh.read_bucketed("silver", "fact_b"), "k"
        )
        plan = _plan(j)
        # SortMergeJoin with the shuffle prepaid at write: no Exchange nodes
        assert "SortMergeJoin" in plan, plan
        assert not re.search(r"^\(\d+\) Exchange\s*$", plan, re.MULTILINE), plan
        assert j.count() == 1000 * 10
        # bucketed group-by on the bucket key also plans without Exchange
        agg = wh.read_bucketed("silver", "fact_a").groupBy("k").agg(F.sum("v"))
        assert not re.search(r"^\(\d+\) Exchange\s*$", _plan(agg), re.MULTILINE)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_compact_small_files(spark, wh):
    for i in range(12):  # 12 append batches -> many small files
        b = spark.createDataFrame([(i * 10 + j, float(j)) for j in range(10)], "id long, v double")
        wh.append(b.coalesce(1), "silver", "accreted")
    n_before = len(list(wh.data_dir("silver", "accreted").glob("*.parquet")))
    assert n_before >= 12
    n_after = wh.compact("silver", "accreted", target_files=2, cluster_by=["id"])
    assert n_after <= 2
    df = wh.read("silver", "accreted")
    assert df.count() == 120
    # range clustering: per-file id ranges must not overlap
    ranges = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("id").alias("lo"), F.max("id").alias("hi"))
        .collect()
    )
    spans = sorted((r.lo, r.hi) for r in ranges)
    assert all(a[1] < b[0] for a, b in zip(spans, spans[1:]))


def test_schema_evolution_append(spark, tmp_path):
    """append_evolve: new columns surface NULL on old rows under
    merge_schema reads; type changes are rejected before any file lands."""
    import pytest as _pytest

    wh = Warehouse(spark, str(tmp_path / "evo_wh"))
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string")
    wh.overwrite(v1, "silver", "accounts_evo")

    v2 = spark.createDataFrame(
        [(3, "c", "premium")], "id long, name string, tier string"
    )
    wh.append_evolve(v2, "silver", "accounts_evo")

    merged = wh.read("silver", "accounts_evo", merge_schema=True)
    assert set(merged.columns) == {"id", "name", "tier"}
    rows = {r.id: r.tier for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "premium"}

    # dropping a column is fine — newer files just lack it
    v3 = spark.createDataFrame([(4,)], "id long")
    wh.append_evolve(v3, "silver", "accounts_evo")
    assert wh.read("silver", "accounts_evo", merge_schema=True).count() == 4

    # changing an existing column's type is rejected up front
    bad = spark.createDataFrame([(5, 7.5)], "id long, name double")
    with _pytest.raises(TypeError, match="name"):
        wh.append_evolve(bad, "silver", "accounts_evo")
    assert wh.read("silver", "accounts_evo", merge_schema=True).count() == 4


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """DPP: joining a date-partitioned fact to a FILTERED dim must inject a
    runtime pruning subquery into the fact scan — only the partitions the
    dim filter selects are read. This is the mechanism that turns the gold
    star schema's dim filters into fact-scan skips at 100 TB (static
    pruning can't see through the join; DPP can)."""
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "dpp_wh"))
    fact = spark.range(20_000).select(
        F.col("id").alias("k"),
        (F.col("id") % 30).alias("day"),
        (F.col("id") % 997).cast("double").alias("amount"),
    )
    wh.overwrite(fact, "gold", "fact_part", partition_by=["day"])
    dim = spark.range(30).select(
        F.col("id").alias("day"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tier"),
    )
    wh.overwrite(dim, "gold", "dim_day")

    f = wh.read("gold", "fact_part")
    d = wh.read("gold", "dim_day").filter(F.col("tier") == "hot")
    j = f.join(d, "day").agg(F.sum("amount").alias("s"))

    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    # correctness: only days 0..2 contribute
    expected = (
        fact.filter(F.col("day") < 3).agg(F.sum("amount")).first()[0]
    )
    assert j.first().s == expected


def test_zordered_write_skips_on_both_dims(spark, tmp_path):
    """overwrite_zordered: per-file footer min/max ranges must be tight on
    BOTH interleaved dimensions, so a point filter on EITHER column skips
    most files — a single-axis sort can only do that for its leading
    column. Verified from the parquet footers themselves (the same stats a
    scan's file pruning reads)."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "z_wh"))
    n = 60_000
    df = spark.range(n).select(
        (F.xxhash64("id") % 4096).alias("x"),
        (F.xxhash64("id", F.lit(1)) % 4096).alias("y"),
        F.col("id").alias("payload"),
    ).withColumn("x", F.abs("x")).withColumn("y", F.abs("y"))

    wh.overwrite_zordered(df, "gold", "zt", "x", "y", target_files=16)
    wh.overwrite(df.repartitionByRange(16, "x").sortWithinPartitions("x"), "gold", "lin")

    def file_ranges(table):
        out = []
        for f in wh.data_dir("gold", table).glob("*.parquet"):
            md = pq.read_metadata(f)
            lo = {c: None for c in ("x", "y")}
            hi = {c: None for c in ("x", "y")}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        s = col.statistics
                        lo[name] = s.min if lo[name] is None else min(lo[name], s.min)
                        hi[name] = s.max if hi[name] is None else max(hi[name], s.max)
            out.append((lo, hi))
        return out

    def files_hit(ranges, col, point):
        return sum(1 for lo, hi in ranges if lo[col] <= point <= hi[col])

    zr, lr = file_ranges("zt"), file_ranges("lin")
    assert len(zr) >= 8 and len(lr) >= 8
    probes = [100, 1000, 2000, 3000, 4000]
    z_x = sum(files_hit(zr, "x", p) for p in probes) / (len(probes) * len(zr))
    z_y = sum(files_hit(zr, "y", p) for p in probes) / (len(probes) * len(zr))
    l_x = sum(files_hit(lr, "x", p) for p in probes) / (len(probes) * len(lr))
    l_y = sum(files_hit(lr, "y", p) for p in probes) / (len(probes) * len(lr))
    # the x-sorted layout skips on x but reads EVERY file for y filters
    assert l_x < 0.35 and l_y > 0.95
    # the z-ordered layout skips meaningfully on BOTH
    assert z_x < 0.75 and z_y < 0.75, (z_x, z_y)
    # and rows survive intact
    assert wh.read("gold", "zt").count() == n


def test_schema_evolution_ignores_nested_nullability(spark, tmp_path):
    """Array columns differing only in containsNull are merge-compatible
    and must not be rejected (review finding: strict DataType equality
    produced a self-contradictory 'array<int> vs array<int>' error)."""
    from pyspark.sql import functions as F

    wh = Warehouse(spark, str(tmp_path / "nul_wh"))
    v1 = spark.createDataFrame([(1, [1, 2])], "id long, xs array<int>")
    wh.overwrite(v1, "silver", "t")
    # F.array of literals yields containsNull=False — same simpleString
    v2 = spark.range(1).select(
        (F.col("id") + 10).alias("id"),
        F.array(F.lit(3), F.lit(4)).alias("xs"),
    )
    wh.append_evolve(v2, "silver", "t")  # must not raise
    assert wh.read("silver", "t", merge_schema=True).count() == 2


# ---------------------------------------------------------------------------
# Read fence: a warehouse read returns exactly the schema Spark's own
# inference gives (nullability included), and a Spark-written table's
# schema comes from its parquet footer on the driver with no Spark job.
# ---------------------------------------------------------------------------


def _assert_read_fence(spark, read, path, job_free=True):
    """``read()`` returns Spark's own inferred schema for ``path`` and,
    when ``job_free``, submits no Spark job."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    df = read()
    jobs = len(set(tracker.getJobIdsForGroup() or []) - before)
    assert df.schema == spark.read.parquet(str(path)).schema
    if job_free:
        assert jobs == 0, f"{jobs} Spark job(s) to read {path}"
    return df


def test_read_takes_schema_from_footer(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(1, "a", Decimal("1.50"), [1, 2], {"k": 1}, (7, "x"))],
        "id long not null, name string, amt decimal(12,2), tags array<int>, "
        "m map<string,int>, s struct<a:int not null,b:string>",
    ).withColumn("ts", F.current_timestamp())
    wh.overwrite(df, "silver", "plain")
    got = _assert_read_fence(
        spark, lambda: wh.read("silver", "plain"), wh.data_dir("silver", "plain")
    )
    assert got.count() == 1


def test_read_partitioned_table_keeps_partition_columns(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ev = spark.createDataFrame(
        [(i, ["click", "view"][i % 2], i % 3, float(i)) for i in range(12)],
        "event_id long, event_type string, day int, value double",
    )
    wh.overwrite(ev, "bronze", "events", partition_by=["event_type", "day"])
    got = _assert_read_fence(
        spark, lambda: wh.read("bronze", "events"), wh.data_dir("bronze", "events")
    )
    assert got.columns[-2:] == ["event_type", "day"]
    assert got.filter(F.col("day") == 1).count() == 4


def test_read_empty_table(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], "id long, name string")
    assert wh.overwrite(empty, "silver", "empty") == 0
    got = _assert_read_fence(
        spark, lambda: wh.read("silver", "empty"), wh.data_dir("silver", "empty")
    )
    assert got.count() == 0


def test_read_audit_rows_written_by_arrow(spark, tmp_path):
    """The audit table is written on the driver: creating it and inserting
    rows submits no Spark job, and every file, the empty one included,
    carries Spark's schema key, so the read is job-free whichever file
    sorts first. A table whose first file is pyarrow-written without the
    key falls back to Spark's inference, with the same schema either
    way."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from end_to_end_azure_data_engineering_spark.engine.clock import FixedClock
    from end_to_end_azure_data_engineering_spark.engine.tableio import SPARK_SCHEMA_KEY
    from end_to_end_azure_data_engineering_spark.plans.audit import (
        NAMESPACE, TABLE, AuditLog,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup() or [])
    audit = AuditLog(wh, FixedClock(dt.datetime(2024, 3, 1)))
    audit.start("erp", "orders")
    audit.start("erp", "customers")
    assert set(tracker.getJobIdsForGroup() or []) == before
    files = sorted(wh.data_dir(NAMESPACE, TABLE).glob("*.parquet"))
    assert len(files) == 3
    assert all(SPARK_SCHEMA_KEY in pq.read_metadata(f).metadata for f in files)
    got = _assert_read_fence(
        spark, lambda: wh.read(NAMESPACE, TABLE), wh.data_dir(NAMESPACE, TABLE)
    )
    assert got.count() == 2

    rows = pa.table(
        {"id": [1, 2], "at": pa.array([dt.datetime(2024, 3, 1)] * 2, pa.timestamp("us", tz="UTC"))}
    )
    for name in ("part-a.parquet", "part-b.parquet"):
        wh.insert_file(NAMESPACE, "arrow_only", name, lambda tmp: pq.write_table(rows, tmp))
    got = _assert_read_fence(
        spark,
        lambda: wh.read(NAMESPACE, "arrow_only"),
        wh.data_dir(NAMESPACE, "arrow_only"),
        job_free=False,
    )
    assert got.count() == 4


def test_versioned_read_and_time_travel(spark, tmp_path):
    vwh = Warehouse(spark, str(tmp_path / "vwh"))
    v0 = vwh.commit(
        spark.createDataFrame([(1, "a")], "id int not null, name string"),
        "silver", "t",
    )
    v1 = vwh.commit(
        spark.createDataFrame([(2, "b", 2.5)], "id int, name string, amt double"),
        "silver", "t",
    )
    vwh.append(
        spark.createDataFrame([(3, "c", 3.5)], "id int, name string, amt double"),
        "silver", "t",
    )
    v2 = vwh.current_version("silver", "t")
    root = vwh.path("silver", "t")
    cur = _assert_read_fence(spark, lambda: vwh.read("silver", "t"), root / f"_v{v2}")
    assert cur.count() == 2
    for v in (v0, v1):
        _assert_read_fence(
            spark, lambda v=v: vwh.read("silver", "t", version=v), root / f"_v{v}"
        )
    assert vwh.read("silver", "t", version=v0).columns == ["id", "name"]
