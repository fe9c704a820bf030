"""Structured Streaming tests — driven synchronously via memory sinks +
processAllAvailable (no wall-clock waits)."""

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from end_to_end_azure_data_engineering_spark.engine.clock import FixedClock
from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
from end_to_end_azure_data_engineering_spark.streaming.ingest import (
    dedup_within_watermark, scd2_stream_sink, session_windows, stream_files,
    windowed_counts,
)

EVENT_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
])


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.mode("append").parquet(path)


@pytest.fixture()
def stream_dir(spark, tmp_path):
    d = str(tmp_path / "drops")
    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    rows = [
        (1, t0, 1, "click", 1.0),
        (2, t0 + dt.timedelta(minutes=1), 1, "view", 2.0),
        (3, t0 + dt.timedelta(minutes=6), 2, "click", 3.0),
        (1, t0, 1, "click", 1.0),  # replay duplicate
        (4, t0 + dt.timedelta(minutes=50), 2, "view", 4.0),
    ]
    _write_batch(spark, d, rows)
    return d


def _run_to_memory(df, name):
    q = df.writeStream.outputMode("append").format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()


def test_windowed_counts(spark, stream_dir):
    events = stream_files(spark, stream_dir, EVENT_SCHEMA)
    agg = windowed_counts(events, delay="10 minutes", window="5 minutes")
    q = agg.writeStream.outputMode("complete").format("memory").queryName("win_out").start()
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM win_out").collect()
    assert len(rows) >= 3  # clicks 10:00-05, view 10:00-05, click 10:05-10, view 10:50-55
    clicks = [r for r in rows if r.event_type == "click" and r.window_start.minute == 0]
    assert clicks and clicks[0].n == 2  # replay counted twice pre-dedup


def test_dedup_within_watermark(spark, stream_dir):
    events = stream_files(spark, stream_dir, EVENT_SCHEMA)
    dd = dedup_within_watermark(events, ["event_id"])
    _run_to_memory(dd, "dedup_out")
    rows = spark.sql("SELECT event_id, count(*) AS n FROM dedup_out GROUP BY event_id").collect()
    assert all(r.n == 1 for r in rows)
    assert {r.event_id for r in rows} == {1, 2, 3, 4}


def test_session_windows(spark, stream_dir):
    events = stream_files(spark, stream_dir, EVENT_SCHEMA)
    sess = session_windows(events, gap="30 minutes")
    q = sess.writeStream.outputMode("complete").format("memory").queryName("sess_out").start()
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT * FROM sess_out ORDER BY user_id, session_start").collect()
    # user 1: one session (2 events); user 2: two sessions (gap 44 min > 30)
    u2 = [r for r in rows if r.user_id == 2]
    assert len(u2) == 2 and all(r.n_events == 1 for r in u2)
    u1 = [r for r in rows if r.user_id == 1]
    assert len(u1) == 1 and u1[0].n_events == 3  # incl. the replay duplicate


def test_scd2_foreachbatch_sink(spark, tmp_path, stream_dir):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    clock = FixedClock(dt.datetime(2024, 3, 2, 0, 0, 0))
    sink = scd2_stream_sink(
        wh, "user_state", key="user_id",
        compare_cols=["event_type", "value"], recency_cols=["ts", "event_id"],
    )
    events = stream_files(spark, stream_dir, EVENT_SCHEMA).select(
        "user_id", "event_type", "value", "ts", "event_id"
    )
    q = events.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()
    state1 = wh.read("silver", "user_state")
    assert state1.filter(F.col("is_current")).count() == 2  # users 1, 2

    # second drop: user 1 changes state → history row + new current
    _write_batch(spark, stream_dir, [(9, dt.datetime(2024, 3, 1, 12, 0), 1, "purchase", 9.9)])
    clock.advance(hours=1)
    q = events.writeStream.foreachBatch(sink).start()
    q.processAllAvailable()
    q.stop()
    state2 = wh.read("silver", "user_state")
    u1 = state2.filter(F.col("user_id") == 1)
    assert u1.count() == 2  # expired original + new current version
    cur = u1.filter(F.col("is_current")).collect()
    assert len(cur) == 1 and cur[0].event_type == "purchase"


def test_stateful_running_totals(spark, tmp_path):
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        stateful_running_totals,
        stream_files,
    )

    path = str(tmp_path / "stateful_in")
    _write_batch(spark, path, [(1, dt.datetime(2024, 1, 1, 10, 0, 0), 10, "click", 2.0)])
    stream = stream_files(spark, path, EVENT_SCHEMA)
    q = (
        stateful_running_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_state"))
        .start()
    )
    try:
        q.processAllAvailable()
        # second batch for the same user accumulates into state
        _write_batch(spark, path, [(2, dt.datetime(2024, 1, 1, 10, 1, 0), 10, "click", 3.0)])
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT * FROM running_totals ORDER BY n_events DESC"
        ).collect()
        assert rows[0].user_id == 10
        assert rows[0].n_events == 2
        assert rows[0].total_value == 5.0
    finally:
        q.stop()


def test_enrich_stream_with_dim(spark, tmp_path):
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        enrich_stream_with_dim,
        stream_files,
    )

    path = str(tmp_path / "enrich_in")
    _write_batch(
        spark,
        path,
        [(1, dt.datetime(2024, 1, 1, 10, 0, 0), 10, "click", 2.0),
         (2, dt.datetime(2024, 1, 1, 10, 0, 1), 99, "view", 1.0)],
    )
    dim = spark.createDataFrame([(10, "GOLD")], "cust_id long, tier string")
    stream = stream_files(spark, path, EVENT_SCHEMA)
    q = (
        enrich_stream_with_dim(stream, dim, "user_id", "cust_id")
        .writeStream.format("memory")
        .queryName("enriched")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r.user_id: r.tier for r in spark.sql("SELECT * FROM enriched").collect()}
        assert rows[10] == "GOLD"
        assert rows[99] is None  # left join keeps unmatched stream rows
    finally:
        q.stop()


def test_sliding_windowed_counts(spark, stream_dir, tmp_path):
    """Sliding windows: each event lands in window_size/slide overlapping
    windows (5 min window, 1 min slide -> 5 windows per event)."""
    stream = stream_files(spark, stream_dir, EVENT_SCHEMA)
    q = (
        windowed_counts(stream, window="5 minutes", slide="1 minute")
        .writeStream.format("memory")
        .queryName("sliding_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_slide"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM sliding_counts").collect()
        # event 3 (10:06, click, user 2) is the only click in 5 of the windows
        lone_click_windows = [
            r for r in rows
            if r.event_type == "click" and r.n == 1 and r.total_value == 3.0
        ]
        assert len(lone_click_windows) == 5
        starts = {r.window_start.minute for r in lone_click_windows}
        assert starts == {2, 3, 4, 5, 6}  # every 1-min slide covering 10:06
    finally:
        q.stop()


def test_interval_join_streams(spark, tmp_path):
    """Stream-stream interval join: clicks and purchases arrive on two live
    file streams; each click pairs with same-user purchases inside its
    30-minute horizon, and the join is accepted by Spark as a bounded-state
    stream-stream join (watermarks both sides + closed time range)."""
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        interval_join_events,
    )

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    _write_batch(spark, clicks_dir, [
        (1, t0, 1, "click", 0.0),
        (2, t0 + dt.timedelta(minutes=5), 2, "click", 0.0),
        (3, t0 + dt.timedelta(hours=2), 1, "click", 0.0),
    ])
    _write_batch(spark, purch_dir, [
        (10, t0 + dt.timedelta(minutes=10), 1, "purchase", 9.5),   # ← click 1
        (11, t0 + dt.timedelta(minutes=20), 2, "purchase", 3.0),   # ← click 2
        (12, t0 + dt.timedelta(minutes=50), 1, "purchase", 1.0),   # outside horizon
        (13, t0 + dt.timedelta(hours=2, minutes=1), 1, "purchase", 7.0),  # ← click 3
        (14, t0 + dt.timedelta(minutes=15), 9, "purchase", 2.0),   # no click user
    ])
    joined = interval_join_events(
        stream_files(spark, clicks_dir, EVENT_SCHEMA),
        stream_files(spark, purch_dir, EVENT_SCHEMA),
        horizon="30 minutes",
    )
    assert joined.isStreaming
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("ivj_out").start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.sql("SELECT l_id, r_id FROM ivj_out").collect()
    assert {(r.l_id, r.r_id) for r in rows} == {(1, 10), (2, 11), (3, 13)}


def test_interval_join_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream interval join: a click with no purchase in
    its horizon emits with null right columns once the watermark (advanced
    by a later batch) proves no match can still arrive."""
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        interval_join_events,
    )

    t0 = dt.datetime(2024, 3, 1, 10, 0, 0)
    clicks_dir = str(tmp_path / "clicks")
    purch_dir = str(tmp_path / "purchases")
    _write_batch(spark, clicks_dir, [
        (1, t0, 1, "click", 0.0),                            # will match
        (2, t0 + dt.timedelta(minutes=1), 2, "click", 0.0),  # never matches
    ])
    _write_batch(spark, purch_dir, [
        (10, t0 + dt.timedelta(minutes=5), 1, "purchase", 4.0),
    ])
    joined = interval_join_events(
        stream_files(spark, clicks_dir, EVENT_SCHEMA),
        stream_files(spark, purch_dir, EVENT_SCHEMA),
        horizon="30 minutes",
        delay="5 minutes",
        how="left_outer",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory").queryName("ivjo_out").start()
    )
    q.processAllAvailable()
    # advance the watermark far past click 2's horizon on BOTH inputs
    far = t0 + dt.timedelta(hours=3)
    _write_batch(spark, clicks_dir, [(3, far, 9, "click", 0.0)])
    _write_batch(spark, purch_dir, [(11, far, 9, "purchase", 1.0)])
    q.processAllAvailable()
    # one more micro-batch so the state store evicts + emits outer rows
    _write_batch(spark, clicks_dir, [(4, far + dt.timedelta(minutes=1), 8, "click", 0.0)])
    q.processAllAvailable()
    q.stop()
    rows = {(r.l_id, r.r_id) for r in spark.sql("SELECT l_id, r_id FROM ivjo_out").collect()}
    assert (1, 10) in rows          # matched pair
    assert (2, None) in rows        # unmatched click emitted with nulls


def test_dedup_stream_sink_matches_batch_dedup(spark, tmp_path):
    """Continuous dedup: feeding the corpus through the foreachBatch dedup
    sink in three micro-batches (with replays) converges to the same
    survivor set as one-shot batch dedup_corpus over everything — and
    later batches read stored signatures instead of re-shingling history."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.operators.neardup import dedup_corpus
    from end_to_end_azure_data_engineering_spark.queries import load as qload
    from end_to_end_azure_data_engineering_spark.streaming.ingest import dedup_stream_sink

    docs = qload(spark, "/root/testdata/sf0.001", "documents").select("doc_id", "text")
    wh = Warehouse(spark, str(tmp_path / "wh"))
    sink = dedup_stream_sink(wh, threshold=0.2)
    batches = [docs.filter(F.col("doc_id") % 3 == i) for i in range(3)]
    sink(batches[0], 0)
    sink(batches[1], 1)
    sink(batches[1], 1)  # at-least-once replay: must be a no-op
    sink(batches[2], 2)
    sink(batches[0], 0)  # stale replay from further back

    state = wh.read("silver", "dedup_components").drop("_epoch")
    losers = {r.node for r in state.filter(F.col("node") != F.col("label")).collect()}
    streamed_survivors = {
        r.doc_id for r in docs.collect() if r.doc_id not in losers
    }
    batch_survivors = {
        r.doc_id for r in dedup_corpus(docs, "doc_id", "text", threshold=0.2).collect()
    }
    assert streamed_survivors == batch_survivors
    # the signature store covers the corpus exactly once per doc
    sigs = wh.read("silver", "dedup_signatures")
    assert sigs.count() == sigs.select("_id").distinct().count() == docs.count()


def test_sink_fresh_checkpoint_lineage_not_dropped(spark, tmp_path):
    """r4 advice: foreachBatch epochs restart at 0 when a stream starts
    over with a FRESH checkpoint location. The sinks key their replay
    guard by (queryId, epoch) — a new lineage's epoch-0 batch must be
    folded in, while a same-lineage replay is still skipped."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.functions import sketches as S
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        cms_stream_sink,
    )

    wh = Warehouse(spark, str(tmp_path / "wh"))
    sink = cms_stream_sink(wh, "sketch", "k")
    batch = spark.createDataFrame([("a",), ("a",), ("b",)], "k STRING")
    sc = spark.sparkContext

    def est(key):
        sk = wh.read("gold", "sketch")
        probe = (
            spark.createDataFrame([(key,)], "k STRING")
            .select(F.explode(S.cms_entries(F.col("k").cast("string"))).alias("e"))
            .select(F.col("e.j").alias("j"), F.col("e.b").alias("b"))
        )
        return probe.join(sk, ["j", "b"]).agg(F.min("c")).first()[0]

    try:
        sc.setLocalProperty("sql.streaming.queryId", "query-A")
        sink(batch, 0)
        sink(batch, 1)
        sink(batch, 1)            # same-lineage replay: skipped
        assert est("a") == 4
        # stream restarted with a fresh checkpoint: new queryId, epoch 0
        sc.setLocalProperty("sql.streaming.queryId", "query-B")
        sink(batch, 0)            # must NOT be dropped
        assert est("a") == 6
        sink(batch, 0)            # replay within the new lineage: skipped
        assert est("a") == 6
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)


def test_sink_interleaved_lineage_replay_skipped(spark, tmp_path):
    """r5 advice: with a single last-writer qid stamp, the sequence
    A:epoch0, B:epoch0, A-replays-epoch0 would classify A's replay as a
    fresh lineage (stored qid is B's) and double-count it. The ``_wm``
    per-lineage watermark map keeps every lineage's high-water mark, so
    the replay is skipped while each lineage's genuinely new epochs fold."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.functions import sketches as S
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        cms_stream_sink,
    )

    wh = Warehouse(spark, str(tmp_path / "wh_interleave"))
    sink = cms_stream_sink(wh, "sketch", "k")
    batch = spark.createDataFrame([("a",), ("a",), ("b",)], "k STRING")
    sc = spark.sparkContext

    def est(key):
        sk = wh.read("gold", "sketch")
        probe = (
            spark.createDataFrame([(key,)], "k STRING")
            .select(F.explode(S.cms_entries(F.col("k").cast("string"))).alias("e"))
            .select(F.col("e.j").alias("j"), F.col("e.b").alias("b"))
        )
        return probe.join(sk, ["j", "b"]).agg(F.min("c")).first()[0]

    try:
        sc.setLocalProperty("sql.streaming.queryId", "query-A")
        sink(batch, 0)
        sc.setLocalProperty("sql.streaming.queryId", "query-B")
        sink(batch, 0)  # interleaved writer: a different lineage folds in
        assert est("a") == 4
        sc.setLocalProperty("sql.streaming.queryId", "query-A")
        sink(batch, 0)  # A's at-least-once replay — must be skipped
        assert est("a") == 4
        sink(batch, 1)  # A's genuinely new epoch — folds
        assert est("a") == 6
    finally:
        sc.setLocalProperty("sql.streaming.queryId", None)


def test_load_watermarks_pre_wm_table_fallback(spark):
    """Tables written before the ``_wm`` map existed carry a single
    (_qid, _epoch) stamp; the loader folds it into the map form."""
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        _load_watermarks,
    )

    old = spark.createDataFrame([(1, 5, "q1")], "x INT, _epoch INT, _qid STRING")
    assert _load_watermarks(old) == {"q1": 5}
    bare = spark.createDataFrame([(1, 3)], "x INT, _epoch INT")
    assert _load_watermarks(bare) == {"batch": 3}
    none = spark.createDataFrame([(1,)], "x INT")
    assert _load_watermarks(none) == {}


def test_topk_stream_sink_misra_gries_bounds(spark, tmp_path):
    """The MG sink must (a) never store more than k rows, (b) satisfy the
    deficiency bound mg <= true <= mg + _off for every retained key,
    (c) retain every key whose true count exceeds _off, and (d) skip
    at-least-once replays."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        topk_stream_sink,
    )

    wh = Warehouse(spark, str(tmp_path / "wh_topk"))
    k = 5
    sink = topk_stream_sink(wh, "hot_users", "user_id", k=k)
    # Zipf-ish synthetic stream: user u appears ~ (40 - u) times per batch
    # 75% of events hit 5 hot users (~600 each); the rest spread thin
    # (~29 each) — the shape MG is built to separate.
    ev = spark.range(4000).select(
        F.when(F.col("id") % 4 != 0, F.col("id") % 5)
        .otherwise((F.col("id") * 2654435761 % 35 + 100))
        .cast("long")
        .alias("user_id"),
        (F.col("id") % 7).alias("batch"),
    )
    batches = [ev.filter(F.col("batch") == i).select("user_id") for i in range(7)]
    for i, b in enumerate(batches):
        sink(b, i)

    tbl = wh.read("gold", "hot_users")
    all_rows = tbl.collect()
    # exactly one bookkeeping sentinel (key IS NULL) rides in the table
    assert sum(1 for r in all_rows if r["key"] is None) == 1
    rows = [r for r in all_rows if r["key"] is not None]
    assert 0 < len(rows) <= k
    off = all_rows[0]["_off"]
    exact = {
        str(r["user_id"]): r["n"]
        for r in ev.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    for r in rows:
        true_c = exact[r["key"]]
        assert 0 <= true_c - r["c"] <= off, (r["key"], r["c"], true_c, off)
    retained = {r["key"] for r in rows}
    for key, true_c in exact.items():
        if true_c > off:
            assert key in retained, (key, true_c, off)

    # replay: re-delivering the last batch must not change the summary
    before = sorted((r["key"], r["c"]) for r in rows)
    sink(batches[-1], len(batches) - 1)
    after = sorted(
        (r["key"], r["c"])
        for r in wh.read("gold", "hot_users").collect()
        if r["key"] is not None
    )
    assert before == after


def test_topk_stream_sink_all_ties_keeps_bookkeeping(spark, tmp_path):
    """All top k+1 counts tie ⇒ the MG subtraction zeroes every counter and
    the published summary has zero DATA rows — but the sentinel row must
    keep _wm (replay watermark) and _off (deficiency offset) alive, so a
    redelivered batch is skipped and the bound survives (r6 advice)."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        topk_stream_sink,
    )

    wh = Warehouse(spark, str(tmp_path / "wh_ties"))
    k = 2
    sink = topk_stream_sink(wh, "hot", "user_id", k=k)
    # 3 keys (> k) × 5 occurrences each: thresh == every count ⇒ empty summary
    ties = spark.range(15).select((F.col("id") % 3).alias("user_id"))
    sink(ties, 0)
    tbl = wh.read("gold", "hot").collect()
    assert [r for r in tbl if r["key"] is not None] == []
    assert len(tbl) == 1 and tbl[0]["_off"] == 5  # sentinel carries _off

    # at-least-once redelivery of epoch 0 must be recognized as a replay
    sink(ties, 0)
    again = wh.read("gold", "hot").collect()
    assert len(again) == 1 and again[0]["_off"] == 5

    # a following batch folds on top of the preserved offset: every key with
    # true_count > _off is retained and mg <= true <= mg + _off holds
    follow = spark.range(20).select(F.lit(7).cast("long").alias("user_id"))
    sink(follow, 1)
    rows = [
        r for r in wh.read("gold", "hot").collect() if r["key"] is not None
    ]
    off = wh.read("gold", "hot").select("_off").first()["_off"]
    true_counts = {"0": 5, "1": 5, "2": 5, "7": 20}
    for r in rows:
        assert 0 <= true_counts[r["key"]] - r["c"] <= off
    retained = {r["key"] for r in rows}
    for key, tc in true_counts.items():
        if tc > off:
            assert key in retained, (key, tc, off)


def test_dedup_sink_autocompacts_signature_store(spark, tmp_path, monkeypatch):
    """Every epoch's append adds one parquet file set to the signature
    store; past SIG_COMPACT_FILES the sink must rewrite the store
    compacted — bounded file count, identical dedup results."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.queries import load as qload
    from end_to_end_azure_data_engineering_spark.operators.neardup import (
        dedup_corpus,
    )
    from end_to_end_azure_data_engineering_spark.streaming import ingest

    monkeypatch.setattr(ingest, "SIG_COMPACT_FILES", 4)
    docs = qload(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    wh = Warehouse(spark, str(tmp_path / "wh_compact"))
    sink = ingest.dedup_stream_sink(wh, threshold=0.2)
    n_batches = 6
    for i in range(n_batches):
        sink(docs.filter(F.col("doc_id") % n_batches == i), i)

    n_files = len(list(wh.data_dir("silver", "dedup_signatures").glob("*.parquet")))
    assert n_files <= max(4, spark.sparkContext.defaultParallelism), n_files
    # compaction must not change the store's content or the dedup outcome
    sigs = wh.read("silver", "dedup_signatures")
    assert sigs.count() == sigs.select("_id").distinct().count() == docs.count()
    state = wh.read("silver", "dedup_components")
    losers = {r.node for r in state.filter(F.col("node") != F.col("label")).collect()}
    streamed = {r.doc_id for r in docs.collect() if r.doc_id not in losers}
    batch = {r.doc_id for r in dedup_corpus(docs, "doc_id", "text", threshold=0.2).collect()}
    assert streamed == batch


def test_dedup_sink_partitioned_store_partition_local_compaction(
    spark, tmp_path, monkeypatch
):
    """With sig_buckets set, the signature store is hive-partitioned and
    small-file control is partition-local: fragmented buckets compact via
    OPTIMIZE-WHERE, per-bucket file counts stay bounded, and the dedup
    outcome equals one-shot batch dedup."""
    from end_to_end_azure_data_engineering_spark.operators.neardup import (
        dedup_corpus,
    )
    from end_to_end_azure_data_engineering_spark.queries import load as qload
    from end_to_end_azure_data_engineering_spark.streaming import ingest

    monkeypatch.setattr(ingest, "SIG_COMPACT_FILES_PER_BUCKET", 3)
    docs = qload(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    wh = Warehouse(spark, str(tmp_path / "wh_part"))
    sink = ingest.dedup_stream_sink(wh, threshold=0.2, sig_buckets=4)
    n_batches = 6
    for i in range(n_batches):
        sink(docs.filter(F.col("doc_id") % n_batches == i), i)

    ddir = wh.data_dir("silver", "dedup_signatures")
    bdirs = sorted(ddir.glob("bucket=*"))
    assert len(bdirs) == 4
    for b in bdirs:
        # staggered per-bucket threshold (see SIG_COMPACT_STAGGER): at sink
        # exit every bucket is at or below ITS OWN threshold — any bucket
        # past it was just rewritten to 1 file
        bucket_no = int(b.name.split("=", 1)[1])
        assert len(list(b.glob("*.parquet"))) <= ingest._bucket_compact_threshold(
            bucket_no
        ), b
    # OPTIMIZE entries appear in history
    ops = [h["operation"] for h in wh.history("silver", "dedup_signatures")]
    assert any(op.startswith("OPTIMIZE bucket=") for op in ops)
    sigs = wh.read("silver", "dedup_signatures")
    assert sigs.count() == sigs.select("_id").distinct().count() == docs.count()
    state = wh.read("silver", "dedup_components")
    losers = {r.node for r in state.filter(F.col("node") != F.col("label")).collect()}
    streamed = {r.doc_id for r in docs.collect() if r.doc_id not in losers}
    batch = {
        r.doc_id
        for r in dedup_corpus(docs, "doc_id", "text", threshold=0.2).collect()
    }
    assert streamed == batch


def test_dedup_sink_stream_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """END-TO-END restart recovery (r8): a REAL file-source readStream
    drives dedup_stream_sink through foreachBatch with a durable
    checkpoint; the query is stopped, new files land, and the stream is
    RESTARTED from the same checkpoint — twice, the second time with
    nothing new to process. Spark's checkpointed file tracking plus the
    sink's per-lineage replay watermark must together give exactly-once
    folding across process-lifetime boundaries: the prior tests call the
    sink directly, so the queryId/epoch plumbing Spark provides on
    restart (same StreamingQuery.id, monotonically advancing batchId)
    was never exercised for real."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.operators.neardup import dedup_corpus
    from end_to_end_azure_data_engineering_spark.queries import load as qload
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        dedup_stream_sink, stream_files,
    )

    docs = qload(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    in_dir = str(tmp_path / "doc_drops")
    cp = str(tmp_path / "cp")
    wh = Warehouse(spark, str(tmp_path / "wh_restart"))
    sink = dedup_stream_sink(wh, threshold=0.2)
    schema = docs.schema

    def run_stream():
        q = (
            stream_files(spark, in_dir, schema)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", cp)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert not q.isActive

    # life 1: first file drop
    docs.filter(F.col("doc_id") % 3 == 0).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_stream()
    # life 2: two more drops land while "down", restart from checkpoint
    docs.filter(F.col("doc_id") % 3 == 1).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    docs.filter(F.col("doc_id") % 3 == 2).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    run_stream()
    # life 3: restart with NOTHING new — must fold nothing twice
    run_stream()

    sigs = wh.read("silver", "dedup_signatures")
    assert sigs.count() == sigs.select("_id").distinct().count() == docs.count()
    state = wh.read("silver", "dedup_components")
    losers = {
        r.node for r in state.filter(F.col("node") != F.col("label")).collect()
    }
    streamed = {r.doc_id for r in docs.collect() if r.doc_id not in losers}
    batch = {
        r.doc_id
        for r in dedup_corpus(docs, "doc_id", "text", threshold=0.2).collect()
    }
    assert streamed == batch


def test_dedup_sink_crash_between_signature_and_state_publish(spark, tmp_path):
    """The sink's documented crash window (ingest.py::dedup_stream_sink
    docstring): signatures publish BEFORE state, so a crash between the
    two must leave a replayable epoch — the replay's anti-join skips the
    already-stored signatures and the state merge re-runs idempotently.
    Inject the crash by failing the state-table overwrite once, then
    replay the epoch and assert convergence to the batch result with
    every signature stored exactly once."""
    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.operators.neardup import dedup_corpus
    from end_to_end_azure_data_engineering_spark.queries import load as qload
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        dedup_stream_sink,
    )

    docs = qload(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    wh = Warehouse(spark, str(tmp_path / "wh_crashwin"))
    sink = dedup_stream_sink(wh, threshold=0.2)
    sink(docs.filter(F.col("doc_id") % 2 == 0), 0)

    real_overwrite = wh.overwrite
    crashed = {"n": 0}

    def failing_overwrite(df, namespace, table, **kw):
        if table == "dedup_components" and crashed["n"] == 0:
            crashed["n"] = 1
            raise RuntimeError("injected crash after signature publish")
        return real_overwrite(df, namespace, table, **kw)

    wh.overwrite = failing_overwrite
    batch1 = docs.filter(F.col("doc_id") % 2 == 1)
    try:
        sink(batch1, 1)
        raise AssertionError("injected crash did not fire")
    except RuntimeError as e:
        assert "injected" in str(e)
    # epoch 1's signatures are durable, its state is not — the watermark
    # still says epoch 0, so the replay must NOT be skipped
    sigs_mid = wh.read("silver", "dedup_signatures")
    assert sigs_mid.count() == docs.count()  # batch already stored
    wh.overwrite = real_overwrite

    sink(batch1, 1)  # the at-least-once replay after restart

    sigs = wh.read("silver", "dedup_signatures")
    assert sigs.count() == sigs.select("_id").distinct().count() == docs.count()
    state = wh.read("silver", "dedup_components")
    losers = {
        r.node for r in state.filter(F.col("node") != F.col("label")).collect()
    }
    streamed = {r.doc_id for r in docs.collect() if r.doc_id not in losers}
    batch = {
        r.doc_id
        for r in dedup_corpus(docs, "doc_id", "text", threshold=0.2).collect()
    }
    assert streamed == batch
