"""Structured Streaming extension — SURVEY §2.9 mapping.

The reference's incremental behavior is batch micro-loads + an external
watermark table (M4). The streaming equivalents, scale path for the same
semantics:

| reference mechanism                  | streaming equivalent here            |
|--------------------------------------|--------------------------------------|
| timestamped file drops + glob read   | file-source readStream (exactly-once |
|                                      | file tracking via checkpoint)        |
| audit-table watermark (S6/A1)        | checkpoint offsets +                 |
|                                      | withWatermark(event_time, delay)     |
| keep-latest-per-key dedup (W1)       | dropDuplicates within watermark /    |
|                                      | foreachBatch keep_latest             |
| SCD2 MERGE per batch (M1)            | foreachBatch(scd2_merge)             |
| (absent in reference)                | tumbling/sliding/session windows     |

Everything returns streaming DataFrames or StreamingQuery handles; tests
drive them synchronously with processAllAvailable() on memory sinks.
"""

from __future__ import annotations

import datetime as _dt
import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..engine.clock import Clock, SystemClock
from ..engine.tableio import Warehouse
from ..operators.dedup import latest_by_recency
from ..operators.scd2 import scd2_init, scd2_merge
from ..engine.pin import pin as _pin


def _query_lineage_id(spark: SparkSession) -> str:
    """Stable id of the streaming query driving this micro-batch. Spark
    persists StreamingQuery.id in the checkpoint and sets it as a
    task-local property (``sql.streaming.queryId``) around each batch, so
    it survives restarts from the SAME checkpoint but changes for a fresh
    checkpoint location — exactly the lineage signal the replay guards
    need. Absent (direct batch-parity invocation in tests) a fixed marker
    keeps the bare-epoch semantics."""
    try:
        qid = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    except Exception:  # noqa: BLE001
        qid = None
    return qid or "batch"


# Bookkeeping columns the sinks ride on their standing tables; consumers
# and merge paths strip all of them (older tables carry _epoch/_qid, current
# ones carry _wm).
BOOKKEEPING_COLS = ("_wm", "_epoch", "_qid")

#: parquet-file fragmentation threshold for the dedup sink's signature
#: store: each epoch's append lands SIG_APPEND_FILES files (coalesced —
#: a batch-sized row set written as 32 shuffle-partition shards would hit
#: the threshold every other epoch and rewrite the corpus each time), and
#: past SIG_COMPACT_FILES total the store is rewritten compacted (one
#: versioned commit) — so compaction fires every
#: ~(SIG_COMPACT_FILES/2)/SIG_APPEND_FILES epochs, amortized O(corpus/8)
#: per epoch. At 100 TB the store is date-partitioned and compaction is
#: partition-local; this is the single-table form.
SIG_COMPACT_FILES = 64
SIG_APPEND_FILES = 4
#: per-partition fragmentation threshold when the signature store is
#: bucket-partitioned (sig_buckets): each fragmented bucket is rewritten
#: locally via compact_partition — O(bucket), never O(store).
SIG_COMPACT_FILES_PER_BUCKET = 16
#: stagger classes for the per-bucket threshold: every bucket fragments at
#: the same rate (each epoch's coalesced append touches all buckets), so a
#: single shared threshold makes ALL buckets cross it on the SAME epoch and
#: the partition-local design degenerates into a whole-store rewrite spike —
#: the r7 1M-doc probe measured 19→41 s spike epochs growing with the
#: corpus. Offsetting bucket b's threshold by SIG_APPEND_FILES·(b mod
#: SIG_COMPACT_STAGGER) desynchronizes the cycles permanently (each bucket
#: keeps its own threshold after every rewrite), so ~1/SIG_COMPACT_STAGGER
#: of the buckets compact per cycle epoch and the per-epoch worst case
#: drops by the same factor. Per-bucket file bound at sink exit:
#: threshold + SIG_APPEND_FILES·(b mod SIG_COMPACT_STAGGER).
SIG_COMPACT_STAGGER = 4
#: LSH band-bucket occupancy cap for the sink's continuous mining: buckets
#: holding more docs than this switch from all-pairs candidates to star
#: candidates against the bucket's min-id hub (O(B) instead of O(B·batch)
#: per epoch — the hot-bucket defense a standing corpus needs; see
#: operators.neardup.pairs_from_signatures). Far above any test corpus's
#: max occupancy, so batch-parity tests exercise the exact path.
#: Recall trade at this cap, MEASURED (SCALING.md r13, boilerplate-heavy
#: 60k corpus): hub-connected cores stay one component and cold-bucket
#: decisions are bit-identical; the bias is UNDER-deletion of
#: hard-drifting template families (~8% of a worst-case family kept),
#: never over-deletion — capped pairs are a strict subset of exact.
SIG_HOT_BUCKET_CAP = 1024


def _bucket_compact_threshold(bucket: int) -> int:
    return SIG_COMPACT_FILES_PER_BUCKET + SIG_APPEND_FILES * (
        bucket % SIG_COMPACT_STAGGER
    )


def _load_watermarks(existing: DataFrame) -> dict[str, int]:
    """Per-lineage epoch high-water marks stored IN the standing table.

    Keyed by query LINEAGE, not epoch alone: foreachBatch epochs restart at
    0 when a stream starts over with a fresh checkpoint location, and a
    bare ``epoch <= max(_epoch)`` guard would silently drop every batch of
    the new lineage (r4 advice). And keyed per-lineage as a SET, not a
    single last-writer stamp: if two lineages interleave writes to the same
    table (stream A, then B, then A replays an old epoch), a single stored
    qid would classify A's replay as a fresh lineage and double-count it
    (r5 advice). The full map rides in the table as a ``_wm`` JSON-literal
    column so data and high-water marks publish in ONE atomic overwrite
    commit — one string per row, map size = number of lineages ever seen.
    Tables written before ``_wm`` existed fall back to their single
    ``(_qid, _epoch)`` stamp."""
    cols = existing.columns
    if "_wm" in cols:
        row = existing.select("_wm").first()
        if row is None or row["_wm"] is None:
            return {}
        return {q: int(e) for q, e in json.loads(row["_wm"]).items()}
    if "_epoch" in cols:
        qcol = (
            F.max("_qid")
            if "_qid" in cols
            else F.lit(None).cast("string")
        )
        row = existing.agg(F.max("_epoch").alias("e"), qcol.alias("q")).first()
        if row is None or row["e"] is None:
            return {}
        return {(row["q"] or "batch"): int(row["e"])}
    return {}


def _stamp_watermarks(df: DataFrame, wms: dict[str, int]) -> DataFrame:
    """Attach the lineage→epoch map as the ``_wm`` bookkeeping column."""
    return df.withColumn("_wm", F.lit(json.dumps(wms, sort_keys=True)))


def _standing_or_skip(
    wh: Warehouse, namespace: str, table: str, batch: DataFrame, epoch: int
) -> tuple[DataFrame | None, dict[str, int]] | None:
    """Read half of the sinks' replay guard. foreachBatch is
    at-least-once: a failure retry, a restart from checkpoint mid-epoch,
    or a replay by an OLDER lineage after other streams have written can
    re-deliver a batch. The per-lineage epoch marks ride IN the standing
    table (see _load_watermarks), so a re-delivered batch sees its own
    lineage's mark: None, and the caller skips it instead of folding it
    in twice. A genuinely new lineage (fresh checkpoint, epochs reset to
    0) has no mark. Otherwise ``(standing, marks)``: the standing table
    without BOOKKEEPING_COLS (None before its first publish) and its
    lineage→epoch marks, already advanced to ``epoch`` for
    ``_publish_with_marks``."""
    qid = _query_lineage_id(batch.sparkSession)
    if not wh.exists(namespace, table):
        return None, {qid: epoch}
    existing = wh.read(namespace, table)
    marks = _load_watermarks(existing)
    if marks.get(qid, -1) >= epoch:
        return None
    marks[qid] = epoch
    return existing.drop(*BOOKKEEPING_COLS), marks


def _publish_with_marks(
    wh: Warehouse, df: DataFrame, namespace: str, table: str, marks: dict[str, int]
) -> None:
    """Publish half of the replay guard: the folded data and the advanced
    marks land in ONE overwrite, so a crash leaves both or neither."""
    wh.overwrite(_stamp_watermarks(df, marks), namespace, table)


def stream_files(
    spark: SparkSession, path: str, schema: T.StructType, fmt: str = "parquet"
) -> DataFrame:
    """File-drop ingestion as a stream: new files in `path` are discovered
    per micro-batch and processed exactly once (checkpoint-tracked) — the
    streaming upgrade of the reference's stamped-file glob reads (S1)."""
    return spark.readStream.format(fmt).schema(schema).load(path)


def windowed_counts(
    events: DataFrame,
    event_time: str = "ts",
    delay: str = "10 minutes",
    window: str = "5 minutes",
    slide: str | None = None,
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling (or sliding) windowed aggregation with late-data watermark.
    State store size is bounded by the watermark delay — the knob that
    keeps this viable on unbounded streams."""
    win = (
        F.window(event_time, window, slide) if slide else F.window(event_time, window)
    )
    return (
        events.withWatermark(event_time, delay)
        .groupBy(win.alias("win"), *group_cols)
        .agg(F.count("*").alias("n"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *group_cols,
            "n",
            "total_value",
        )
    )


def session_windows(
    events: DataFrame,
    event_time: str = "ts",
    delay: str = "10 minutes",
    gap: str = "30 minutes",
    key: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per key — sessionization as a built-in
    stateful op (F.session_window), no custom state management."""
    return (
        events.withWatermark(event_time, delay)
        .groupBy(F.session_window(event_time, gap).alias("win"), key)
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            key,
            "n_events",
            "total_value",
        )
    )


def dedup_within_watermark(
    events: DataFrame, keys: list[str], event_time: str = "ts", delay: str = "10 minutes"
) -> DataFrame:
    """Streaming replay-dedup: first event per key wins within the
    watermark horizon (state auto-expires past it) — the streaming W1."""
    return events.withWatermark(event_time, delay).dropDuplicates(keys + [event_time])


def scd2_stream_sink(
    wh: Warehouse,
    table: str,
    key: str,
    compare_cols: list[str],
    recency_cols: list[str],
    clock: Clock | None = None,
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink applying the batch SCD2 merge per micro-batch —
    the reference's M1 upgraded to streaming. Each batch is compacted to
    latest-per-key first (MERGE precondition), then merged; Delta in
    production, a versioned parquet overwrite here."""
    clock = clock or SystemClock()

    def sink(batch: DataFrame, _epoch: int) -> None:
        staged = latest_by_recency(batch, [key], recency_cols)
        now = clock.now()
        if wh.exists("silver", table):
            new_state = scd2_merge(wh.read("silver", table), staged, key, compare_cols, now)
        else:
            new_state = scd2_init(staged, now)
        wh.overwrite(new_state, "silver", table)

    return sink


def stateful_running_totals(
    events: DataFrame, key: str = "user_id", event_time: str = "ts"
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key running
    event count / value total, updated each micro-batch (update output
    mode). This is the escape hatch for stateful logic that built-in
    windows/dedup can't express (reference has none — §2.9 — so this is
    pure extension surface). State is one (count, sum) pair per key: O(keys)
    store, partitioned by the grouping key, no skew beyond key skew."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("total", T.DoubleType())]
    )

    def fn(k: tuple, pdfs, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame({key: [k[0]], "n_events": [n], "total_value": [total]})

    return events.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def enrich_stream_with_dim(
    stream: DataFrame, dim: DataFrame, stream_key: str, dim_key: str
) -> DataFrame:
    """Stream-static join: enrich the event stream with a bounded dimension
    snapshot (broadcast — the static side is re-read per micro-batch, so a
    Delta dim picks up updates between batches). The streaming analogue of
    the gold fact→dim joins (J1)."""
    cond = F.col(stream_key) == F.col(dim_key)
    return stream.join(F.broadcast(dim), cond, "left").drop(dim_key)


def rollup_stream_sink(
    wh: Warehouse,
    table: str,
    keys: list[str],
    sum_cols: list[str] | None = None,
    minmax_cols: list[str] | None = None,
    distinct_cols: list[str] | None = None,
    namespace: str = "gold",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining a materialized rollup incrementally —
    operators/rollup.py running continuously: each micro-batch is
    aggregated to mergeable partial-aggregate form (counts, DECIMAL-exact
    sums, min/max, HLL sketch state) and folded into the standing rollup
    table. Per batch this costs O(batch + |rollup|) and never rescans
    history — the streaming upgrade of the reference's truncate+rebuild
    gold refresh, and the production home of the rollup operator. Consumers
    read through rollup.read_rollup for averages / distinct estimates.

    Replay-safe under foreachBatch's at-least-once contract through the
    sinks' replay guard (_standing_or_skip / _publish_with_marks): data and
    per-lineage epoch marks publish in one atomic overwrite.
    """
    from ..operators.rollup import merge_rollups, rollup_batch

    def sink(batch: DataFrame, epoch: int) -> None:
        guard = _standing_or_skip(wh, namespace, table, batch, epoch)
        if guard is None:
            return  # at-least-once replay: already folded in
        standing, marks = guard
        delta = rollup_batch(
            batch,
            keys=keys,
            sum_cols=sum_cols or [],
            minmax_cols=minmax_cols or [],
            distinct_cols=distinct_cols or [],
        )
        merged = (
            delta if standing is None else merge_rollups(standing, delta, keys=keys)
        )
        _publish_with_marks(wh, merged, namespace, table, marks)

    return sink


def cms_stream_sink(
    wh: Warehouse,
    table: str,
    key_col: str,
    namespace: str = "gold",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining a count-min sketch of `key_col`
    frequencies (functions/sketches.py: D md5-salted rows x W buckets).
    Each micro-batch is reduced to its own <= D*W counter rows map-side,
    then merged into the standing sketch by elementwise ADDITION — the
    sketch's defining property, so the continuously-maintained sketch is
    bit-identical to a one-shot batch build over the same events. Heavy-
    hitter queries probe it without touching history (cms_heavy_hitters'
    probe side). Replay-safe through the sinks' replay guard, like
    rollup_stream_sink."""
    from ..functions import sketches as S

    def sink(batch: DataFrame, epoch: int) -> None:
        guard = _standing_or_skip(wh, namespace, table, batch, epoch)
        if guard is None:
            return  # at-least-once replay: already folded in
        standing, marks = guard
        delta = (
            batch.select(
                F.explode(S.cms_entries(F.col(key_col).cast("string"))).alias("e")
            )
            .select(F.col("e.j").alias("j"), F.col("e.b").alias("b"))
            .groupBy("j", "b")
            .agg(F.count("*").alias("c"))
        )
        merged = (
            delta
            if standing is None
            else standing.unionByName(delta).groupBy("j", "b").agg(F.sum("c").alias("c"))
        )
        _publish_with_marks(wh, merged, namespace, table, marks)

    return sink


def topk_stream_sink(
    wh: Warehouse,
    table: str,
    key_col: str,
    k: int = 50,
    namespace: str = "gold",
) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink maintaining a Misra-Gries top-k summary of
    `key_col` frequencies — the deterministic heavy-hitters companion to
    the CMS sink (CMS answers point queries per known key; MG carries the
    candidate key SET, which is what a "top 50 domains/users right now"
    dashboard actually needs).

    Mergeable-summaries form (Agarwal et al., PODS'12): each micro-batch
    reduces to its exact per-key histogram map-side (one batch-bounded
    shuffle), is summed into the standing ≤k-row summary, and if more than
    k keys remain the (k+1)-th largest count is subtracted from every key
    and non-positive rows drop. Invariants maintained in the table:

    - at most k rows ever stored (state is O(k), corpus-independent);
    - ``_off`` (a scalar bookkeeping column, like ``_wm``) accumulates the
      subtracted thresholds, so for every retained key
      ``mg_count <= true_count <= mg_count + _off`` and every key with
      ``true_count > _off`` is guaranteed present — the MG deficiency
      bound, asserted by the batch-parity test.

    Replay-safe through the sinks' replay guard. Because ``_wm`` and
    ``_off`` are literal columns on ROWS, a legitimately EMPTY summary —
    all top k+1 counts tie, so the MG subtraction zeroes every counter —
    would otherwise publish zero rows and silently drop every lineage's
    replay watermark and the accumulated offset (the next at-least-once
    redelivery then double-counts, r6 advice). The table therefore always
    carries one sentinel bookkeeping row (``key IS NULL``); readers take
    the data rows with ``WHERE key IS NOT NULL``."""

    def sink(batch: DataFrame, epoch: int) -> None:
        guard = _standing_or_skip(wh, namespace, table, batch, epoch)
        if guard is None:
            return  # at-least-once replay: already folded in
        standing, marks = guard
        delta = (
            batch.select(F.col(key_col).cast("string").alias("key"))
            .groupBy("key")
            .agg(F.count("*").alias("c"))
        )
        off = 0
        if standing is None:
            combined = delta
        else:
            row = standing.select("_off").first()
            off = int(row["_off"]) if row is not None else 0
            combined = (
                standing.where(F.col("key").isNotNull())
                .drop("_off")
                .unionByName(delta)
                .groupBy("key")
                .agg(F.sum("c").alias("c"))
            )
        # (k+1)-th largest count = the subtraction threshold. The collect
        # is bounded at k+1 rows by construction — never corpus-sized.
        top = combined.orderBy(F.col("c").desc(), "key").limit(k + 1).collect()
        thresh = int(top[k]["c"]) if len(top) > k else 0
        if thresh:
            summary = combined.select(
                "key", (F.col("c") - thresh).alias("c")
            ).where(F.col("c") > 0)
            off += thresh
        else:
            summary = combined
        # bookkeeping sentinel: _wm/_off survive even a zero-data-row MG state
        sentinel = batch.sparkSession.createDataFrame(
            [(None, None)], schema="key string, c bigint"
        )
        _publish_with_marks(
            wh,
            summary.unionByName(sentinel).withColumn("_off", F.lit(off)),
            namespace,
            table,
            marks,
        )

    return sink


def interval_join_events(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    event_time: str = "ts",
    horizon: str = "30 minutes",
    delay: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval join: each left event pairs with the right
    events of the same key whose timestamp falls in [left_ts, left_ts +
    horizon] — click→purchase attribution windows. On two streaming frames
    Spark requires exactly this shape (watermarks on BOTH sides + a closed
    time-range condition) and sizes the join state store to delay+horizon
    per side; on batch frames the identical plan is a plain equi-join with
    a band predicate. Columns: user key, l_id/l_ts (left), r_id/r_ts/
    r_value (right).

    State bound at 100 TB/day rates: each side retains only rows younger
    than (watermark delay + horizon); hot keys shard across the join's
    hash partitions by key."""
    l = clicks.select(
        F.col(key).alias("_k"),
        F.col("event_id").alias("l_id"),
        F.col(event_time).alias("l_ts"),
    )
    r = purchases.select(
        F.col(key).alias("_rk"),
        F.col("event_id").alias("r_id"),
        F.col(event_time).alias("r_ts"),
        F.col("value").alias("r_value"),
    )
    if clicks.isStreaming:
        l = l.withWatermark("l_ts", delay)
    if purchases.isStreaming:
        r = r.withWatermark("r_ts", delay)
    # how="left_outer": clicks with no purchase in their horizon emit with
    # null right columns — on streams, only after the watermark passes the
    # click's horizon (state can then prove no match will arrive). The
    # watermark-delayed emission is the defining outer-join semantics on
    # unbounded input; tests drive it by advancing the watermark with a
    # later batch.
    return l.join(
        r,
        (F.col("_k") == F.col("_rk"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {horizon}")),
        how,
    ).select(F.col("_k").alias(key), "l_id", "l_ts", "r_id", "r_ts", "r_value")


def dedup_stream_sink(
    wh: Warehouse,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    namespace: str = "silver",
    sig_table: str = "dedup_signatures",
    state_table: str = "dedup_components",
    sig_buckets: int | None = None,
) -> Callable[[DataFrame, int], None]:
    """CONTINUOUS near-dup dedup — the incremental_components_merge query
    running as a foreachBatch sink. Two standing tables:

    - ``sig_table`` (_id, sh, mh): the corpus signature store. Shingles
      and minhash are computed ONCE per document, on the batch that
      delivers it, and only the BATCH's signatures are appended per epoch
      — the store is never rewritten, so the write cost per micro-batch
      is O(batch), not O(corpus). With ``sig_buckets=N`` the store is
      hive-partitioned on ``bucket = xxhash64(_id) % N`` and small-file
      control switches to PARTITION-LOCAL compaction
      (Warehouse.compact_partition — the OPTIMIZE-WHERE form):
      only fragmented buckets rewrite, O(bucket) each, which is the
      layout a 100 TB continuously-appending store needs (the unbucketed
      whole-table compact rewrites the corpus per cycle).
    - ``state_table`` (node, label, _wm): the component forest.

    Mining is operators.neardup.pairs_from_signatures — the SAME
    implementation the batch queries use (batch-bands x corpus-bands,
    never corpus²; Jaccard-verified on stored shingles), so the streaming
    and batch paths cannot diverge. The component merge is one CC pass
    over (state label edges ∪ new pairs); label edges are depth-1, so
    propagation converges in rounds bounded by the NEW pairs' diameter.

    Crash/replay contract (foreachBatch is at-least-once): signatures
    publish BEFORE state — a crash between the two replays the epoch,
    where the anti-join skips already-stored signatures and the state
    merge re-runs idempotently; a replayed epoch whose state already
    published is skipped up front. All intermediate persists are released
    before returning (block-manager hygiene on a per-micro-batch hot
    path)."""
    from ..operators.dedup import connected_components
    from ..operators.neardup import (
        pairs_from_signatures,
        release_checkpoints,
        sign_corpus,
    )

    # every epoch publishes a state version and a signature-append
    # version: bound both tables' history inline or a continuous stream
    # accretes one corpus-sized copy per epoch
    for t in (sig_table, state_table):
        wh.default_retention(namespace, t, 2)

    def sink(batch: DataFrame, epoch: int) -> None:
        guard = _standing_or_skip(wh, namespace, state_table, batch, epoch)
        if guard is None:
            return  # at-least-once replay: already folded in
        old_state, marks = guard
        spark = batch.sparkSession

        sig_new = sign_corpus(
            batch.select(id_col, text_col).dropDuplicates([id_col]),
            id_col,
            text_col,
        ).persist()
        if wh.exists(namespace, sig_table):
            stored = wh.read(namespace, sig_table)
            if sig_buckets:
                stored = stored.drop("bucket")
            # anti-join: a crash after the signature publish but before the
            # state publish replays this epoch with the batch already
            # stored — appending again would duplicate signature rows
            sig_to_add = sig_new.join(stored.select("_id"), "_id", "left_anti")
            corpus_sig = stored.unionByName(sig_to_add)
        else:
            sig_to_add = sig_new
            corpus_sig = sig_new
        corpus_sig = corpus_sig.persist()

        # bucket_cap: the standing corpus side grows without bound, so a
        # hot band bucket (boilerplate/template text) would otherwise pay
        # O(bucket x batch) candidates EVERY epoch forever; over-cap
        # buckets degrade to star candidates against the bucket hub
        # (connectivity-preserving for true duplicate clusters — see
        # pairs_from_signatures). The cap never binds at test corpora
        # sizes, so batch-parity with the exact form holds there.
        new_pairs = pairs_from_signatures(
            corpus_sig,
            threshold,
            batch_ids=sig_new.select("_id"),
            bucket_cap=SIG_HOT_BUCKET_CAP,
        ).select("id_a", "id_b")
        edges = (
            old_state.select(F.col("node").alias("id_a"), F.col("label").alias("id_b"))
            .unionByName(new_pairs)
            if old_state is not None
            else new_pairs
        )
        new_state = connected_components(edges, "id_a", "id_b").transform(_pin)

        # publish order matters: signatures first (replay-safe via the
        # anti-join), THEN the state carrying the epoch high-water mark —
        # the reverse order could skip a replay whose signatures were lost
        if sig_buckets:
            sig_out = sig_to_add.withColumn(
                "bucket",
                F.pmod(F.xxhash64(F.col("_id")), F.lit(sig_buckets)).cast("int"),
            ).coalesce(SIG_APPEND_FILES)
            if wh.exists(namespace, sig_table):
                wh.append(sig_out, namespace, sig_table, partition_by=["bucket"])
            else:
                wh.overwrite(sig_out, namespace, sig_table, partition_by=["bucket"])
        elif wh.exists(namespace, sig_table):
            wh.append(sig_to_add.coalesce(SIG_APPEND_FILES), namespace, sig_table)
        else:
            wh.overwrite(sig_to_add, namespace, sig_table)
        # Small-file control: every append adds one file set, so after N
        # epochs the store is N-way fragmented and each batch's anti-join
        # and band mine pay N file opens. Partitioned store: rewrite only
        # the fragmented BUCKETS (OPTIMIZE-WHERE; O(bucket) each,
        # non-target files hard-linked). Otherwise: whole-table compact
        # past the global threshold — amortized O(corpus /
        # SIG_COMPACT_FILES) per epoch.
        try:
            ddir = wh.data_dir(namespace, sig_table)
        except (FileNotFoundError, OSError):
            ddir = None
        if ddir is not None and sig_buckets:
            # re-resolve the data dir per bucket: each compact_partition
            # publishes a new version and autovacuum may delete the dir
            # this loop started from (stale paths then read as empty and
            # the remaining buckets silently skip)
            for bname in sorted(p.name for p in ddir.glob("bucket=*")):
                try:
                    bdir = wh.data_dir(namespace, sig_table) / bname
                    frag = len(list(bdir.glob("*.parquet")))
                except (FileNotFoundError, OSError):
                    continue
                try:
                    bucket_no = int(bname.split("=", 1)[1])
                except ValueError:
                    bucket_no = 0
                # staggered threshold: see SIG_COMPACT_STAGGER — keeps the
                # buckets' compaction cycles out of phase so an epoch never
                # rewrites the whole store at once
                if frag > _bucket_compact_threshold(bucket_no):
                    wh.compact_partition(namespace, sig_table, bname)
        elif ddir is not None:
            n_files = len(list(ddir.glob("*.parquet")))
            if n_files > SIG_COMPACT_FILES:
                # Target capped BELOW the refire threshold (r6 advice): on a
                # cluster whose defaultParallelism exceeds SIG_COMPACT_FILES
                # an uncapped target would leave the store permanently above
                # the threshold and refire the O(corpus) rewrite every epoch.
                wh.compact(
                    namespace,
                    sig_table,
                    min(
                        spark.sparkContext.defaultParallelism,
                        SIG_COMPACT_FILES // 2,
                    ),
                    cluster_by=["_id"],
                )
        _publish_with_marks(wh, new_state, namespace, state_table, marks)
        corpus_sig.unpersist()
        sig_new.unpersist()
        # the state frame is a localCheckpoint: plain unpersist is a no-op
        # for its blocks — release the backing LogicalRDD explicitly or a
        # continuous stream accretes one state copy per micro-batch
        release_checkpoints(new_state)

    return sink