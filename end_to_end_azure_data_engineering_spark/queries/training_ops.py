"""Training-data pipeline composition ops — the corpus-preparation steps a
large-scale pretraining pipeline runs AFTER per-doc analysis: packing
documents into fixed-token-budget training sequences, a staged quality
filter funnel, incremental-batch dedup against an existing corpus, and
embedding sanity stats.

All pure Catalyst expressions; oracles generated from the same constants
as the Spark code (functions/text.py, functions/sketches.py,
functions/similarity.py) so the two sides cannot drift. Every output
column is integer or a per-row-deterministic scalar (min/max selection
over identical floats) — hash-stable by construction across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import sketches as S
from ..functions import similarity as V
from ..functions import text as X
from . import load, register, spread

#: documents per packing shard. Sequences never cross a shard boundary, so
#: every (source, shard) group is a BOUNDED window partition — the window
#: cumsum stays parallel at any corpus size (an unsharded per-source cumsum
#: would funnel each source through one task at 100 TB).
PACK_SHARD = 256
#: token budget per packed training sequence (concat-and-chunk semantics:
#: a sequence is the docs whose cumulative start offset falls in one
#: budget-sized chunk of the shard's token stream).
PACK_BUDGET = 128


@register(
    "sequence_pack",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, doc_id // {PACK_SHARD} AS shard,
             {X.TOKEN_COUNT_SQL('text')} AS tok
      FROM documents
    ),
    offs AS (
      SELECT source, shard, tok,
             CAST(sum(tok) OVER (PARTITION BY source, shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - tok AS BIGINT)
                 AS start_off
      FROM toks
    )
    SELECT source, shard, start_off // {PACK_BUDGET} AS seq_id,
           count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS seq_tokens
    FROM offs
    GROUP BY source, shard, seq_id
    """,
)
def sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining layout):
    within each (source, shard) the token streams of doc_id-ordered docs are
    concatenated and cut into PACK_BUDGET-token sequences; a doc belongs to
    the sequence its first token lands in. Deterministic integer math — no
    RNG, stable under re-partitioning — and the shard key bounds every
    window partition, so the cumsum never serializes a whole source through
    one task. Output: per-sequence doc count and token mass (fill/overflow
    diagnostics)."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        "source",
        F.expr(f"doc_id div {PACK_SHARD}").alias("shard"),
        X.token_count("text").alias("tok"),
    )
    w = (
        W.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    offs = toks.withColumn("start_off", F.sum("tok").over(w) - F.col("tok"))
    return (
        offs.withColumn("seq_id", F.expr(f"start_off div {PACK_BUDGET}"))
        .groupBy("source", "shard", "seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum("tok").alias("seq_tokens"))
    )


# funnel thresholds — shared between Spark expressions and the oracle SQL
MIN_TOKENS = 10
MAX_PUNCT_RATIO = 0.30
MIN_STOPWORD_RATIO = 0.03


@register(
    "quality_filter_funnel",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             {X.TOKEN_COUNT_SQL('text')} >= {MIN_TOKENS} AS ok_len,
             {X.PUNCT_RATIO_SQL('text')} <= {MAX_PUNCT_RATIO} AS ok_punct,
             {X.STOPWORD_RATIO_SQL('text')} >= {MIN_STOPWORD_RATIO} AS ok_stop,
             {X.LANG_ID_SQL('text')} = lang AS ok_lang
      FROM documents
    )
    SELECT source,
           count(*) AS n_total,
           CAST(sum(CASE WHEN ok_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
           CAST(sum(CASE WHEN ok_len AND ok_punct THEN 1 ELSE 0 END) AS BIGINT)
               AS n_punct,
           CAST(sum(CASE WHEN ok_len AND ok_punct AND ok_stop
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
           CAST(sum(CASE WHEN ok_len AND ok_punct AND ok_stop AND ok_lang
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_survive
    FROM scored
    GROUP BY source
    """,
)
def quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Staged quality-filter survival funnel: per source, how many docs
    survive each cumulative stage (length → punctuation → stopword density
    → lang-id agreement with the tagged lang). One narrow map + one small
    agg keyed on source — the per-stage counts a pipeline operator watches
    to see WHICH filter is eating the corpus. Ratios are used only inside
    comparisons; every output is a count."""
    d = spread(load(spark, sf_dir, "documents"))
    ok_len = X.token_count("text") >= MIN_TOKENS
    ok_punct = X.punct_ratio("text") <= MAX_PUNCT_RATIO
    ok_stop = X.stopword_ratio("text") >= MIN_STOPWORD_RATIO
    ok_lang = X.lang_id("text") == F.col("lang")

    def cnt(cond) -> F.Column:
        return F.sum(F.when(cond, 1).otherwise(0))

    s1 = ok_len
    s2 = s1 & ok_punct
    s3 = s2 & ok_stop
    s4 = s3 & ok_lang
    return (
        d.select("source", s1.alias("s1"), s2.alias("s2"), s3.alias("s3"), s4.alias("s4"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            cnt(F.col("s1")).alias("n_len"),
            cnt(F.col("s2")).alias("n_punct"),
            cnt(F.col("s3")).alias("n_stop"),
            cnt(F.col("s4")).alias("n_survive"),
        )
    )


#: every 4th doc_id plays the "newly ingested batch"; the rest are the
#: standing corpus the batch is deduped against.
BATCH_MOD = 4


@register(
    "corpus_incremental_dedup",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, source, {X.FINGERPRINT_SQL('text')} AS fp
      FROM documents
    ),
    batch AS (
      SELECT doc_id, source, fp,
             row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM fp WHERE doc_id % {BATCH_MOD} = 0
    ),
    corpus AS (
      SELECT DISTINCT fp FROM fp WHERE doc_id % {BATCH_MOD} <> 0
    ),
    flagged AS (
      SELECT b.source,
             CASE WHEN b.rn > 1 THEN 'self_dup'
                  WHEN c.fp IS NOT NULL THEN 'corpus_dup'
                  ELSE 'new' END AS status
      FROM batch b LEFT JOIN corpus c USING (fp)
    )
    SELECT source,
           count(*) AS n_batch,
           CAST(sum(CASE WHEN status = 'self_dup' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_self_dup,
           CAST(sum(CASE WHEN status = 'corpus_dup' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_corpus_dup,
           CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new
    FROM flagged
    GROUP BY source
    """,
)
def corpus_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest exact dedup: a new batch is deduped (a) within
    itself — first doc_id per content fingerprint wins — and (b) against
    the standing corpus's fingerprint set, and classified new / self-dup /
    corpus-dup per source. The corpus side is reduced to DISTINCT
    fingerprints before the join, so the shuffle carries 16-byte keys, not
    documents, and the join keys on the fingerprint — uniform by
    construction, no skew. This is the nightly-crawl-vs-lake dedup shape;
    at 100 TB the corpus fingerprint set is a bucketed table and this join
    is shuffle-free."""
    d = spread(load(spark, sf_dir, "documents"))
    fp = d.select("doc_id", "source", X.fingerprint("text").alias("fp"))
    is_batch = F.col("doc_id") % BATCH_MOD == 0
    batch = fp.filter(is_batch).withColumn(
        "rn",
        F.row_number().over(W.partitionBy("fp").orderBy("doc_id")),
    )
    corpus = fp.filter(~is_batch).select("fp").distinct()
    flagged = batch.join(
        corpus.withColumn("_in_corpus", F.lit(True)), "fp", "left"
    ).select(
        "source",
        F.when(F.col("rn") > 1, "self_dup")
        .when(F.col("_in_corpus"), "corpus_dup")
        .otherwise("new")
        .alias("status"),
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_batch"),
        F.sum(F.when(F.col("status") == "self_dup", 1).otherwise(0)).alias("n_self_dup"),
        F.sum(F.when(F.col("status") == "corpus_dup", 1).otherwise(0)).alias(
            "n_corpus_dup"
        ),
        F.sum(F.when(F.col("status") == "new", 1).otherwise(0)).alias("n_new"),
    )


@register(
    "embedding_norm_stats",
    oracle=f"""
    SELECT label,
           count(*) AS n_vecs,
           round(min(sqrt({V.DOT_SQL('embedding', 'embedding')})), 6)
               AS min_norm,
           round(max(sqrt({V.DOT_SQL('embedding', 'embedding')})), 6)
               AS max_norm,
           CAST(sum(CASE WHEN sqrt({V.DOT_SQL('embedding', 'embedding')}) < 1e-6
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_degenerate
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding sanity screen: per label, L2-norm extremes and the count of
    degenerate (near-zero) vectors — the cheap check that catches a broken
    embedding job before ANN indexing spends a cluster on it. The unrolled
    fixed-dim dot (see functions/similarity.py) keeps the norm inside
    whole-stage codegen; min/max are selection (order-independent), so the
    floats hash identically cross-engine."""
    e = spread(load(spark, sf_dir, "embeddings"))
    nrm = F.sqrt(V.dot("embedding", "embedding", V.EMB_DIM))
    return (
        e.select("label", nrm.alias("_n"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.min("_n"), 6).alias("min_norm"),
            F.round(F.max("_n"), 6).alias("max_norm"),
            F.sum(F.when(F.col("_n") < 1e-6, 1).otherwise(0)).alias("n_degenerate"),
        )
    )


#: token budget the mixture plan samples down to (≈ a third of the corpus at
#: any SF, so some sources are subsampled and some are fully taken).
MIX_BUDGET_TOKENS = 5_000
#: deterministic per-source mixture weight: (numeric suffix of the source
#: name) % 4 + 1 — a stand-in for the hand-tuned domain weights a real
#: pretraining mix uses, computable identically in both engines.
_MIX_W_SPARK = "(CAST(substring(source, 4) AS BIGINT) % 4) + 1"
_MIX_W_DUCK = "(CAST(substring(source, 4) AS BIGINT) % 4) + 1"
_MIX_H = S.HASH32_SQL("'mix:' || CAST(doc_id AS VARCHAR)")


@register(
    "corpus_mixture_plan",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {X.TOKEN_COUNT_SQL('text')} AS tok,
             {_MIX_H} % 100 AS h
      FROM documents
    ),
    totals AS (
      SELECT source, {_MIX_W_DUCK} AS w,
             count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS total_tokens
      FROM toks GROUP BY source
    ),
    rates AS (
      SELECT source, n_docs, total_tokens,
             CAST(({MIX_BUDGET_TOKENS} * w) // (SELECT CAST(sum(w) AS BIGINT) FROM totals)
                  AS BIGINT) AS target_tokens,
             least(100, CAST((100 * (({MIX_BUDGET_TOKENS} * w)
                                     // (SELECT CAST(sum(w) AS BIGINT) FROM totals)))
                             // total_tokens AS BIGINT)) AS rate_pct
      FROM totals
    )
    SELECT r.source, r.n_docs, r.total_tokens, r.target_tokens, r.rate_pct,
           CAST(sum(CASE WHEN t.h < r.rate_pct THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled_docs,
           CAST(sum(CASE WHEN t.h < r.rate_pct THEN t.tok ELSE 0 END) AS BIGINT)
               AS sampled_tokens
    FROM toks t JOIN rates r USING (source)
    GROUP BY r.source, r.n_docs, r.total_tokens, r.target_tokens, r.rate_pct
    """,
)
def corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture balancing — the data-mixing step of a pretraining
    pipeline: given per-source mixture weights and a global token budget,
    compute each source's token target, clamp to availability, and
    deterministically hash-subsample docs to hit it (no RNG: a doc's
    in/out decision is a salted md5 of its id, reproducible across re-runs
    and engines — the only sampling discipline that works on a 1000-executor
    job). Two passes over the corpus: a per-source token census (small agg),
    then the rates — a ~#sources-row frame — broadcast back onto the docs
    for the sampling pass. Floor integer division throughout (Spark `div`,
    DuckDB `//`) — true division + cast would round differently per engine —
    so the plan is hash-stable cross-engine."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select(
        "source",
        X.token_count("text").alias("tok"),
        (
            S.hash32(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))) % 100
        ).alias("h"),
    )
    totals = toks.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("tok").alias("total_tokens")
    ).withColumn("w", F.expr(_MIX_W_SPARK))
    # sum of weights as a 1-row broadcast aggregate (the scalar-aggregate
    # pattern, replacing a single-partition window over the per-source
    # frame — same result, no global-window warning in the bench tail)
    rates = (
        totals.crossJoin(F.broadcast(totals.agg(F.sum("w").alias("sum_w"))))
        .withColumn(
            "target_tokens", F.expr(f"div({MIX_BUDGET_TOKENS} * w, sum_w)")
        )
        .withColumn(
            "rate_pct",
            F.least(
                F.lit(100),
                F.expr(
                    f"div(100 * div({MIX_BUDGET_TOKENS} * w, sum_w), total_tokens)"
                ),
            ),
        )
        .select("source", "n_docs", "total_tokens", "target_tokens", "rate_pct")
    )
    return (
        toks.join(F.broadcast(rates), "source")
        .groupBy("source", "n_docs", "total_tokens", "target_tokens", "rate_pct")
        .agg(
            F.sum(F.when(F.col("h") < F.col("rate_pct"), 1).otherwise(0)).alias(
                "n_sampled_docs"
            ),
            F.sum(F.when(F.col("h") < F.col("rate_pct"), F.col("tok")).otherwise(0)).alias(
                "sampled_tokens"
            ),
        )
    )


#: tokens of leading context hashed for the overlap fingerprint — full-text
#: fingerprints only catch byte-identical re-crawls; truncated/continued
#: crawls of the same page share a PREFIX, which is what feeds actually have
#: in common.
OVERLAP_PREFIX = 8


@register(
    "cross_source_overlap",
    oracle=f"""
    WITH fps AS (
      SELECT DISTINCT source,
             md5(array_to_string(list_slice({X.TOKENS_SQL('text')}, 1,
                                            {OVERLAP_PREFIX}), ' ')) AS fp
      FROM documents
    )
    SELECT a.source AS source_a, b.source AS source_b,
           count(*) AS n_shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every source pair, how many
    distinct content fingerprints they share — the diagnostic that tells a
    curation team WHICH feeds re-crawl each other before any dedup policy
    is chosen. The fingerprint is the md5 of the first OVERLAP_PREFIX
    tokens: byte-identical re-crawls AND truncation/continuation variants
    of the same page collide, which is the overlap a crawler actually
    produces. DISTINCT (source, fp) first, so the self-join carries one
    16-byte row per unique doc per source, never the corpus; the equi-join
    shuffles on fp (uniform by construction) and `source_a < source_b`
    keeps each unordered pair once. At 100 TB the fps frame is the already-
    materialized dedup fingerprint table and this is a cheap follow-on."""
    d = spread(load(spark, sf_dir, "documents"))
    pfx = F.md5(F.array_join(F.slice(X.tokens("text"), 1, OVERLAP_PREFIX), " "))
    fps = d.select("source", pfx.alias("fp")).distinct()
    a = fps.select(F.col("source").alias("source_a"), "fp")
    b = fps.select(F.col("source").alias("source_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared_fps"))
    )


#: fixed histogram edges for the pre-packing sequence-length audit; CASE
#: thresholds (not log2/width_bucket) so bucketing is integer-exact in both
#: engines.
_LEN_EDGES = (8, 16, 32, 64)


def _len_bucket_case(tok_expr: str) -> str:
    whens = " ".join(
        f"WHEN {tok_expr} < {e} THEN '<{e}'" for e in _LEN_EDGES
    )
    return f"CASE {whens} ELSE '>={_LEN_EDGES[-1]}' END"


@register(
    "token_length_histogram",
    oracle=f"""
    WITH toks AS (
      SELECT source, {X.TOKEN_COUNT_SQL('text')} AS tok FROM documents
    )
    SELECT source, {_len_bucket_case('tok')} AS len_bucket,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS bucket_tokens
    FROM toks GROUP BY source, len_bucket
    """,
)
def token_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sequence-length histogram — the distribution check run
    before choosing a packing budget (a source full of sub-8-token
    fragments packs badly; one full of >=64-token docs wants a bigger
    budget). Narrow map + one small agg on (source, bucket); fixed CASE
    edges keep the bucketing integer-exact cross-engine."""
    d = spread(load(spark, sf_dir, "documents"))
    tok = X.token_count("text")
    bucket = F.lit(None).cast("string")
    expr = None
    for e in _LEN_EDGES:
        expr = F.when(tok < e, f"<{e}") if expr is None else expr.when(tok < e, f"<{e}")
    bucket = expr.otherwise(f">={_LEN_EDGES[-1]}")
    return (
        d.select("source", tok.alias("tok"), bucket.alias("len_bucket"))
        .groupBy("source", "len_bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("tok").alias("bucket_tokens"))
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixture — the sampling-weight plan for a
# multi-source pretraining corpus: small sources are upweighted relative to
# their token share by sampling ∝ tokens^α (α = 0.5 here; the exact-math
# choice — sqrt is correctly rounded IEEE in every engine, so
# floor(sqrt(n)) is bit-stable cross-engine, unlike pow(n, 0.7) whose libm
# rounding may differ). All downstream numbers are single divisions or pure
# integer ops over exact BIGINTs — hash-stable by construction.
# ---------------------------------------------------------------------------

EPOCH_TOKEN_BUDGET = 1_000_000


@register(
    "temperature_mixture_weights",
    oracle=f"""
    WITH src AS (
      SELECT source,
             count(*) AS n_docs,
             CAST(sum({X.TOKEN_COUNT_SQL('text')}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_tokens,
             CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w_raw
      FROM src
    )
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs, n_tokens, w_raw,
           round(w_raw / CAST(t.total_w AS DOUBLE), 6) AS sample_weight,
           ({EPOCH_TOKEN_BUDGET} * w_raw) // t.total_w AS epoch_tokens
    FROM w CROSS JOIN (SELECT CAST(sum(w_raw) AS BIGINT) AS total_w FROM w) t
    """,
)
def temperature_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source sampling weights ∝ sqrt(token mass), normalized, plus the
    integer token allocation for a fixed epoch budget. One corpus agg
    (combiner-heavy, keyed on source), then a broadcast 1-row total — the
    scalar-aggregate pattern, no global window."""
    d = spread(load(spark, sf_dir, "documents"))
    src = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(X.token_count("text")).alias("n_tokens"),
    )
    w = src.withColumn(
        "w_raw", F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("bigint")
    )
    total = w.agg(F.sum("w_raw").alias("total_w"))
    return w.crossJoin(F.broadcast(total)).select(
        "source", "n_docs", "n_tokens", "w_raw",
        F.round(F.col("w_raw") / F.col("total_w").cast("double"), 6).alias("sample_weight"),
        F.expr(f"div({EPOCH_TOKEN_BUDGET} * w_raw, total_w)").alias("epoch_tokens"),
    )


# ---------------------------------------------------------------------------
# Deterministic global shuffle + sharding — the data-loader prep step: every
# epoch's read order must be (a) uniformly shuffled, (b) reproducible on any
# cluster size, (c) shardable so each trainer rank reads its own files.
# Achieved with the salted portable hash as BOTH the shard assigner and the
# within-shard sort key: no RNG state, no driver involvement, stable under
# re-partitioning. The only shuffle is the row_number's per-shard sort —
# each shard is corpus/n_shards rows, and shards are independent (at 100 TB
# this is `repartitionByRange(shard, h)` + `partitionBy(shard)` writes).
# ---------------------------------------------------------------------------

SHUFFLE_SALT = "epoch-0"
N_SHARDS = 8


@register(
    "training_shuffle_shards",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             {S.HASH32_SQL(f"'{SHUFFLE_SALT}:' || CAST(doc_id AS VARCHAR)")} AS hv
      FROM documents
    )
    SELECT doc_id, hv % {N_SHARDS} AS shard,
           CAST(row_number() OVER (
               PARTITION BY hv % {N_SHARDS} ORDER BY hv, doc_id) - 1 AS BIGINT)
               AS position
    FROM h
    """,
)
def training_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(shard, position) for every doc under a salted deterministic
    permutation: change SHUFFLE_SALT per epoch for a fresh order,
    re-run anywhere for the identical one. hv is the md5-based portable
    32-bit hash (functions/sketches.hash32), so the oracle replays the
    exact permutation."""
    d = spread(load(spark, sf_dir, "documents"))
    h = d.select(
        "doc_id",
        S.hash32(F.concat(F.lit(f"{SHUFFLE_SALT}:"), F.col("doc_id").cast("string"))).alias("hv"),
    )
    w = W.partitionBy("shard").orderBy("hv", "doc_id")
    return (
        h.withColumn("shard", F.col("hv") % N_SHARDS)
        .withColumn("position", (F.row_number().over(w) - 1).cast("bigint"))
        .select("doc_id", "shard", "position")
    )


# quality-weighted sampling: keep-probability tier by document quality, as
# pretraining corpora demote (not drop) low-quality strata. Parts-per-
# million thresholds keep the hash comparison exact-integer on both engines.
_QS_TIERS_PPM = {"high": 1_000_000, "mid": 500_000, "low": 100_000}
_QS_HASH_SQL = S.HASH32_SQL("'qsamp:' || CAST(doc_id AS VARCHAR)")


@register(
    "quality_weighted_sample",
    oracle=f"""
    WITH tiered AS (
      SELECT source,
             CASE WHEN n_chars >= 400 THEN 'high'
                  WHEN n_chars >= 250 THEN 'mid'
                  ELSE 'low' END AS tier,
             CASE WHEN n_chars >= 400 THEN {_QS_TIERS_PPM['high']}
                  WHEN n_chars >= 250 THEN {_QS_TIERS_PPM['mid']}
                  ELSE {_QS_TIERS_PPM['low']} END AS keep_ppm,
             {_QS_HASH_SQL} % 1000000 AS h
      FROM documents
    )
    SELECT source, tier,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN h < keep_ppm THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM tiered GROUP BY source, tier
    """,
)
def quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted downsampling: each quality tier keeps a different
    fraction of its documents (high 100%, mid 50%, low 10%) by comparing a
    salted content-key hash against the tier's parts-per-million threshold
    — the Dolma/RefinedWeb-style 'demote, don't drop' mixture step, fully
    deterministic (reproducible across re-runs, re-partitioning, and
    engines; no RNG seed coordination across 1000 executors). Pure per-row
    map + one (source, tier) agg."""
    d = spread(load(spark, sf_dir, "documents"))
    tier = (
        F.when(F.col("n_chars") >= 400, "high")
        .when(F.col("n_chars") >= 250, "mid")
        .otherwise("low")
    )
    keep_ppm = (
        F.when(F.col("n_chars") >= 400, _QS_TIERS_PPM["high"])
        .when(F.col("n_chars") >= 250, _QS_TIERS_PPM["mid"])
        .otherwise(_QS_TIERS_PPM["low"])
    )
    h = S.hash32(F.concat(F.lit("qsamp:"), F.col("doc_id").cast("string"))) % 1_000_000
    return (
        d.select("source", tier.alias("tier"), (h < keep_ppm).alias("_keep"))
        .groupBy("source", "tier")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Round 5: split distribution-shift diagnostics + cross-source score
# normalization.
# ---------------------------------------------------------------------------


@register(
    "divergence_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id % 2 AS split, unnest({X.TOKENS_SQL('text')}) AS token
      FROM documents
    ),
    cnt AS (SELECT split, token, CAST(count(*) AS BIGINT) AS c
            FROM toks GROUP BY 1, 2),
    tot AS (SELECT split, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
    a AS (SELECT token, c AS c_train FROM cnt WHERE split = 0),
    b AS (SELECT token, c AS c_valid FROM cnt WHERE split = 1),
    na AS (SELECT n AS n_train FROM tot WHERE split = 0),
    nb AS (SELECT n AS n_valid FROM tot WHERE split = 1),
    j AS (
      SELECT token, c_train, c_valid,
             round((CAST(c_train AS DOUBLE) / n_train) *
                   ln((CAST(c_train AS DOUBLE) / n_train) /
                      (CAST(c_valid AS DOUBLE) / n_valid)), 6) AS kl_term
      FROM a JOIN b USING (token), na, nb
    )
    SELECT token, c_train, c_valid, kl_term
    FROM j ORDER BY kl_term DESC, token LIMIT 50
    """,
)
def divergence_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 per-term KL(train‖valid) contributions between the two
    hash-split halves of the corpus — the distribution-shift audit run
    before trusting a validation split (a term whose train share dwarfs
    its valid share is a leakage/skew flag). Restricted to the common
    vocabulary (terms present in both splits), so every kl_term is finite.

    Scale shape: one token-keyed combine per split (vocabulary-bound
    output), a vocab×vocab equi-join, and two broadcast 1-row totals;
    kl_term is division/ln/multiply per OUTPUT row — no cross-row double
    summation — and is ROUNDED to 6 decimals on both sides before the
    order/limit, because JVM Math.log and DuckDB's libm can differ in the
    last ulp (observed on ln(936) in zipf_rank_freq's first cut) and an
    unrounded sort key would make the top-50 cut itself nondeterministic."""
    d = spread(load(spark, sf_dir, "documents"))
    cnt = (
        d.select(
            (F.col("doc_id") % 2).alias("split"),
            F.explode(X.tokens("text")).alias("token"),
        )
        .groupBy("split", "token")
        .agg(F.count("*").alias("c"))
    )
    tot = cnt.groupBy("split").agg(F.sum("c").alias("n"))
    a = cnt.filter(F.col("split") == 0).select("token", F.col("c").alias("c_train"))
    b = cnt.filter(F.col("split") == 1).select("token", F.col("c").alias("c_valid"))
    na = tot.filter(F.col("split") == 0).select(F.col("n").alias("n_train"))
    nb = tot.filter(F.col("split") == 1).select(F.col("n").alias("n_valid"))
    p = F.col("c_train").cast("double") / F.col("n_train")
    q = F.col("c_valid").cast("double") / F.col("n_valid")
    return (
        a.join(b, "token")
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "token",
            "c_train",
            "c_valid",
            F.round(p * F.log(p / q), 6).alias("kl_term"),
        )
        .orderBy(F.desc("kl_term"), "token")
        .limit(50)
    )


@register(
    "quality_quantile_normalize",
    oracle="""
    SELECT doc_id, source, n_chars,
           percent_rank() OVER (
             PARTITION BY source ORDER BY n_chars, doc_id
           ) AS pct_rank
    FROM documents
    """,
)
def quality_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quantile normalization of the document quality proxy
    (n_chars): each doc's score becomes its percent-rank WITHIN its
    source, making thresholds comparable across sources whose raw score
    distributions differ (the standard fix before a global quality cut —
    a web source's median must not outrank a books source's p90 just
    because the units differ). percent_rank = (rn-1)/(n-1) is a single
    division of exact integers — hash-stable cross-engine. r8: the former
    `PARTITION BY source` window sorted each source's whole document set
    on one task (sources are O(10), docs O(corpus)); now an exact sharded
    rank sorts on sources×buckets tasks, same oracle, same hash."""
    from ..operators.ranks import percent_rank_expr, sharded_row_number

    d = spread(load(spark, sf_dir, "documents"))
    ranked = sharded_row_number(
        d.select("doc_id", "source", "n_chars"),
        ["source"],
        ["n_chars", "doc_id"],
    )
    return ranked.select(
        "doc_id",
        "source",
        "n_chars",
        percent_rank_expr("rn", "n_g").alias("pct_rank"),
    )


@register(
    "lang_confidence_quantiles",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN n_chars < 200 THEN NULL ELSE lang END AS lang_grp,
             n_chars
      FROM documents
    )
    SELECT doc_id, lang_grp, n_chars,
           percent_rank() OVER (
             PARTITION BY lang_grp ORDER BY n_chars, doc_id
           ) AS pct_rank
    FROM d
    """,
)
def lang_confidence_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length percent-ranks with a NULL language group:
    short documents (< 200 chars) carry too little signal for reliable
    language ID, so they pool under a NULL key and are quantile-ranked
    against each other rather than polluting a language's distribution —
    the standard curation shape wherever a group key is derived and can
    legitimately be unknown. Exercises the r9 null-safe sharded-rank
    path end-to-end against the SQL window's NULL-partition semantics
    (the r8 version silently DROPPED every NULL-keyed row);
    small_group_rows=0 pins the sharded construction so the oracle
    verifies exactly the scale path."""
    from ..operators.ranks import percent_rank_expr, sharded_row_number

    d = spread(load(spark, sf_dir, "documents"))
    base = d.select(
        "doc_id",
        F.when(F.col("n_chars") < 200, F.lit(None))
        .otherwise(F.col("lang"))
        .alias("lang_grp"),
        "n_chars",
    )
    ranked = sharded_row_number(
        base, ["lang_grp"], ["n_chars", "doc_id"], small_group_rows=0
    )
    return ranked.select(
        "doc_id",
        "lang_grp",
        "n_chars",
        percent_rank_expr("rn", "n_g").alias("pct_rank"),
    )


@register(
    "corpus_datacard",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(sum({X.TOKEN_COUNT_SQL('text')}) AS BIGINT) AS total_tokens,
           CAST(sum(length(text)) AS BIGINT) AS total_chars,
           CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT)
               AS n_exact_dup_docs,
           round(100.0 * (count(*) - count(DISTINCT md5(text)))
                 / count(*), 4) AS dup_pct
    FROM documents
    """,
)
def corpus_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card — the headline numbers a corpus release ships
    with (docs, sources, languages, token/char volume, exact-duplicate
    rate). Everything reduces map-side to a single row; the only exact
    distinct over an unbounded domain is md5(text), which is the same
    hash-groupBy as dedup_exact and shuffles one 32-byte key per doc.
    The dup ratio is derived from two exact integers."""
    d = spread(load(spark, sf_dir, "documents"))
    n = F.count("*")
    ndup = n - F.count_distinct(F.md5("text"))
    return d.agg(
        n.alias("n_docs"),
        F.count_distinct("source").alias("n_sources"),
        F.count_distinct("lang").alias("n_langs"),
        F.sum(X.token_count("text")).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        ndup.alias("n_exact_dup_docs"),
        F.round(100.0 * ndup / n, 4).alias("dup_pct"),
    )
