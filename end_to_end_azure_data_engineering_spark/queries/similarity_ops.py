"""Similarity-search queries over the embeddings table (array<float>, 64-d):
brute-force cosine top-k baseline + LSH-bucketed ANN scale path + embedding
near-dup. All native HOF arithmetic (zip_with/aggregate) — no UDFs.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..engine.pin import pin as _pin, release_checkpoints
from ..functions import similarity as V
from ..operators.kmeans import lloyd_codebook, lloyd_step, seed_codebook
from . import load, register, spread

_EMB_D = "embedding::DOUBLE[]"


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS pe FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT p.probe_id, e.vec_id,
             {V.COSINE_SQL('p.pe', 'e.embedding')} AS cos
      FROM probes p JOIN embeddings e ON e.vec_id <> p.probe_id
    ),
    ranked AS (
      SELECT probe_id, vec_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT probe_id, vec_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= 5
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the probe batch against the
    candidate set, window top-k per probe. At scale: probes broadcast (no
    candidate shuffle), score is a narrow map, and the only shuffle is the
    per-probe top-k — which AQE keeps proportional to |probes|·k."""
    e = V.staged(spread(load(spark, sf_dir, "embeddings")), "embedding", "_e")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        F.col("_e_v").alias("_p_v"), F.col("_e_n").alias("_p_n"),
    )
    cand = e.select("vec_id", "_e_v", "_e_n")
    cos = V.cosine_pre("_p_v", "_p_n", "_e_v", "_e_n")
    scored = (
        cand.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", cos.alias("cos"))
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("probe_id", "vec_id", F.round("cos", 6).alias("cosine"), "rk")
    )


@register(
    "ann_lsh_topk",
    oracle=f"""
    WITH buckets AS (
      SELECT vec_id, embedding, {V.SIGN_BUCKET_SQL('embedding')} AS bucket
      FROM embeddings
    ),
    probes AS (
      SELECT vec_id AS probe_id, embedding AS pe, bucket FROM buckets WHERE vec_id < 20
    ),
    scored AS (
      SELECT p.probe_id, b.vec_id,
             {V.COSINE_SQL('p.pe', 'b.embedding')} AS cos
      FROM probes p JOIN buckets b
        ON b.bucket = p.bucket AND b.vec_id <> p.probe_id
    ),
    ranked AS (
      SELECT probe_id, vec_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT probe_id, vec_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= 3
    """,
)
def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: sign-pattern bucket key (8 axis hyperplanes) →
    equi-join on bucket → cosine only within the bucket → top-k. The
    100 TB layout: candidates bucket-partitioned on disk, probe fan-out
    ~|corpus|/2^bits per probe, no global shuffle of the corpus."""
    e = V.staged(load(spark, sf_dir, "embeddings"), "embedding", "_e")
    buckets = e.select(
        "vec_id", "_e_v", "_e_n", V.sign_bucket(F.col("embedding")).alias("bucket")
    )
    probes = buckets.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"),
        F.col("_e_v").alias("_p_v"), F.col("_e_n").alias("_p_n"), "bucket",
    )
    cos = V.cosine_pre("_p_v", "_p_n", "_e_v", "_e_n")
    scored = (
        buckets.join(F.broadcast(probes), "bucket")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select("probe_id", "vec_id", cos.alias("cos"))
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("probe_id", "vec_id", F.round("cos", 6).alias("cosine"), "rk")
    )


@register(
    "embedding_near_dup",
    oracle=f"""
    WITH buckets AS (
      SELECT vec_id, embedding, {V.SIGN_BUCKET_SQL('embedding')} AS bucket
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round({V.COSINE_SQL('a.embedding', 'b.embedding')}, 6) AS cosine
    FROM buckets a JOIN buckets b
      ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {V.COSINE_SQL('a.embedding', 'b.embedding')} >= 0.35
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: bucket-join (LSH) then cosine ≥ threshold —
    the embedding leg of the dedup suite; same bucket-shuffle shape as
    minhash LSH. The driver's synthetic embeddings are near-orthogonal (max
    in-bucket cosine ≈ 0.43 at sf0.01), so the demo threshold is 0.35 to
    exercise a non-empty result; a real corpus would use ~0.9."""
    return _emb_near_dup_pairs(spark, sf_dir).select(
        "vec_a", "vec_b", F.round("_cos", 6).alias("cosine")
    )


def _emb_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared pair builder for embedding_near_dup / semantic_dedup_survivors:
    sign-bucket LSH join, raw-cosine threshold, columns (vec_a, vec_b, _cos).

    Same hot-bucket exposure as the minhash mine: a sign bucket holding B
    vectors (degenerate/near-zero embeddings, mode collapse in the encoder)
    yields B² candidates. At production scale apply the star-candidate cap
    exactly as ``operators.neardup.pairs_from_signatures(bucket_cap=...)``
    does for text — survivor components only need hub connectivity. The
    oracle-verified query form here stays exact (test buckets are small)."""
    e = V.staged(load(spark, sf_dir, "embeddings"), "embedding", "_e")
    buckets = e.select(
        "vec_id", "_e_v", "_e_n", V.sign_bucket(F.col("embedding")).alias("bucket")
    )
    a = buckets.select(
        F.col("vec_id").alias("vec_a"),
        F.col("_e_v").alias("_a_v"), F.col("_e_n").alias("_a_n"), "bucket",
    )
    b = buckets.select(
        F.col("vec_id").alias("vec_b"),
        F.col("_e_v").alias("_b_v"), F.col("_e_n").alias("_b_n"), "bucket",
    )
    cos = V.cosine_pre("_a_v", "_a_n", "_b_v", "_b_n")
    # repartition side a on the bucket key: this IS the 100 TB layout
    # (bucket-partitioned corpus) made explicit. Without it, AQE broadcasts
    # the small side and the in-bucket pair scoring inherits the SCAN's
    # partitioning — a single small parquet file means ONE task computes
    # every pairwise cosine (877k pairs serialized at 10× scale probe).
    # The partition count must be EXPLICIT: a column-only repartition is
    # AQE-coalescible, and with ~1 MB of input AQE folds it back to one
    # partition, resurrecting the serial plan (21s vs 5s at the probe).
    dp = spark.sparkContext.defaultParallelism
    return (
        a.repartition(dp, F.col("bucket")).join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("_cos", cos)
        .filter(F.col("_cos") >= 0.35)  # threshold on the raw value (oracle parity)
        .select("vec_a", "vec_b", "_cos")
    )


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH centroids AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16
    ),
    assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT v.vec_id, v.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {V.COSINE_SQL('v.embedding', 'c.ce')} DESC, c.cid ASC
               ) AS crk
        FROM embeddings v CROSS JOIN centroids c
      ) WHERE crk = 1
    ),
    probe_cells AS (
      SELECT probe_id, pe, cid FROM (
        SELECT v.vec_id AS probe_id, v.embedding AS pe, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {V.COSINE_SQL('v.embedding', 'c.ce')} DESC, c.cid ASC
               ) AS crk
        FROM embeddings v CROSS JOIN centroids c
        WHERE v.vec_id < 20
      ) WHERE crk <= 2
    ),
    scored AS (
      SELECT p.probe_id, a.vec_id,
             {V.COSINE_SQL('p.pe', 'a.embedding')} AS cos
      FROM probe_cells p JOIN assign a
        ON a.cid = p.cid AND a.vec_id <> p.probe_id
    ),
    ranked AS (
      SELECT probe_id, vec_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT probe_id, vec_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= 3
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: corpus partitioned into K centroid cells (inverted
    file), probes search only their nprobe=2 nearest cells. Centroids here
    are a deterministic seed sample (vec_id<16) so the DuckDB oracle can
    replay the assignment; swapping in k-means-refined centers changes only
    the centroid frame, not the plumbing.

    Cell assignment is a SHUFFLE-FREE map: the K centroids (bounded, like any
    codebook) are collected once and inlined as a literal array of structs, so
    ranking a row's cells is array_sort over 16 elements inside codegen — no
    crossJoin, no 16×|corpus| window shuffle (the naive plan). This is the
    MLlib pattern: centers live on the driver. 100 TB layout: `assign` is the
    cell-partitioned vector table on disk; a probe touches nprobe cells
    (~nprobe/K of the corpus) and the only wide exchange is the per-probe
    top-k. The nprobe sweep at the sf10 fixture (r10, verdict item 6;
    script removed; measurements kept in SCALING.md): candidates and time
    scale with nprobe/K, recall with the cells covered."""
    assign, probe_cells = ivf_index_frames(spark, sf_dir, nprobe=2, k_cells=16)
    return ivf_probe_topk(assign, probe_cells, topk=3)


def ivf_probe_topk(
    assign: DataFrame, probe_cells: DataFrame, *, topk: int = 3
) -> DataFrame:
    """The probe-side read path over an IVF index: candidate join on the
    cell id, cosine from the staged (vector, norm) columns, per-probe
    top-k. At 100 TB ``assign`` is the cell-partitioned vector table on
    disk and this — not the assignment map — is the per-query cost; the
    nprobe sweep timed exactly this function over a pre-materialized
    index (script removed; measurements kept in SCALING.md)."""
    scored = (
        assign.join(F.broadcast(probe_cells), "cid")
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            V.cosine_pre("_p_v", "_p_n", "_e_v", "_e_n").alias("cos"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .select("probe_id", "vec_id", F.round("cos", 6).alias("cosine"), "rk")
    )


def ivf_index_frames(
    spark: SparkSession,
    sf_dir: str,
    *,
    nprobe: int = 2,
    k_cells: int = 16,
    centroids: list[list[float]] | None = None,
    staged_ev: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(assign, probe_cells): the IVF index build side (every vector's
    nearest-centroid cell — the cell-partitioned table a 100 TB layout
    materializes once) and the probe side (each probe's nprobe nearest
    cells, carrying the staged probe vector/norm). The codebook is the
    deterministic seed sample ``vec_id < k_cells`` (scripted — a DuckDB
    oracle can replay it) unless an explicit ``centroids`` codebook is
    passed (the k-means-refined production path, r12: cell ids become
    0..K-1; everything downstream is codebook-agnostic). The registered
    oracle query never passes one, so its replayable plan is untouched.

    ``staged_ev`` (r14): an already-staged, slot-spread, PINNED
    (vec_id, _e_v, _e_n) frame to reuse instead of re-scanning and
    re-staging the corpus — ann_ivf_refined_topk shares ONE pin between
    its Lloyd passes and this index build (guide §5 reuse). A supplied
    frame is also already fanned out, so the explicit repartition below
    is skipped — the staged norms and vectors are bit-identical either
    way (same staging expressions), hence the same assignment."""
    # guards BEFORE any Spark work: the knob must not be able to launch
    # a job it will refuse to finish
    V.check_codebook_k(len(centroids) if centroids is not None else k_cells)
    if staged_ev is not None and centroids is None:
        raise ValueError(
            "staged_ev carries staged columns only — the seed-codebook "
            "branch needs the raw embedding column; pass centroids"
        )
    e = staged_ev if staged_ev is not None else load(spark, sf_dir, "embeddings")
    if centroids is not None:
        cents = [[float(x) for x in c] for c in centroids]
        ids = list(range(len(cents)))
    else:
        ids, cents = seed_codebook(e, k_cells)
    # three single-node nested literals (not 16×64 Literal columns — that
    # expression tree put multi-second analysis cost on the driver); norms
    # precomputed in Python (same sequential left-fold as the HOF dot).
    # r14: the nested literals are built by ONE SQL parse each —
    # F.lit(cents) walks the 16×64 list element-by-element through py4j,
    # measured 0.577 s of driver time per query build (the dominant cost
    # of ivf_index_frames, guide §1.1 empirical), vs ~3 ms parsed;
    # lit_double_matrix is bit-identical to F.lit (shortest-repr double
    # literals through Double.parseDouble, pinned by test).
    # NOTE: two codegen forms of this cell ranking were benchmarked and
    # both LOSE to the interpreted transform-lambda: a single fully
    # unrolled K×d expression and K unrolled per-cell columns both get
    # re-inlined by CollapseProject into the array_min/array_sort
    # consumers, and the resulting ~2000-node tree sends optimizer and
    # codegen time through the roof (60–200s per run vs ~2.5s warm here).
    cent_vecs = V.lit_double_matrix(cents)
    cent_ids = F.lit(ids)
    cent_norms = V.lit_double_array(
        [math.sqrt(sum(x * x for x in ce)) for ce in cents]
    )
    # stage a double-cast copy for the K-cell ranking: the zip_with dots
    # inside the transform lambda are interpreted, and without this each of
    # the K cells would re-cast the float vector (K×d interpreted casts per
    # row). Referenced K times, so CollapseProject keeps it materialized.
    # A supplied staged_ev already carries (_e_v, _e_n) — identical
    # staging expressions, so only the double-cast copy is added here.
    ev = (
        e if staged_ev is not None else V.staged(e, "embedding", "_e")
    ).withColumn("_e_vd", V.as_double(F.col("_e_v")))
    # sort key = struct(-cos, cid): the DEFAULT struct ordering (ascending,
    # field by field) then gives cos desc / cid asc — array_sort and
    # array_max with a custom comparator lambda run interpreted, the
    # default ordering stays on the fast path
    cells = F.transform(
        F.sequence(F.lit(1), F.lit(len(cents))),
        lambda i: F.struct(
            (
                -(
                    V.dot(F.col("_e_vd"), F.element_at(cent_vecs, i))
                    / F.greatest(
                        F.col("_e_n") * F.element_at(cent_norms, i), F.lit(1e-12)
                    )
                )
            ).alias("neg_cos"),
            F.element_at(cent_ids, i).alias("cid"),
        ),
    )
    # assignment needs only the argmax cell. r13 opt: the corpus-side cell
    # ranking runs through assign_cosine_cid_arrow — BIT-IDENTICAL to
    # array_min(cells)["cid"] (sequential-dim numpy dot, the frame's own
    # staged norm, first-wins argmin == struct(neg_cos, cid) ascending
    # since the id list is ascending in both codebook forms; see
    # functions/similarity_arrow.py) at a fraction of the interpreted
    # K-cell fold's cost (guide §4.2). Only (vec_id, _e_v, _e_n) cross
    # the Arrow boundary. Repartition first: the K×d ranking is still the
    # heavy map of this query, and the broadcast probe join would
    # otherwise pin it to the scan's partition count (one task for a
    # single small parquet file). At cluster scale this shuffle is the
    # write side of the cell-partitioned layout anyway. Explicit count —
    # a column-only repartition is AQE-coalescible back to one partition
    # on small inputs.
    from ..functions.similarity_arrow import assign_cosine_cid_arrow

    # r13 ADVICE: a bare assert is stripped under python -O, leaving the
    # custom-centroids path unguarded — raise instead
    if list(ids) != sorted(ids):
        raise ValueError("cell ids must ascend for tie parity")
    if staged_ev is not None:
        # the supplied pin is already slot-spread (and at cluster scale
        # already split-partitioned): a second fan-out exchange before
        # the Arrow stage buys nothing (guide §2.4)
        assign_in = ev.select("vec_id", "_e_v", "_e_n")
    else:
        dp = spark.sparkContext.defaultParallelism
        assign_in = ev.repartition(dp, F.col("vec_id")).select(
            "vec_id", "_e_v", "_e_n"
        )
    assign = assign_cosine_cid_arrow(
        assign_in,
        "_e_v",
        "_e_n",
        cents,
        [math.sqrt(sum(x * x for x in ce)) for ce in cents],
        ids,
    )
    probe_cells = (
        ev.filter(F.col("vec_id") < 20)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("_e_v").alias("_p_v"),
            F.col("_e_n").alias("_p_n"),
            F.explode(
                F.transform(
                    F.slice(F.array_sort(cells), 1, nprobe), lambda c: c["cid"]
                )
            ).alias("cid"),
        )
    )
    return assign, probe_cells


_KM_K = 16   # codebook size (seed = vec_id < _KM_K, like ann_ivf_topk)
_KM_D = V.EMB_DIM


@register(
    "kmeans_refine_cells",
    oracle=f"""
    WITH cents AS (
      SELECT vec_id AS cell, embedding AS cent FROM embeddings
      WHERE vec_id < {_KM_K}
    ),
    dists AS (
      SELECT e.vec_id, c.cell,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, {_KM_D} + 1),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE))
                        * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.cent[i] AS DOUBLE)))),
                 (acc, x) -> acc + x) AS d2
      FROM embeddings e CROSS JOIN cents c
    ),
    assigned AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
        FROM dists
      ) WHERE rk = 1
    ),
    exploded AS (
      SELECT a.cell, i.i AS dim,
             CAST(e.embedding[i.i + 1] AS DOUBLE) AS x
      FROM assigned a
      JOIN embeddings e USING (vec_id)
      CROSS JOIN (SELECT unnest(range({_KM_D})) AS i) i
    )
    SELECT cell, dim,
           count(*) AS n_members,
           round(CAST(sum(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6)
               + 0.0 AS mean_q
    FROM exploded
    GROUP BY cell, dim
    """,
)
def kmeans_refine_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means codebook refinement, hash-verified:
    ``operators.kmeans.lloyd_step`` over the seed codebook. Assignment is
    the sequential squared-L2 fold (bit-matching the oracle's list_reduce
    replay, ties to the lowest cell), and the centroid update accumulates
    each dimension in DECIMAL(28,12) so the mean is summation-order-free,
    then rounds once (+0.0 folds any -0.0). Output: per (cell, dim) member
    count and refined coordinate."""
    e = load(spark, sf_dir, "embeddings")
    _, cents = seed_codebook(e, _KM_K)
    return lloyd_step(spread(e).select(F.col("embedding").alias("_v")), cents)


def _lloyd_iter_sql(prev_cents: str, tag: str) -> str:
    """One unrolled Lloyd iteration for the kmeans_lloyd_3iter oracle:
    assignment by the SAME sequential list_reduce distance fold the
    single-iteration query pins (summation order matters on near-ties),
    then the DECIMAL-accumulated, round-6-quantized per-(cell, dim)
    mean. ``prev_cents`` is a (cell, cent DOUBLE[]) relation."""
    return f"""
    dists_{tag} AS (
      SELECT e.vec_id, c.cell,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(range(1, {_KM_D} + 1),
                     i -> (CAST(e.embedding[i] AS DOUBLE) - c.cent[i])
                        * (CAST(e.embedding[i] AS DOUBLE) - c.cent[i]))),
                 (acc, x) -> acc + x) AS d2
      FROM embeddings e CROSS JOIN {prev_cents} c
    ),
    assigned_{tag} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rk
        FROM dists_{tag}
      ) WHERE rk = 1
    ),
    means_{tag} AS (
      SELECT a.cell, i.i AS dim,
             count(*) AS n_members,
             round(CAST(sum(CAST(CAST(e.embedding[i.i + 1] AS DOUBLE)
                                 AS DECIMAL(28,12))) AS DOUBLE)
                   / count(*), 6) + 0.0 AS mean_q
      FROM assigned_{tag} a
      JOIN embeddings e USING (vec_id)
      CROSS JOIN (SELECT unnest(range({_KM_D})) AS i) i
      GROUP BY a.cell, i.i
    ),
    cents_{tag} AS (
      SELECT c.cell,
             list_transform(range(1, {_KM_D} + 1),
                 i -> coalesce(m.means[i], c.cent[i])) AS cent
      FROM {prev_cents} c
      LEFT JOIN (
        SELECT cell, list(mean_q ORDER BY dim) AS means
        FROM means_{tag} GROUP BY cell
      ) m USING (cell)
    )
    """


@register(
    "kmeans_lloyd_3iter",
    oracle=f"""
    WITH cents_0 AS (
      SELECT vec_id AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
      FROM embeddings WHERE vec_id < {_KM_K}
    ),
    {_lloyd_iter_sql("cents_0", "1")},
    {_lloyd_iter_sql("cents_1", "2")},
    {_lloyd_iter_sql("cents_2", "3")}
    SELECT cell, dim, n_members, mean_q FROM means_3
    """,
)
def kmeans_lloyd_3iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL Lloyd loop, oracle-gated (r11 verdict item 4): three
    chained k-means iterations with the codebook QUANTIZED between them
    (per-dimension mean accumulated in DECIMAL(28,12), rounded to 6
    places, -0.0 folded), so both engines hand bit-identical centroids
    into the next assignment pass and the whole 3-iteration trajectory —
    not just one step — is hash-verified. Same discipline as
    pagerank_copurchase's fixed-3-iteration decimal-stable form. Runs
    ``operators.kmeans.lloyd_codebook`` for two iterations and
    ``lloyd_step`` for the third, whose frame is the result.

    Scale shape (the MLlib pattern): per iteration one corpus pass (the
    fused assignment + partial-sum map) + one K x d-group aggregate whose
    K x d result refreshes the driver-side codebook — the two collects
    here are bounded at K x d = {_KM_K} x {_KM_D} rows each, never
    corpus-sized. Empty cells keep their previous centroid on both
    engines (Spark: missing rows leave the codebook entry untouched;
    oracle: coalesce against the prior cent).
    Output: per (cell, dim) member count and refined coordinate after
    iteration 3."""
    e = load(spark, sf_dir, "embeddings")
    _, cents = seed_codebook(e, _KM_K)
    # pin the staged vectors ONCE (r13 opt): the three iteration passes
    # otherwise re-run scan + spread each time. Only _v is pinned
    # (project-early — vec_id is unused here). r14: the pin keeps the
    # RAW float32 arrays — half the pinned bytes — because the fused
    # Arrow kernel's astype(float64) is the same exact widening the
    # as_double projection performed (float32→float64 is lossless), so
    # scores and decimal partials are unchanged bit-for-bit (pinned by
    # test_lloyd_fused_partials_bit_exact's float32 variant).
    staged = spread(e).select(F.col("embedding").alias("_v")).transform(_pin)
    cents = lloyd_codebook(staged, cents, 2)
    # r14 (VERDICT item 4 "what's wrong"): pin the BOUNDED K×d final
    # aggregate and release the corpus-scale staged pin HERE — a caller
    # that discards the returned frame leaks at most K×d rows (freed by
    # release_checkpoints like every eager query), never a corpus of
    # staged vectors. Pinned by
    # tests/test_kmeans.py::test_lloyd_query_releases_staged_pin.
    out = lloyd_step(staged, cents).transform(_pin)
    release_checkpoints(staged)
    return out


@register(
    "ann_ivf_refined_topk",
    oracle=f"""
    WITH cents_0 AS (
      SELECT vec_id AS cell,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cent
      FROM embeddings WHERE vec_id < {_KM_K}
    ),
    {_lloyd_iter_sql("cents_0", "1")},
    {_lloyd_iter_sql("cents_1", "2")},
    {_lloyd_iter_sql("cents_2", "3")},
    centroids AS (SELECT cell AS cid, cent AS ce FROM cents_3),
    assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT v.vec_id, v.embedding, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {V.COSINE_SQL('v.embedding', 'c.ce')} DESC, c.cid ASC
               ) AS crk
        FROM embeddings v CROSS JOIN centroids c
      ) WHERE crk = 1
    ),
    probe_cells AS (
      SELECT probe_id, pe, cid FROM (
        SELECT v.vec_id AS probe_id, v.embedding AS pe, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {V.COSINE_SQL('v.embedding', 'c.ce')} DESC, c.cid ASC
               ) AS crk
        FROM embeddings v CROSS JOIN centroids c
        WHERE v.vec_id < 20
      ) WHERE crk <= 2
    ),
    scored AS (
      SELECT p.probe_id, a.vec_id,
             {V.COSINE_SQL('p.pe', 'a.embedding')} AS cos
      FROM probe_cells p JOIN assign a
        ON a.cid = p.cid AND a.vec_id <> p.probe_id
    ),
    ranked AS (
      SELECT probe_id, vec_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT probe_id, vec_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= 3
    """,
)
def ann_ivf_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The kmeans→IVF COMPOSITION, oracle-gated end to end (r12 verdict
    item 2): the codebook is kmeans_lloyd_3iter's decimal-quantized
    3-iteration trajectory (so both engines hand bit-identical refined
    centroids into the index build), fed through the codebook-agnostic
    ``ivf_index_frames(centroids=…)`` production path and the standard
    probe-side top-k. Same knobs as ann_ivf_topk (K={_KM_K}, nprobe=2,
    topk=3, probes vec_id<20); the ONLY change from the seed-codebook
    query is which centroids partition the corpus — exactly the swap the
    ann_ivf_topk docstring promises, now hash-verified rather than
    probe-measured only (the nprobe sweep's [E] measured it at recall
    1.000 with 8× less coverage than the seed plateau; script removed;
    measurements kept in SCALING.md).

    Scale shape: 3 bounded Lloyd scans build the codebook once, then the
    IVF plan is unchanged — 0-shuffle literal-codebook cell assignment,
    broadcast probe join, per-probe top-k as the only wide exchange.

    r14 (VERDICT item 1): ONE staged pin (vec_id, _e_v, _e_n) is shared
    by the seed collect, all three Lloyd passes (the fused kernel widens
    float32 exactly) and the IVF index build — previously the corpus was
    scanned and staged twice and the seed collect was a third scan
    (guide §5 reuse). The bounded 60-row result is pinned and the corpus
    pin released before returning (same ownership contract as
    kmeans_lloyd_3iter)."""
    e = load(spark, sf_dir, "embeddings")
    ev = (
        V.staged(spread(e), "embedding", "_e")
        .select("vec_id", "_e_v", "_e_n")
        .transform(_pin)
    )
    _, seed = seed_codebook(ev, _KM_K, "_e_v")
    cents = lloyd_codebook(ev, seed, 3, "_e_v")
    assign, probe_cells = ivf_index_frames(
        spark, sf_dir, nprobe=2, k_cells=_KM_K, centroids=cents, staged_ev=ev
    )
    out = ivf_probe_topk(assign, probe_cells, topk=3).transform(_pin)
    release_checkpoints(ev)
    return out


@register(
    "embedding_quantization_stats",
    oracle="""
    WITH scaled AS (
      SELECT label,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs,
             greatest(list_max(list_transform(embedding,
                 v -> abs(CAST(v AS DOUBLE)))) / 127.0, 1e-30) AS scale
      FROM embeddings
    ),
    q AS (
      SELECT label,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(xs,
                     x -> (x - round(x / scale) * scale)
                        * (x - round(x / scale) * scale))),
                 (acc, e) -> acc + e) AS err
      FROM scaled
    )
    SELECT label,
           count(*) AS n_vecs,
           round(max(err), 12) AS max_sq_err,
           round(CAST(sum(CAST(err AS DECIMAL(28,18))) AS DOUBLE)
                 / count(*), 12) AS avg_sq_err
    FROM q GROUP BY label
    """,
)
def embedding_quantization_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization audit — the memory-4x compression
    every billion-vector ANN index applies, evaluated before committing:
    per vector, scale = max|x|/127, codes = round(x/scale) (|code| <= 127
    by construction, no clamp branch), and the reconstruction error is the
    squared-residual fold. Per label: vector count, worst and mean squared
    error. Pure per-row expressions + one small agg; the fold order and
    round-away-from-zero semantics are identical cross-engine, and the mean
    accumulates in DECIMAL so it is summation-order-free."""
    e = spread(load(spark, sf_dir, "embeddings"))
    xd = V.as_double(F.col("embedding"))
    staged = e.select("label", xd.alias("_v")).withColumn(
        "_scale",
        F.greatest(
            F.array_max(F.transform(F.col("_v"), lambda x: F.abs(x))) / 127.0,
            F.lit(1e-30),
        ),
    )
    resid = F.aggregate(
        F.col("_v"),
        F.lit(0.0),
        lambda acc, x: acc
        + (x - F.round(x / F.col("_scale")) * F.col("_scale"))
        * (x - F.round(x / F.col("_scale")) * F.col("_scale")),
    )
    return (
        staged.select("label", resid.alias("err"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.round(F.max("err"), 12).alias("max_sq_err"),
            F.round(
                F.sum(F.col("err").cast("decimal(28,18)")).cast("double")
                / F.count("*"),
                12,
            ).alias("avg_sq_err"),
        )
    )


# ---------------------------------------------------------------------------
# Per-label centroid drift — domain-shift detection over the embedding
# corpus: how far each label's centroid sits from the global centroid, per
# dimension. Embeddings are quantized to exact integers (round(x·10⁶)) at
# the scan so every aggregate is an exact BIGINT sum, and the outputs stay
# fixed-point BIGINT micro-units: floor() of rationals whose distance to
# any integer is ≥ 1/(n·gn) ≫ double error, so the floor can never flip
# cross-engine — unlike round(x, 9), which sat exactly on terminating-
# decimal boundaries here and flipped by 1 ulp between engines (observed
# at sf0.1). One posexplode + one (label, dim) agg: the shuffle carries
# labels×64 groups, nothing corpus-sized.
# ---------------------------------------------------------------------------

_QUANT = 1_000_000  # 6-decimal fixed-point quantization


@register(
    "embedding_centroid_drift",
    oracle=f"""
    WITH q AS (
      SELECT label, dim - 1 AS dim,
             CAST(round(CAST(x AS DOUBLE) * {_QUANT}) AS BIGINT) AS xq
      FROM (SELECT label, unnest(embedding) AS x,
                   generate_subscripts(embedding, 1) AS dim
            FROM embeddings)
    ),
    per_label AS (
      SELECT label, dim, count(*) AS n, CAST(sum(xq) AS BIGINT) AS sum_q
      FROM q GROUP BY label, dim
    ),
    global_c AS (
      SELECT dim, CAST(sum(n) AS BIGINT) AS gn, CAST(sum(sum_q) AS BIGINT) AS gsum
      FROM per_label GROUP BY dim
    )
    SELECT p.label, p.dim, CAST(p.n AS BIGINT) AS n_vecs,
           CAST(floor(p.sum_q / CAST(p.n AS DOUBLE)) AS BIGINT) AS centroid_micro,
           CAST(floor((p.sum_q * g.gn - g.gsum * p.n)
                      / CAST(p.n * g.gn AS DOUBLE)) AS BIGINT) AS drift_micro
    FROM per_label p JOIN global_c g USING (dim)
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """labels × 64 rows: per-dimension centroid and signed drift from the
    global centroid, in exact micro-units (10⁻⁶ of embedding space).
    drift's numerator (sum_q·gn − gsum·n) is exact BIGINT
    cross-multiplication. The global centroid derives from the per-label
    partials (a second tiny agg), never a second corpus pass."""
    e = load(spark, sf_dir, "embeddings")
    q = e.select(
        "label",
        F.posexplode(F.col("embedding")).alias("dim", "x"),
    ).select(
        "label", "dim",
        F.round(F.col("x").cast("double") * _QUANT).cast("bigint").alias("xq"),
    )
    per_label = q.groupBy("label", "dim").agg(
        F.count("*").alias("n"), F.sum("xq").alias("sum_q")
    )
    global_c = per_label.groupBy("dim").agg(
        F.sum("n").alias("gn"), F.sum("sum_q").alias("gsum")
    )
    return per_label.join(F.broadcast(global_c), "dim").select(
        "label", "dim", F.col("n").alias("n_vecs"),
        F.floor(F.col("sum_q") / F.col("n").cast("double")).cast("bigint").alias(
            "centroid_micro"
        ),
        F.floor(
            (F.col("sum_q") * F.col("gn") - F.col("gsum") * F.col("n"))
            / (F.col("n") * F.col("gn")).cast("double")
        ).cast("bigint").alias("drift_micro"),
    )


@register(
    "embedding_coverage_audit",
    oracle="""
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_embedding,
           CAST(sum(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missing,
           (SELECT count(*) FROM embeddings e2
            WHERE e2.vec_id NOT IN (SELECT doc_id FROM documents))
               AS n_orphan_embeddings
    FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.source
    """,
)
def embedding_coverage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-integrity audit across the text↔embedding pair: per source,
    how many docs have an embedding row, how many are missing, plus the
    corpus-wide orphan-embedding count (vectors whose doc vanished —
    usually a stale-index symptom after dedup). One key-equi left join +
    one anti-join count broadcast onto every row — both co-keyed on the
    doc id, no corpus² anywhere."""
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    e = load(spark, sf_dir, "embeddings").select("vec_id")
    orphans = e.join(d.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_anti")
    n_orphans = orphans.agg(F.count("*").alias("n_orphan_embeddings"))
    return (
        d.join(e, d.doc_id == e.vec_id, "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("vec_id").isNotNull(), 1).otherwise(0)).alias(
                "n_with_embedding"
            ),
            F.sum(F.when(F.col("vec_id").isNull(), 1).otherwise(0)).alias("n_missing"),
        )
        .crossJoin(F.broadcast(n_orphans))
    )


@register(
    "semantic_dedup_survivors",
    oracle=f"""
    WITH RECURSIVE
    buckets AS (
      SELECT vec_id, embedding, {V.SIGN_BUCKET_SQL('embedding')} AS bucket
      FROM embeddings
    ),
    prs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM buckets a JOIN buckets b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {V.COSINE_SQL('a.embedding', 'b.embedding')} >= 0.35
    ),
    bidir AS (
      SELECT va AS n, vb AS m FROM prs
      UNION
      SELECT vb, va FROM prs
    ),
    reach(n, lbl) AS (
      SELECT DISTINCT n, n FROM bidir
      UNION
      SELECT b.n, r.lbl FROM bidir b JOIN reach r ON r.n = b.m
    ),
    losers AS (
      SELECT n AS vec_id FROM reach GROUP BY n HAVING min(lbl) <> n
    )
    SELECT e.label,
           count(*) AS n_vecs,
           CAST(sum(CASE WHEN l.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
           CAST(sum(CASE WHEN l.vec_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_removed
    FROM embeddings e LEFT JOIN losers l USING (vec_id)
    GROUP BY e.label
    """,
)
def semantic_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs (sign-
    bucket LSH, never all-pairs) → connected components (pointer-doubled
    min-label propagation) → each cluster keeps its min-id vector; reported
    as survivor counts per class label. The text-side twin is
    dedup_corpus_survivors; this is the same composition in embedding
    space, which is how near-paraphrase duplicates that share no shingles
    are removed from a pre-training corpus. Oracle replays everything —
    including the transitive closure — as a recursive CTE."""
    from ..operators.dedup import connected_components

    e = load(spark, sf_dir, "embeddings")
    pairs = _emb_near_dup_pairs(spark, sf_dir).select(
        F.col("vec_a").alias("id_a"), F.col("vec_b").alias("id_b")
    )
    comp = connected_components(pairs, "id_a", "id_b")
    losers = comp.filter(F.col("label") != F.col("node")).select(
        F.col("node").alias("vec_id"), F.lit(1).alias("_lost")
    )
    return (
        e.join(losers, "vec_id", "left")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("_lost").isNull(), 1).otherwise(0)).alias("n_survivors"),
            F.sum(F.when(F.col("_lost").isNotNull(), 1).otherwise(0)).alias("n_removed"),
        )
    )


@register(
    "hard_negative_mining",
    oracle=f"""
    WITH probes AS (
      SELECT vec_id AS probe_id, embedding AS pe, label AS probe_label
      FROM embeddings WHERE vec_id < 5
    ),
    scored AS (
      SELECT p.probe_id, p.probe_label, e.vec_id,
             {V.COSINE_SQL('p.pe', 'e.embedding')} AS cos
      FROM probes p JOIN embeddings e
        ON e.vec_id <> p.probe_id AND e.label <> p.probe_label
    ),
    ranked AS (
      SELECT probe_id, probe_label, vec_id, cos,
             row_number() OVER (PARTITION BY probe_id
                                ORDER BY cos DESC, vec_id ASC) AS rk
      FROM scored
    )
    SELECT probe_id, probe_label, vec_id, round(cos, 6) AS cosine, rk
    FROM ranked WHERE rk <= 3
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per probe, the top-3
    most-similar vectors bearing a DIFFERENT class label — the negatives
    that actually move an embedding model. Same broadcast-probe exhaustive
    scan shape as ann_bruteforce_topk with the label-mismatch predicate
    fused into the join (filter runs before scoring, so excluded
    candidates are never dotted); the scale path swaps in the IVF/LSH
    candidate generation exactly as for plain ANN."""
    e = V.staged(spread(load(spark, sf_dir, "embeddings")), "embedding", "_e")
    probes = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("probe_label"),
        F.col("_e_v").alias("_p_v"), F.col("_e_n").alias("_p_n"),
    )
    cand = e.select("vec_id", "label", "_e_v", "_e_n")
    cos = V.cosine_pre("_p_v", "_p_n", "_e_v", "_e_n")
    scored = cand.join(
        F.broadcast(probes),
        (F.col("vec_id") != F.col("probe_id"))
        & (F.col("label") != F.col("probe_label")),
    ).select("probe_id", "probe_label", "vec_id", cos.alias("cos"))
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("probe_id", "probe_label", "vec_id", F.round("cos", 6).alias("cosine"), "rk")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics — the dead-dimension / variance-collapse
# audit run before committing an embedding space to an index: a dimension
# with near-zero variance carries no information (and an anisotropic space
# degrades cosine ANN recall). posexplode fans each vector into (dim, value)
# rows — embarrassingly parallel, one tiny 64-row reduction out. Values are
# quantized to integers BEFORE aggregation so the sums are order-independent
# and the derived mean/variance doubles hash identically cross-engine.
# ---------------------------------------------------------------------------


@register(
    "embedding_dim_variance",
    oracle=f"""
    WITH x AS (
        SELECT i.i AS dim,
               CAST(round(embedding[i.i]::DOUBLE * 1000000.0) AS BIGINT) AS q
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, {V.EMB_DIM})) AS i) i
    )
    SELECT dim,
           count(*) AS n_vecs,
           CAST(round(CAST(sum(q) AS DOUBLE) * 100.0 / count(*)) AS BIGINT)
               AS mean_e8,
           CAST(round((CAST(sum(q * q) AS DOUBLE) / count(*)
                       - (CAST(sum(q) AS DOUBLE) / count(*))
                         * (CAST(sum(q) AS DOUBLE) / count(*)))
                      / 10000.0) AS BIGINT) AS var_e8
    FROM x GROUP BY dim
    """,
)
def embedding_dim_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load(spark, sf_dir, "embeddings"))
    x = e.select(F.posexplode("embedding").alias("pos", "v")).select(
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("v").cast("double") * 1000000.0, 0)
        .cast("long")
        .alias("q"),
    )
    # Outputs are FIXED-POINT BIGINTs (value × 1e8): scaled round(x, k)
    # is engine-divergent near half boundaries (DuckDB multiplies the
    # binary double by 10^k then rounds; Spark rounds the exact decimal
    # expansion — a sf0.1 sweep caught a 1-digit flip), while
    # round-to-integer of an identically-computed double has no scaling
    # multiply and cannot diverge.
    n = F.count("*")
    sq = F.sum("q").cast("double")
    sq2 = F.sum(F.col("q") * F.col("q")).cast("double")
    return x.groupBy("dim").agg(
        n.alias("n_vecs"),
        F.round(sq * 100.0 / n, 0).cast("long").alias("mean_e8"),
        F.round((sq2 / n - (sq / n) * (sq / n)) / 10000.0, 0)
        .cast("long")
        .alias("var_e8"),
    )


# ---------------------------------------------------------------------------
# Pairwise cosine histogram — the separability profile of an embedding
# space: the similarity distribution of same-label pairs vs different-label
# pairs (overlapping humps = labels not linearly separable; a histogram
# over DETERMINISTIC consecutive-id pairs is an unbiased sample of the
# pair population at 1/n the cost of all-pairs). One co-partitioned
# equijoin on vec_id+1, cosine in whole-stage codegen, 40-bucket reduction.
# ---------------------------------------------------------------------------


@register(
    "embedding_cosine_histogram",
    oracle=f"""
    SELECT CAST(floor({V.COSINE_SQL('a.embedding', 'b.embedding')} * 20.0)
                AS BIGINT) AS bucket,
           CAST(a.label = b.label AS INT) AS same_label,
           count(*) AS n_pairs
    FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    GROUP BY 1, 2
    """,
)
def embedding_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load(spark, sf_dir, "embeddings"))
    a = e.select(
        F.col("vec_id"), F.col("label").alias("la"), F.col("embedding").alias("va")
    )
    b = e.select(
        (F.col("vec_id") - 1).alias("vec_id"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("vb"),
    )
    cos = V.cosine("va", "vb", V.EMB_DIM)
    return (
        a.join(b, "vec_id")
        .select(
            F.floor(cos * 20.0).alias("bucket"),
            (F.col("la") == F.col("lb")).cast("int").alias("same_label"),
        )
        .groupBy("bucket", "same_label")
        .agg(F.count("*").alias("n_pairs"))
    )


# ---------------------------------------------------------------------------
# Class scatter — per-label centroid compactness: mean per-dimension value
# (the centroid) and the mean squared distance of members to it, from ONE
# pass of integer-quantized per-dimension moments (Σx, Σx² per (label,
# dim) — within-class variance is exactly Σ per-dim variance, no second
# pass over the vectors). The k-NN-separability smell test for a labeled
# embedding space.
# ---------------------------------------------------------------------------


@register(
    "embedding_class_scatter",
    oracle=f"""
    WITH x AS (
        SELECT label, i.i AS dim,
               CAST(round(embedding[i.i]::DOUBLE * 1000000.0) AS BIGINT) AS q
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, {V.EMB_DIM})) AS i) i
    ),
    m AS (
        SELECT label, dim, count(*) AS n,
               CAST(sum(q) AS BIGINT) AS s1,
               CAST(sum(q * q) AS BIGINT) AS s2
        FROM x GROUP BY label, dim
    ),
    pd AS (
        -- per-dim doubles are re-quantized to integer q² units BEFORE the
        -- cross-dim sum: summing 64 doubles is order-dependent, summing
        -- 64 BIGINTs is not
        SELECT label, n,
               CAST(round(CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n)
                            * (CAST(s1 AS DOUBLE) / n)) AS BIGINT) AS var_q,
               CAST(round((CAST(s1 AS DOUBLE) / n)
                          * (CAST(s1 AS DOUBLE) / n)) AS BIGINT) AS msq_q
        FROM m
    )
    SELECT label,
           CAST(min(n) AS BIGINT) AS n_vecs,
           CAST(round(CAST(sum(var_q) AS DOUBLE) / 1000000.0) AS BIGINT)
               AS within_scatter_e6,
           CAST(round(CAST(sum(msq_q) AS DOUBLE) / 1000000.0) AS BIGINT)
               AS centroid_norm_sq_e6
    FROM pd GROUP BY label
    """,
)
def embedding_class_scatter(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load(spark, sf_dir, "embeddings"))
    x = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("v").cast("double") * 1000000.0, 0)
        .cast("long")
        .alias("q"),
    )
    m = x.groupBy("label", "dim").agg(
        F.count("*").alias("n"),
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = F.col("s2").cast("double") / F.col("n") - mean * mean
    pd = m.select(
        "label",
        "n",
        F.round(var, 0).cast("long").alias("var_q"),
        F.round(mean * mean, 0).cast("long").alias("msq_q"),
    )
    # fixed-point e6 outputs — scaled round(x, k) is engine-divergent
    # near half boundaries; round-to-integer is not (see
    # embedding_dim_variance)
    return pd.groupBy("label").agg(
        F.min("n").alias("n_vecs"),
        F.round(F.sum("var_q").cast("double") / 1000000.0, 0)
        .cast("long")
        .alias("within_scatter_e6"),
        F.round(F.sum("msq_q").cast("double") / 1000000.0, 0)
        .cast("long")
        .alias("centroid_norm_sq_e6"),
    )


# ---------------------------------------------------------------------------
# LSH bucket occupancy — the skew audit run BEFORE trusting bucketed ANN at
# scale: sign-pattern bucket sizes histogrammed (an overloaded bucket means
# one join partition does all the cosine work; near-empty buckets mean
# recall loss). Two tiny reductions over the corpus scan.
# ---------------------------------------------------------------------------


@register(
    "lsh_bucket_occupancy",
    oracle=f"""
    WITH b AS (
        SELECT {V.SIGN_BUCKET_SQL('embedding')} AS bucket FROM embeddings
    ),
    occ AS (
        SELECT bucket, count(*) AS n_vecs FROM b GROUP BY bucket
    )
    SELECT n_vecs, count(*) AS n_buckets
    FROM occ GROUP BY n_vecs
    """,
)
def lsh_bucket_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load(spark, sf_dir, "embeddings"))
    occ = e.select(V.sign_bucket(F.col("embedding")).alias("bucket")).groupBy(
        "bucket"
    ).agg(F.count("*").alias("n_vecs"))
    return occ.groupBy("n_vecs").agg(F.count("*").alias("n_buckets"))


# ---------------------------------------------------------------------------
# Label balance + class weights — the imbalance audit and the
# inverse-frequency weight table a training run consumes (weights
# normalized so the mean weight is 1). Everything derives from one count
# reduction; the weights are single rationals of exact integers.
# ---------------------------------------------------------------------------


@register(
    "label_balance_weights",
    oracle="""
    WITH c AS (
        SELECT label, count(*) AS n FROM embeddings GROUP BY label
    ),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS total,
                 CAST(count(*) AS BIGINT) AS k FROM c)
    SELECT c.label, c.n,
           round(CAST(c.n AS DOUBLE) / t.total, 6) AS share,
           round(CAST(t.total AS DOUBLE) / (t.k * c.n), 6) AS class_weight
    FROM c CROSS JOIN t
    """,
)
def label_balance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    c = e.groupBy("label").agg(F.count("*").alias("n"))
    t = c.agg(
        F.sum("n").alias("total"), F.count("*").alias("k")
    )
    return c.crossJoin(F.broadcast(t)).select(
        "label",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
        F.round(
            F.col("total").cast("double") / (F.col("k") * F.col("n")), 6
        ).alias("class_weight"),
    )


# ---------------------------------------------------------------------------
# Top eigenvalue by power iteration — dominant principal direction of the
# embedding second-moment matrix, computed ENTIRELY as relational algebra
# (the anisotropy audit behind embedding whitening: one direction hogging
# the spectrum degrades cosine ANN). Shape: one pass builds the 64×64
# moment matrix as (i, j, m) rows (pair-explode keyed on vec_id — never
# corpus×corpus); three matrix-vector multiplies are tiny joins on the
# 4096-row matrix frame. Cross-engine exactness: elements quantize to
# integers BEFORE every sum, iterates rescale by floor division, and every
# matrix-vector product AND the final Rayleigh quotient accumulate in
# DECIMAL(38,0) (HUGEINT in DuckDB — r6 advice: the iterates grow ~O(N²)
# so BIGINT wrapped silently at scale) so the single closing division is
# the only float op.
# ---------------------------------------------------------------------------


def eigen_gram_lazy(e: DataFrame) -> DataFrame:
    """embedding_top_eigen_power's d²-moment (Gram) matrix plan: the
    Arrow partial-Gram map feeding an (i, j)-keyed sum, collected by the
    query. Output: (i, j, m) with the same quantization/floor semantics
    as the r12 exploded-self-join form."""
    from ..functions.similarity_arrow import int_gram_partials_arrow

    q = e.select(
        F.transform(
            F.col("embedding"),
            lambda v: F.round(v.cast("double") * 1000.0, 0).cast("long"),
        ).alias("_q")
    )
    return (
        int_gram_partials_arrow(q, "_q")
        .groupBy("i", "j")
        .agg(
            # floor-of-double on BOTH engines: integer `div` truncates
            # toward zero while DuckDB's `//` floors — they disagree on
            # negative off-diagonal moments. The sum is < 2^53, so the
            # double division is exact enough for a deterministic floor.
            F.floor(F.sum("m_part") / 1000.0).cast("long").alias("m")
        )
    )


@register(
    "embedding_top_eigen_power",
    oracle=f"""
    WITH x AS (
        SELECT vec_id, i.i AS i,
               CAST(round(embedding[i.i]::DOUBLE * 1000.0) AS BIGINT) AS q
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(1, {V.EMB_DIM})) AS i) i
    ),
    c AS (
        SELECT a.i AS i, b.i AS j,
               CAST(floor(CAST(sum(a.q * b.q) AS DOUBLE) / 1000.0)
                    AS BIGINT) AS m
        FROM x a JOIN x b USING (vec_id)
        GROUP BY a.i, b.i
    ),
    v1 AS (SELECT i, CAST(sum(m) AS BIGINT) AS v FROM c GROUP BY i),
    v2 AS (
        SELECT c.i, CAST(sum(CAST(c.m AS HUGEINT) * v1.v) AS HUGEINT) AS v
        FROM c JOIN v1 ON v1.i = c.j GROUP BY c.i
    ),
    v2s AS (
        SELECT i, CAST(floor(CAST(v AS DOUBLE) / 1000000.0) AS BIGINT) AS v
        FROM v2
    ),
    v3 AS (
        SELECT c.i, CAST(sum(CAST(c.m AS HUGEINT) * v2s.v) AS HUGEINT) AS v
        FROM c JOIN v2s ON v2s.i = c.j GROUP BY c.i
    ),
    ray AS (
        SELECT CAST(sum(v3.v * v2s.v) AS HUGEINT) AS num,
               CAST(sum(v2s.v * v2s.v) AS HUGEINT) AS den
        FROM v3 JOIN v2s USING (i)
    )
    SELECT round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 1000000.0, 4)
               AS top_eigen_m,
           (SELECT CAST(count(*) AS BIGINT) FROM v3 WHERE abs(v) >=
               (SELECT max(abs(v)) FROM v3) / 2) AS n_dominant_dims
    FROM ray
    """,
)
def embedding_top_eigen_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spread(load(spark, sf_dir, "embeddings"))
    # r13 opt (guide §2.3/§4.2): the d²-moment (Gram) matrix used to be an
    # exploded self-join — n·d² join rows through codegen, 19 s of
    # executor CPU at sf0.1 for a 64×64 result. int_gram_partials_arrow
    # computes one exact int64 Xᵀ@X per partition and ships d² partial
    # rows per partition instead (map-side combine; integer sums are
    # order-free, and numpy int64 wraps exactly like the JVM long sum it
    # replaces, so the summed matrix is bit-identical — oracle re-verified
    # at sf0.001/0.01/0.1). The quantization expression is unchanged.
    #
    # r14: the gram matrix is DIMENSION-bound — exactly d² = 64×64 rows at
    # ANY corpus size — so the three matrix-vector passes and the Rayleigh
    # quotient run on the driver over one bounded collect (the MLlib
    # pattern: RowMatrix.computePrincipalComponents collects the Gram and
    # does local linear algebra). This replaces the former pin + five
    # join/agg stage pairs with ONE job; _eigen_power_local replicates the
    # distributed expressions' arithmetic EXACTLY (JVM-long wrap for the
    # long sums/products, exact ints for the decimal(38,0) accumulations
    # with a loud overflow raise at 1e38, IEEE double conversions for the
    # floor rescales, HALF_UP for the final round) — pinned by
    # tests/test_similarity_arrow.py::test_eigen_power_local_matches_spark_form.
    rows = eigen_gram_lazy(e).collect()
    top_eigen_m, n_dom = _eigen_power_local([(r.i, r.j, r.m) for r in rows])
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    schema = StructType(
        [
            StructField("top_eigen_m", DoubleType(), True),
            StructField("n_dominant_dims", LongType(), True),
        ]
    )
    return spark.createDataFrame([(top_eigen_m, n_dom)], schema)


def _eigen_power_local(entries: list[tuple]) -> tuple:
    """Driver-side replica of the former distributed power-iteration tail
    over the collected (i, j, m) gram rows — arithmetic matched op-for-op
    to the Spark expressions it replaces (see the callsite comment):

    - v1 = sum of LONG m per row → under ANSI (the Spark 4 session
      default) a long-sum overflow RAISES — replicated with a loud
      int64-bound check;
    - v2/v3 = Σ m·v in DECIMAL(38,0) → exact ints, loud raise at 1e38
      (ANSI Spark and DuckDB both raise there — never silent);
    - v2s = floor(double(v)/1e6) → float(int) is the same correctly-
      rounded IEEE conversion as Spark's DECIMAL→DOUBLE cast;
    - den terms (v2s*v2s) are LONG products in Spark (cast to decimal
      AFTER the multiply) → ANSI raises on overflow, replicated;
    - dominant-dim test |v| >= max|v|/2 ⇔ 2|v| >= max (mx/2 is exact in
      Spark's decimal division, so the integer form is equivalent);
    - final round(…, 4) → HALF_UP on the shortest repr, Spark's round.
    """
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def chk64(x: int) -> int:
        if not (-(2**63) <= x < 2**63):
            raise ArithmeticError(
                "ARITHMETIC_OVERFLOW parity: long overflow in eigen power "
                "iteration (the ANSI Spark form raises here)"
            )
        return x

    def chk38(x: int) -> int:
        if abs(x) >= 10**38:
            raise ArithmeticError(
                "decimal(38,0) overflow in eigen power iteration (parity "
                "with the Spark/DuckDB loud-fail)"
            )
        return x

    if not entries:
        return None, 0
    M: dict = {}
    dims: set = set()
    for i, j, m in entries:
        M[(i, j)] = m
        dims.add(i)
        dims.add(j)
    ds = sorted(dims)
    v1 = {
        i: chk64(sum(M.get((i, j), 0) for j in ds)) for i in ds
    }
    v2 = {
        i: chk38(sum(M.get((i, j), 0) * v1[j] for j in ds)) for i in ds
    }
    v2s = {i: int(math.floor(float(v2[i]) / 1000000.0)) for i in ds}
    v3 = {
        i: chk38(sum(M.get((i, j), 0) * v2s[j] for j in ds)) for i in ds
    }
    num = chk38(sum(v3[i] * v2s[i] for i in ds))
    den = chk38(sum(chk64(v2s[i] * v2s[i]) for i in ds))
    mx = max(abs(v) for v in v3.values())
    n_dom = sum(1 for v in v3.values() if 2 * abs(v) >= mx)
    if den == 0:
        # parity with the distributed form under ANSI mode (Spark 4
        # default): the num/den double division raises DIVIDE_BY_ZERO on
        # a degenerate (all-zero projection) gram — verified in the test
        raise ArithmeticError(
            "eigen power iteration: zero Rayleigh denominator "
            "(DIVIDE_BY_ZERO parity with the ANSI Spark form)"
        )
    q = float(num) / float(den) / 1000000.0
    if math.isnan(q) or math.isinf(q):
        return q, n_dom
    top = float(
        Decimal(repr(q)).quantize(Decimal("1e-4"), rounding=ROUND_HALF_UP)
    )
    return top, n_dom
