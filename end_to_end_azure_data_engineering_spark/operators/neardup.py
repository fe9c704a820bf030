"""Near-duplicate detection + corpus dedup as a reusable operator API.

The query layer (queries/dedup_ops.py) exposes these same pipelines for the
driver's oracle gate; this module is the surface an engine user calls:

    pairs  = near_dup_pairs(docs, "doc_id", "text", threshold=0.8)
    labels = assign_components(pairs)
    clean  = dedup_corpus(docs, "doc_id", "text", threshold=0.8)

Scale shape (same as the verified queries): shingle/minhash are per-row
maps; candidate generation shuffles on the LSH band key only (collision-
bound, never corpus²); verification joins run on doc_id; clustering is
min-label propagation with checkpointed lineage; the final dedup is a
left-semi join on the canonical survivors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import sketches as S
from .dedup import connected_components
from ..engine.pin import pin as _pin, release_checkpoints  # re-exported


def near_dup_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Verified near-duplicate pairs (id_a < id_b, exact shingle-Jaccard ≥
    threshold) via MinHash+LSH banding. Columns: id_a, id_b, jaccard.

    EAGER: calling this runs the full shingle/LSH job immediately (the
    returned frame is a ``localCheckpoint`` of the verified pairs, not a
    lazy plan) — the price of releasing the corpus-sized shingle cache
    deterministically instead of leaking it per call. The checkpointed
    pair blocks (collision-bound, small) live until the returned DataFrame
    is garbage-collected; callers holding many pair frames long-term should
    ``unpersist()`` each when done with it.
    """
    sig = sign_corpus(docs, id_col, text_col).persist()
    pairs = (
        pairs_from_signatures(sig, threshold, bucket_cap=bucket_cap)
        # materialize the (collision-bound, small) verified pairs, then
        # RELEASE the corpus-sized shingle cache deterministically: leaving
        # it persisted leaked one corpus of shingle arrays per call, and the
        # accumulated block-manager pressure progressively slowed every
        # later query in a long-lived session (2.5x run-to-run variance on
        # the downstream connected-components measured before this fix).
        .transform(_pin)
    )
    sig.unpersist()
    return pairs


def sign_corpus(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Signature frame (_id, sh, mh) for a corpus — the standing artifact
    incremental mining reads instead of re-shingling history."""
    staged = S.staged_word_shingles(
        docs.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text")),
        "_text",
    ).drop("_text")
    return staged.withColumn("mh", S.minhash_signature(F.col("sh")))


def _bands(sig: DataFrame) -> DataFrame:
    """(_id, band) rows: one per LSH band of each signature. explode_outer
    per the PLANS.md rule-5 guard: band arrays are always length BANDS,
    and a plain explode's inferred size() filter would re-run the minhash
    kernel per row."""
    return sig.select(
        "_id", F.explode_outer(S.band_signatures(F.col("mh"))).alias("band")
    )


def _with_shingles(cands: DataFrame, sh: DataFrame) -> DataFrame:
    """The verify join: candidate pairs (id_a, id_b) joined to both
    endpoints' shingle arrays (sh_a, sh_b) from an (_id, sh) frame, for
    the caller to score and filter."""
    return cands.join(
        sh.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
    ).join(sh.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")


def _split_hot_buckets(
    bands: DataFrame, bucket_cap: int | None
) -> tuple[DataFrame, DataFrame | None]:
    """Split (_id, band) rows by bucket occupancy against ``bucket_cap``.
    Returns (cold, hot): ``cold`` keeps (_id, band) for buckets at or
    under the cap (safe for the B² self-join); ``hot`` carries
    (_id, band, _hub) for over-cap buckets, ``_hub`` = the bucket's
    min-id star center. ``bucket_cap=None`` → (bands, None). Costs one
    extra shuffle on the band key (the downstream candidate joins shuffle
    on it anyway). This is the ONE implementation of the cap split,
    shared by the self-join and batch candidate paths so a cap-logic
    change cannot diverge between them (r12 verdict: the two inline
    copies this replaces)."""
    if bucket_cap is None:
        return bands, None
    occ = bands.groupBy("band").agg(
        F.count("*").alias("_n"), F.min("_id").alias("_hub")
    )
    joined = bands.join(occ, "band")
    hot = joined.filter(F.col("_n") > bucket_cap).select("_id", "band", "_hub")
    cold = joined.filter(F.col("_n") <= bucket_cap).select("_id", "band")
    return cold, hot


def _star_edges(hot: DataFrame) -> DataFrame:
    """Hub-star candidate edges (id_a < id_b) from hot-bucket rows
    carrying (_id, _hub): each member pairs only with its bucket's hub —
    O(B) edges per bucket instead of B²."""
    return hot.filter(F.col("_id") != F.col("_hub")).select(
        F.least("_id", "_hub").alias("id_a"),
        F.greatest("_id", "_hub").alias("id_b"),
    )


def _self_join_candidates(bands: DataFrame, bucket_cap: int | None) -> DataFrame:
    """Distinct candidate pairs (id_a < id_b) from (_id, band) rows via
    the band self-join — the ONE implementation shared by the one-shot
    miner (pairs_from_signatures), the sharded miner
    (near_dup_pairs_sharded) and containment_pairs, so their candidate
    semantics cannot diverge. ``bucket_cap`` switches over-cap buckets to STAR candidates
    (see pairs_from_signatures' docstring for the recall trade); band
    keys never cross sharded passes, so per-pass bucket occupancy equals
    whole-corpus occupancy and the cap behaves identically in both
    callers."""
    bands, hot = _split_hot_buckets(bands, bucket_cap)
    cands = (
        bands.select(F.col("_id").alias("id_a"), "band")
        .join(bands.select(F.col("_id").alias("id_b"), "band"), "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    if hot is not None:
        cands = cands.unionByName(_star_edges(hot))
    return cands.distinct()


def pairs_from_signatures(
    sig: DataFrame,
    threshold: float,
    batch_ids: DataFrame | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Verified near-dup pairs (id_a < id_b, jaccard >= threshold) mined
    from a PRECOMPUTED signature frame (_id, sh, mh) — the single mining
    implementation behind near_dup_pairs_against and the streaming dedup
    sink, so the batch and streaming paths cannot diverge. With
    ``batch_ids`` (a 1-column ``_id`` frame), one join side is restricted
    to the batch: O(batch x collisions) candidates, old-old pairs never
    examined. Lazy — callers materialize (localCheckpoint) and release
    their own signature persists.

    ``bucket_cap`` bounds hot-bucket blowup: a band bucket holding B docs
    yields B² candidates from the self-join (B x batch from the batch
    form) — on a boilerplate-heavy corpus one hot bucket can dominate the
    whole mine. Buckets over the cap switch to STAR candidates: each
    member pairs only with the bucket's min-id hub (O(B) edges). For the
    dedup use (pairs → connected components → survivors) a true duplicate
    cluster stays connected through its hub, since every member verifies
    against it; what the star form can miss is a hub-dissimilar CHAIN
    inside one hot bucket whose links other bands also miss — the
    standard recall trade every capped-LSH deployment makes. Default
    ``None`` = exact B² mining (the oracle-verified query form)."""
    bands = _bands(sig)
    if batch_ids is None:
        cands = _self_join_candidates(bands, bucket_cap)
    else:
        bands, hot = _split_hot_buckets(bands, bucket_cap)
        cands = (
            bands.join(batch_ids, "_id")
            .select(F.col("_id").alias("bid"), "band")
            .join(bands.select(F.col("_id").alias("cid"), "band"), "band")
            .filter(F.col("bid") != F.col("cid"))
            .select(
                F.least("bid", "cid").alias("id_a"),
                F.greatest("bid", "cid").alias("id_b"),
            )
        )
        if hot is not None:
            cands = cands.unionByName(_star_edges(hot.join(batch_ids, "_id")))
        cands = cands.distinct()
    jac = S.jaccard(F.col("sh_a"), F.col("sh_b"))
    return (
        _with_shingles(cands, sig)
        .filter(jac >= threshold)
        .select("id_a", "id_b", jac.alias("jaccard"))
    )


def near_dup_pairs_against(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Verified near-dup pairs with AT LEAST ONE endpoint in ``batch``
    (columns id_a < id_b, jaccard) — the incremental-ingest mining path:
    candidate generation joins the BATCH's band rows against the corpus's
    band rows, so the pair space explored is O(batch x collisions), never
    corpus x corpus, and old-old pairs are never re-examined. In
    production the corpus-side signature frame is the standing table
    maintained by ingestion (see streaming.ingest.dedup_stream_sink);
    this self-contained form recomputes it from ``corpus`` (one pass).
    ``batch`` rows must also be present in ``corpus`` (so batch-batch
    pairs verify). Same eager/unpersist contract as near_dup_pairs."""
    sig = sign_corpus(corpus, id_col, text_col).persist()
    batch_ids = batch.select(F.col(id_col).alias("_id")).distinct()
    pairs = pairs_from_signatures(
        sig, threshold, batch_ids, bucket_cap=bucket_cap
    ).transform(_pin)
    sig.unpersist()
    return pairs


def near_dup_pairs_sharded(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    band_passes: int = 2,
    work_dir: str | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """``near_dup_pairs`` under a DISK BUDGET: identical output (same
    candidates, same verification, same columns id_a/id_b/jaccard —
    asserted pair-for-pair by tests/test_dedup_guards.py), restructured
    so the corpus-sized intermediates never coexist. The one-shot miner
    persists the full (_id, sh, mh) signature frame — shingle arrays for
    EVERY document — which is what broke the 100M-doc ladder row on a
    single 94 GB-ceiling VM (SCALING.md r11: the signature persist alone
    drove disk past the ceiling). This form:

    1. writes (_id, mh) ONLY to parquet — one streamed shingle+minhash
       scan, no corpus persist, ~K x 8 bytes/doc (the shingles, the
       dominant term, are never materialized corpus-wide);
    2. mines candidates in ``band_passes`` DISJOINT passes over the LSH
       bands (pass p explodes only bands i ≡ p mod band_passes), so at
       most 1/band_passes of the band rows and their shuffle files exist
       at once — each pass's distinct pairs append to a parquet spool;
    3. verifies ONCE: re-shingles only the docs that appear in some
       candidate pair (left-semi pushdown on the corpus scan) — the
       collision-bound set, never the corpus.

    The trade is wall-clock for disk: the mh parquet is scanned
    ``band_passes`` times (cheap — hashes, not text) and candidate-doc
    texts are shingled a second time (collision-bound). On a real
    cluster executor-local disks absorb the one-shot form's spill and
    this form is how one node with bounded scratch still gets the exact
    answer. Same eager/unpersist contract as near_dup_pairs: the
    returned frame is pinned, the workspace is deleted before return
    (pass ``work_dir`` to keep/inspect it; it is then the caller's to
    clean)."""
    import shutil
    import tempfile
    from pathlib import Path

    if not 1 <= band_passes <= S.BANDS:
        raise ValueError(
            f"band_passes must be in [1, {S.BANDS}] (got {band_passes}): "
            "each pass must own at least one whole band"
        )
    spark = docs.sparkSession
    cleanup = work_dir is None
    work = Path(tempfile.mkdtemp(prefix="neardup_shard_")) if cleanup else Path(work_dir)
    mh_path = str(work / "mh")
    cand_path = str(work / "cands")
    try:
        sign_corpus(docs, id_col, text_col).select("_id", "mh").write.mode(
            "overwrite"
        ).parquet(mh_path)
        for p in range(band_passes):
            grp = tuple(i for i in range(S.BANDS) if i % band_passes == p)
            bands = (
                spark.read.parquet(mh_path)
                # explode_outer per the PLANS.md rule-5 guard (the subset
                # array is always length |grp|, and a plain explode's
                # inferred size() filter would re-read mh per row)
                .select(
                    "_id",
                    F.explode_outer(
                        S.band_signatures_subset(F.col("mh"), grp)
                    ).alias("band"),
                )
            )
            _self_join_candidates(bands, bucket_cap).write.mode(
                "overwrite" if p == 0 else "append"
            ).parquet(cand_path)
            # release this pass's shuffle files before the next starts:
            # the ContextCleaner lags with a large heap, and the whole
            # point of sharding is that pass p+1's disk high-water does
            # not stack on pass p's
            try:
                spark.sparkContext._jvm.System.gc()
            except Exception:  # noqa: BLE001 — GC nudge is best-effort
                pass
        # distinct across passes: a pair two bands agree on appears in
        # two spool files when those bands ride different passes
        cand = spark.read.parquet(cand_path).distinct()
        ids = (
            cand.select(F.col("id_a").alias("_id"))
            .unionByName(cand.select(F.col("id_b").alias("_id")))
            .distinct()
        )
        sub = docs.select(
            F.col(id_col).alias("_id"), F.col(text_col).alias("_text")
        ).join(ids, "_id", "left_semi")
        sh = S.staged_word_shingles(sub, "_text").drop("_text").persist()
        jac = S.jaccard(F.col("sh_a"), F.col("sh_b"))
        pairs = (
            _with_shingles(cand, sh)
            .filter(jac >= threshold)
            .select("id_a", "id_b", jac.alias("jaccard"))
            .transform(_pin)
        )
        sh.unpersist()
        return pairs
    finally:
        if cleanup:
            shutil.rmtree(work, ignore_errors=True)


def containment_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Candidate pairs scored by ASYMMETRIC containment (|A∩B|/|A| and
    |A∩B|/|B|), kept when either direction ≥ threshold — catches a short
    document quoted inside a long one, which Jaccard dilutes below any
    usable threshold. Candidates come from the same minhash-LSH banding as
    near_dup_pairs (collision-bound, never corpus²); note the standard
    caveat that Jaccard-tuned bands under-recall extreme small-in-large
    pairs — a dedicated containment index (prefix filtering) is the
    specialist alternative at 100 TB. Same eager/unpersist contract as
    near_dup_pairs."""
    sig = sign_corpus(docs, id_col, text_col).persist()
    cands = _self_join_candidates(_bands(sig), None)
    c_ab = S.containment(F.col("sh_a"), F.col("sh_b"))
    c_ba = S.containment(F.col("sh_b"), F.col("sh_a"))
    pairs = (
        _with_shingles(cands, sig)
        .withColumn("c_ab", c_ab)
        .withColumn("c_ba", c_ba)
        .filter((F.col("c_ab") >= threshold) | (F.col("c_ba") >= threshold))
        .select("id_a", "id_b", "c_ab", "c_ba")
        .transform(_pin)
    )
    sig.unpersist()
    return pairs


def assign_components(pairs: DataFrame) -> DataFrame:
    """Cluster verified pairs into components. Columns: node, label
    (label = min id in the component = the canonical survivor)."""
    return connected_components(pairs, "id_a", "id_b")


def dedup_corpus(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    bucket_cap: int | None = None,
    band_passes: int | None = None,
) -> DataFrame:
    """Return docs minus non-canonical near-duplicates: for every duplicate
    cluster the min-id doc survives; docs in no cluster pass through.
    One anti-join against the (small) non-survivor set. ``bucket_cap``
    passes through to the miner (hot-bucket star candidates — the 100 TB
    setting; survivors only need component connectivity, which the star
    form preserves for true duplicate clusters). ``band_passes`` routes
    mining through the DISK-BUDGET sharded miner (near_dup_pairs_sharded
    — identical pairs, bounded scratch; the setting that fit the
    100M-doc row under this sandbox's disk ceiling, SCALING.md r12);
    None keeps the one-shot miner."""
    if band_passes is not None:
        pairs = near_dup_pairs_sharded(
            docs,
            id_col,
            text_col,
            threshold,
            band_passes=band_passes,
            bucket_cap=bucket_cap,
        )
    else:
        pairs = near_dup_pairs(docs, id_col, text_col, threshold, bucket_cap=bucket_cap)
    comp = assign_components(pairs)
    # the components no longer read the pair pin (the local route returns
    # a driver-built frame, the distributed one its own labels pin)
    release_checkpoints(pairs)
    losers = comp.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")
