"""Deduplication queries over documents — exact, MinHash+LSH, SimHash,
n-gram Jaccard (the training-data dedup suite from BASELINE.json).

Scale architecture (per-query details in docstrings): sketches are per-row
maps (no shuffle); candidate generation always goes through a bucket key
(fingerprint, LSH band, simhash) and shuffles on it; exact verification
runs only within buckets. Nothing here is O(n²) in the corpus — except the
explicitly-bounded ground-truth evals (`dedup_simhash_pairs`,
`dedup_ngram_jaccard`, `lsh_recall_eval`'s truth set), which exist as the
small-scope exact baselines for the LSH path and are guarded by
``assert_bounded_slice`` (raise, don't launch, past EXACT_EVAL_MAX_ROWS).

Oracles are generated from the same constants (functions/sketches.py) as
the Spark plans, so both sides compute identical hashes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import sketches as S
from ..functions import text as X
from . import load, register, spread
from ..engine.pin import pin as _pin, release_checkpoints

# Hard ceiling for the deliberately-bounded all-pairs ground-truth evals
# below. 50k rows is the outer limit of a sane exact-eval slice: the pair
# space is ~1.25e9 comparisons — a deliberate, hours-long ground-truth job
# on a cluster, and the last point where "exact baseline" is a defensible
# plan. Past it you are no longer evaluating the LSH path, you are
# accidentally re-implementing it as a cartesian product, so we fail fast
# instead of launching a corpus² join.
EXACT_EVAL_MAX_ROWS = 50_000


def assert_bounded_slice(df: DataFrame, what: str, cap: int | None = None) -> DataFrame:
    """Guard an all-pairs self-join input: raise before the quadratic join
    can be launched if the slice exceeds the documented cap.

    Costs one `limit(cap+1).count()` job — it short-circuits as soon as
    cap+1 rows exist, so the guard itself is O(cap), never O(corpus).
    """
    if cap is None:
        cap = EXACT_EVAL_MAX_ROWS
    n = df.limit(cap + 1).count()
    if n > cap:
        raise ValueError(
            f"{what}: slice has >{cap} rows; the all-pairs ground-truth eval "
            f"is quadratic and capped at {cap} rows by design. Use the "
            "LSH/banding path (dedup_minhash_lsh / dedup_simhash banding) "
            "for corpora beyond the eval cap."
        )
    return df


@register(
    "dedup_exact",
    oracle=f"""
    WITH fps AS (
      SELECT doc_id, {X.FINGERPRINT_SQL('text')} AS fp FROM documents
    )
    SELECT fp, min(doc_id) AS canonical_doc_id, count(*) AS n_copies
    FROM fps GROUP BY fp
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the normalized-content fingerprint;
    canonical survivor = min doc_id. One shuffle on the 128-bit fp — the
    standard exact-dedup shape at any scale."""
    d = spread(load(spark, sf_dir, "documents"))
    return (
        d.select("doc_id", X.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("canonical_doc_id"), F.count("*").alias("n_copies"))
    )


_SHINGLES_SQL = S.WORD_SHINGLES_SQL("text")
_MH_SQL = S.MINHASH_SIGNATURE_SQL("sh")


#: shared by the one-shot and sharded miner registrations — the two
#: Spark paths are pair-for-pair identical by construction
#: (operators/neardup._self_join_candidates) and by test
#: (tests/test_dedup_guards.py), so they verify against ONE oracle
_MINHASH_LSH_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    mh AS (
      SELECT doc_id, sh, {_MH_SQL} AS mh FROM sh
    ),
    bands AS (
      SELECT doc_id, unnest({S.BAND_SIGNATURES_SQL('mh')}) AS band FROM mh
    ),
    cands AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band = b2.band AND b1.doc_id < b2.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round({S.JACCARD_SQL('sa.sh', 'sb.sh')}, 6) AS jaccard
    FROM cands c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE {S.JACCARD_SQL('sa.sh', 'sb.sh')} >= 0.2
    """


@register("dedup_minhash_lsh", oracle=_MINHASH_LSH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: shingle → K=16 minhash → 4 LSH bands →
    bucket-join candidates → exact-Jaccard verify within buckets.

    Shuffle profile: one explode to BANDS rows/doc, one shuffle on the band
    key for the self-join, verification joins on doc_id. Candidate volume
    scales with collisions, not corpus²."""
    from ..operators.neardup import near_dup_pairs

    d = spread(load(spark, sf_dir, "documents"))
    # near_dup_pairs persists the shingle frame internally: the plan
    # references it from three branches (banding + both verification join
    # sides). At 100 TB that frame is a materialized signatures table,
    # partitioned by band.
    return near_dup_pairs(d, "doc_id", "text", threshold=0.2).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register("dedup_minhash_lsh_sharded", oracle=_MINHASH_LSH_ORACLE)
def dedup_minhash_lsh_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DISK-BUDGET form of dedup_minhash_lsh, hash-verified against
    the SAME oracle (r12, verdict item 2): mining runs in two disjoint
    LSH-band passes over a minhash-only parquet spool and verification
    re-shingles only candidate-pair docs — the restructuring that fit
    the 100M-doc ladder row under this sandbox's 94 GB disk ceiling
    (SCALING.md r12: 3,285.7 s, 999,476 pairs, 46 GB high-water). Same
    verified pairs as the one-shot miner by construction (shared
    candidate generation) and by pair-for-pair test; this registration
    makes the driver's oracle gate check the sharded path itself."""
    from ..operators.neardup import near_dup_pairs_sharded

    d = spread(load(spark, sf_dir, "documents"))
    return near_dup_pairs_sharded(
        d, "doc_id", "text", threshold=0.2, band_passes=2
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


#: cap=1: EVERY multi-doc LSH bucket degrades to hub-star candidates —
#: the most stringent form of the split. Differential bite by SF:
#: documents' dup structure at sf0.01 closes every candidate through a
#: hub (capped set == exact set there, so the driver's sf0.01 gate
#: checks that the occupancy/split/star plumbing produces the RIGHT
#: pairs), while at sf0.1 the star form genuinely drops 11 of 256
#: candidates — the repo's own sf0.1 oracle sweep (COVERAGE.md policy)
#: verifies both engines agree on WHICH pairs survive the cap
_CAPPED_CAP = 1

_MINHASH_LSH_CAPPED_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    mh AS (
      SELECT doc_id, sh, {_MH_SQL} AS mh FROM sh
    ),
    bands AS (
      SELECT doc_id, unnest({S.BAND_SIGNATURES_SQL('mh')}) AS band FROM mh
    ),
    occ AS (
      SELECT band, count(*) AS n, min(doc_id) AS hub
      FROM bands GROUP BY band
    ),
    cold AS (
      SELECT b.doc_id, b.band FROM bands b JOIN occ USING (band)
      WHERE occ.n <= {_CAPPED_CAP}
    ),
    hot AS (
      SELECT b.doc_id, o.hub FROM bands b JOIN occ o USING (band)
      WHERE o.n > {_CAPPED_CAP}
    ),
    cands AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT b1.doc_id AS doc_a, b2.doc_id AS doc_b
        FROM cold b1 JOIN cold b2
          ON b1.band = b2.band AND b1.doc_id < b2.doc_id
        UNION ALL
        SELECT least(doc_id, hub) AS doc_a, greatest(doc_id, hub) AS doc_b
        FROM hot WHERE doc_id <> hub
      )
    )
    SELECT c.doc_a, c.doc_b,
           round({S.JACCARD_SQL('sa.sh', 'sb.sh')}, 6) AS jaccard
    FROM cands c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE {S.JACCARD_SQL('sa.sh', 'sb.sh')} >= 0.2
    """


@register("dedup_minhash_lsh_capped", oracle=_MINHASH_LSH_CAPPED_ORACLE)
def dedup_minhash_lsh_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_minhash_lsh under a BINDING hot-bucket cap, hash-verified
    (r13, companion to the measured recall trade in SCALING.md): buckets
    over {_CAPPED_CAP} docs emit hub-star candidates (member × min-id
    hub) instead of the B² self-join — operators/neardup.
    _split_hot_buckets / _star_edges, the exact 100 TB boilerplate
    defense the streaming sink ships with (SIG_HOT_BUCKET_CAP). The
    oracle replays the occupancy split and star construction itself; at
    sf0.1 the capped pair set genuinely differs from dedup_minhash_lsh's
    (245 vs 256 candidates) and both engines must agree on WHICH pairs
    survive — see the _CAPPED_CAP note for the per-SF differential
    bite. Shuffle profile: the exact miner's plus one occupancy agg on
    the band key the candidate join already shuffles on."""
    from ..operators.neardup import near_dup_pairs

    d = spread(load(spark, sf_dir, "documents"))
    return near_dup_pairs(
        d, "doc_id", "text", threshold=0.2, bucket_cap=_CAPPED_CAP
    ).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("jaccard", 6).alias("jaccard"),
    )


@register(
    "dedup_simhash",
    oracle=f"""
    SELECT doc_id, {S.SIMHASH_SQL('text')} AS simhash
    FROM documents
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 32-bit SimHash signature (token-hash bit voting). Near-dup
    candidates at scale come from banding the signature bits (same LSH
    shape as minhash); signature computation is a pure per-row map."""
    d = spread(load(spark, sf_dir, "documents"))
    return d.select("doc_id", S.simhash("text").alias("simhash"))


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH sigs AS (
      SELECT doc_id, {S.SIMHASH_SQL('text')} AS simhash
      FROM documents WHERE lang = 'de'
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {S.HAMMING32_SQL('a.simhash', 'b.simhash')} AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE {S.HAMMING32_SQL('a.simhash', 'b.simhash')} <= 8
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming-distance near-dup pairs on a bounded slice (the exact
    baseline; the scale path is bit-band bucketing per dedup_simhash).
    The slice is guarded: >EXACT_EVAL_MAX_ROWS rows raises instead of
    launching the quadratic join."""
    d = spread(load(spark, sf_dir, "documents").filter(F.col("lang") == "de"))
    assert_bounded_slice(d, "dedup_simhash_pairs")
    sigs = d.select("doc_id", S.simhash("text").alias("simhash"))
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sim_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sim_b"))
    ham = S.hamming32(F.col("sim_a"), F.col("sim_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(ham <= 8)
        .select("doc_a", "doc_b", ham.alias("hamming"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(string_split_regex(trim(lower(text)), '\\s+')) AS tk
      FROM documents WHERE lang = 'de'
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round({S.JACCARD_SQL('a.tk', 'b.tk')}, 6) AS jaccard
    FROM toks a JOIN toks b ON a.doc_id < b.doc_id
    WHERE {S.JACCARD_SQL('a.tk', 'b.tk')} >= 0.4
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard near-dup on a bounded slice — the exact ground
    truth the LSH paths approximate. Deliberately scoped (single lang
    partition): the all-pairs form is the one operator here that would NOT
    survive 100×, which is why minhash_lsh exists. The slice is guarded:
    >EXACT_EVAL_MAX_ROWS rows raises instead of launching the quadratic
    join."""
    d = spread(load(spark, sf_dir, "documents").filter(F.col("lang") == "de"))
    assert_bounded_slice(d, "dedup_ngram_jaccard")
    toks = d.select(
        "doc_id",
        F.array_distinct(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tk"),
    )
    a = toks.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("tk_a"))
    b = toks.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tk_b"))
    jac = S.jaccard(F.col("tk_a"), F.col("tk_b"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(jac >= 0.4)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


_PAIRS_CTES = f"""
    sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    mh AS (
      SELECT doc_id, sh, {_MH_SQL} AS mh FROM sh
    ),
    bands AS (
      SELECT doc_id, unnest({S.BAND_SIGNATURES_SQL('mh')}) AS band FROM mh
    ),
    cands AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band = b2.band AND b1.doc_id < b2.doc_id
    ),
    pairs AS (
      SELECT c.doc_a, c.doc_b
      FROM cands c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
      WHERE {S.JACCARD_SQL('sa.sh', 'sb.sh')} >= 0.2
    )
"""


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    bidir AS (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, lbl) AS (
      SELECT DISTINCT n, n FROM bidir
      UNION
      SELECT b.n, r.lbl FROM bidir b JOIN reach r ON r.n = b.m
    )
    SELECT n AS doc_id, min(lbl) AS component_id FROM reach GROUP BY n
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: minhash-LSH verified pairs → connected components →
    canonical id per cluster (component min). The iterative label
    propagation (operators/dedup.connected_components) is the engine's one
    driver-controlled loop; the oracle replays it as a DuckDB recursive-CTE
    transitive closure. Output: every doc in ≥1 near-dup pair with its
    component id."""
    from ..operators.dedup import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    release_checkpoints(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component_id")
    )


@register(
    "dedup_corpus_survivors",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    bidir AS (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, lbl) AS (
      SELECT DISTINCT n, n FROM bidir
      UNION
      SELECT b.n, r.lbl FROM bidir b JOIN reach r ON r.n = b.m
    ),
    losers AS (
      SELECT n AS doc_id FROM reach GROUP BY n HAVING min(lbl) <> n
    )
    SELECT d.source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_survivors,
           CAST(sum(CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS n_removed
    FROM documents d LEFT JOIN losers l USING (doc_id)
    GROUP BY d.source
    """,
)
def dedup_corpus_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end dedup deliverable (operators/neardup.dedup_corpus):
    near-dup pairs → connected components → every cluster keeps its min-id
    doc → anti-join removes the rest. This query audits the removal per
    source (what a curation run reports); the corpus that remains is
    exactly the survivors. The oracle replays the whole pipeline —
    including the transitive closure — as a recursive CTE, so the
    composition is hash-verified, not just its stages."""
    from ..operators.neardup import dedup_corpus

    d = spread(load(spark, sf_dir, "documents"))
    surv = dedup_corpus(d, "doc_id", "text", threshold=0.2).select(
        "doc_id", F.lit(1).alias("_kept")
    )
    return (
        d.join(surv, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("_kept").isNotNull(), 1).otherwise(0)).alias("n_survivors"),
            F.sum(F.when(F.col("_kept").isNull(), 1).otherwise(0)).alias("n_removed"),
        )
    )


@register(
    "lsh_recall_eval",
    oracle=f"""
    WITH
    {_PAIRS_CTES},
    de AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents WHERE lang = 'de'
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM de a JOIN de b ON a.doc_id < b.doc_id
      WHERE {S.JACCARD_SQL('a.sh', 'b.sh')} >= 0.2
    ),
    found AS (
      SELECT p.doc_a, p.doc_b FROM pairs p
      JOIN de x ON x.doc_id = p.doc_a
      JOIN de y ON y.doc_id = p.doc_b
    )
    SELECT count(*) AS n_truth,
           CAST(sum(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_found,
           CAST(sum(CASE WHEN f.doc_a IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_missed,
           CAST((100 * CAST(sum(CASE WHEN f.doc_a IS NOT NULL THEN 1 ELSE 0 END)
                            AS BIGINT)) // greatest(count(*), 1) AS BIGINT)
               AS recall_pct
    FROM truth t LEFT JOIN found f USING (doc_a, doc_b)
    """,
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured LSH recall against exhaustive ground truth — the eval a
    dedup pipeline runs before trusting its banding parameters at scale:
    all-pairs shingle-Jaccard on a bounded slice (lang='de') is the truth
    set; the production MinHash-LSH path (same threshold, whole corpus,
    restricted to the slice) is the candidate set. Verification makes LSH
    precision 1.0 by construction, so the one number that can degrade is
    RECALL — pairs the banding never surfaced. Integer counts and floor-
    division percent keep the output hash-exact."""
    from ..functions.sketches import staged_word_shingles

    d = spread(load(spark, sf_dir, "documents"))
    de_docs = d.filter(F.col("lang") == "de").select("doc_id", "text")
    assert_bounded_slice(de_docs, "lsh_recall_eval truth slice")
    de = staged_word_shingles(de_docs, "text").select("doc_id", "sh")
    a = de.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = de.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(S.jaccard(F.col("sh_a"), F.col("sh_b")) >= 0.2)
        .select("doc_a", "doc_b")
    )
    from ..operators.neardup import near_dup_pairs

    de_ids = de.select("doc_id")
    found = (
        near_dup_pairs(d, "doc_id", "text", threshold=0.2)
        .select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
        .join(de_ids.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi")
        .join(de_ids.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi")
        .withColumn("_hit", F.lit(1))
    )
    j = truth.join(found, ["doc_a", "doc_b"], "left")
    hit = F.col("_hit").isNotNull()
    return j.agg(
        F.count("*").alias("n_truth"),
        F.sum(F.when(hit, 1).otherwise(0)).alias("n_found"),
        F.sum(F.when(~hit, 1).otherwise(0)).alias("n_missed"),
        F.expr(
            "div(100 * sum(CASE WHEN _hit IS NOT NULL THEN 1 ELSE 0 END),"
            " greatest(count(*), 1))"
        ).alias("recall_pct"),
    )


@register(
    "dedup_cluster_size_stats",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    bidir AS (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, lbl) AS (
      SELECT DISTINCT n, n FROM bidir
      UNION
      SELECT b.n, r.lbl FROM bidir b JOIN reach r ON r.n = b.m
    ),
    comp AS (SELECT n, min(lbl) AS c FROM reach GROUP BY n),
    sizes AS (SELECT c, count(*) AS sz FROM comp GROUP BY c)
    SELECT sz AS cluster_size,
           count(*) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs,
           CAST((sz - 1) * count(*) AS BIGINT) AS n_removable
    FROM sizes GROUP BY sz
    """,
)
def dedup_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size histogram — the dedup DIAGNOSTIC an operator
    reads before pulling the trigger: how many clusters of each size, how
    many docs they hold, and how many rows canonical-survivor dedup would
    remove. Rides the verified component labeling; the histogram itself is
    two tiny keyed aggs over the (collision-bound) component set."""
    from ..operators.dedup import connected_components

    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    release_checkpoints(pairs)
    sizes = comp.groupBy("label").agg(F.count("*").alias("cluster_size"))
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias("n_removable"),
        )
    )


@register(
    "minhash_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    ),
    mh AS (
      SELECT doc_id, sh, {_MH_SQL} AS mh FROM sh
    ),
    bands AS (
      SELECT doc_id, unnest({S.BAND_SIGNATURES_SQL('mh')}) AS band FROM mh
    ),
    cands AS (
      SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
      FROM bands b1 JOIN bands b2
        ON b1.band = b2.band AND b1.doc_id < b2.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           round({S.CONTAINMENT_SQL('sa.sh', 'sb.sh')}, 6) AS containment_ab,
           round({S.CONTAINMENT_SQL('sb.sh', 'sa.sh')}, 6) AS containment_ba
    FROM cands c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE {S.CONTAINMENT_SQL('sa.sh', 'sb.sh')} >= 0.2
       OR {S.CONTAINMENT_SQL('sb.sh', 'sa.sh')} >= 0.2
    """,
)
def minhash_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment scoring (|A∩B|/|A|, both directions) over the
    SAME LSH candidate set as dedup_minhash_lsh — the quote/excerpt
    detector: a short doc embedded in a long one scores ~1.0 containment
    while its Jaccard stays far below any dedup threshold
    (operators/neardup.containment_pairs). Shuffle profile identical to
    the Jaccard path; threshold 0.2 matches the synthetic corpus's
    overlap levels (a production corpus would use ~0.8)."""
    from ..operators.neardup import containment_pairs

    d = spread(load(spark, sf_dir, "documents"))
    return containment_pairs(d, "doc_id", "text", threshold=0.2).select(
        F.col("id_a").alias("doc_a"),
        F.col("id_b").alias("doc_b"),
        F.round("c_ab", 6).alias("containment_ab"),
        F.round("c_ba", 6).alias("containment_ba"),
    )


@register(
    "incremental_components_merge",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    bidir AS (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, lbl) AS (
      SELECT DISTINCT n, n FROM bidir
      UNION
      SELECT b.n, r.lbl FROM bidir b JOIN reach r ON r.n = b.m
    )
    SELECT n AS node, min(lbl) AS label FROM reach GROUP BY n
    """,
)
def incremental_components_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup clustering: the standing corpus's component
    state (docs with doc_id % 3 != 0, already clustered) is merged with a
    newly-arrived batch (doc_id % 3 == 0) WITHOUT re-clustering history —
    the old components are summarized as (node → label) edges, new pairs
    are mined only where a new doc is an endpoint, and one CC pass over
    (label edges ∪ new pairs) yields labels provably identical to a full
    recompute (min-label of a merged component = min over its old labels
    and new ids). The oracle IS the full recompute — a recursive CTE over
    the complete corpus pair set — so the equivalence is hash-verified.
    At 100 TB this is the daily-ingest path: candidate generation joins
    the BATCH's LSH bands against the corpus signature table
    (operators/neardup.near_dup_pairs_against), so mining explores
    O(batch x collisions) — old-old pairs are never re-examined. (The
    old_state build below replays history only to construct the demo's
    standing state; a production pipeline carries it forward.)"""
    from ..operators.dedup import connected_components
    from ..operators.neardup import pairs_from_signatures, sign_corpus

    d = spread(load(spark, sf_dir, "documents"))
    # ONE signature pass over the corpus serves both minings (signing is
    # the dominant cost — the old-state build below reuses the old docs'
    # rows of the same persisted frame instead of re-shingling them)
    sig = sign_corpus(d, "doc_id", "text").persist()
    old_pairs = pairs_from_signatures(
        sig.filter(F.col("_id") % 3 != 0), threshold=0.2
    )
    # the incremental mine: batch bands x corpus bands (new-new and
    # new-old collisions only)
    new_pairs = pairs_from_signatures(
        sig, threshold=0.2, batch_ids=sig.select("_id").filter(F.col("_id") % 3 == 0)
    ).select("id_a", "id_b").transform(_pin)
    old_pairs = old_pairs.transform(_pin)
    old_state = connected_components(old_pairs, "id_a", "id_b")
    sig.unpersist()
    release_checkpoints(old_pairs)
    merged_edges = old_state.select(
        F.col("node").alias("id_a"), F.col("label").alias("id_b")
    ).unionByName(new_pairs)
    comp = connected_components(merged_edges, "id_a", "id_b")
    # the new pairs and the old state's labels (distributed route) are
    # pins the result no longer reads
    release_checkpoints(merged_edges)
    return comp


@register(
    "dedup_best_quality_survivors",
    oracle=f"""
    WITH RECURSIVE
    {_PAIRS_CTES},
    bidir AS (
      SELECT doc_a AS n, doc_b AS m FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(n, lbl) AS (
      SELECT DISTINCT n, n FROM bidir
      UNION
      SELECT b.n, r.lbl FROM bidir b JOIN reach r ON r.n = b.m
    ),
    comp AS (
      SELECT n AS doc_id, min(lbl) AS label FROM reach GROUP BY n
    ),
    ranked AS (
      SELECT c.label, c.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.label
                                ORDER BY d.n_chars DESC, c.doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY c.label) AS cluster_size
      FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT label AS cluster_label, doc_id AS survivor_doc_id,
           n_chars AS survivor_chars, cluster_size
    FROM ranked WHERE rk = 1
    """,
)
def dedup_best_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-argmax survivor policy: each near-dup cluster keeps its
    LONGEST document (n_chars desc, doc_id tiebreak) instead of the min-id
    — the production policy when duplicates differ in truncation or
    boilerplate stripping and you want the richest copy. Same pair →
    component machinery as dedup_corpus_survivors; the policy is one
    row_number window over the (cluster-sized, small) component frame
    joined to the doc metadata. The oracle replays clustering AND the
    argmax policy as a recursive CTE + window."""
    from ..operators.dedup import connected_components
    from ..operators.neardup import near_dup_pairs
    from pyspark.sql.window import Window as W2

    d = spread(load(spark, sf_dir, "documents"))
    pairs = near_dup_pairs(d, "doc_id", "text", threshold=0.2)
    comp = connected_components(pairs, "id_a", "id_b").withColumnRenamed("node", "doc_id")
    release_checkpoints(pairs)
    ranked = comp.join(d.select("doc_id", "n_chars"), "doc_id")
    w = W2.partitionBy("label").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        ranked.withColumn("rk", F.row_number().over(w))
        .withColumn("cluster_size", F.count("*").over(W2.partitionBy("label")))
        .filter(F.col("rk") == 1)
        .select(
            F.col("label").alias("cluster_label"),
            F.col("doc_id").alias("survivor_doc_id"),
            F.col("n_chars").alias("survivor_chars"),
            "cluster_size",
        )
    )


# ---------------------------------------------------------------------------
# Round 5: estimator-quality audit — minhash-estimated vs exact Jaccard.
# ---------------------------------------------------------------------------


@register(
    "minhash_jaccard_estimate_eval",
    oracle=f"""
    WITH
    {_PAIRS_CTES},
    scored AS (
      SELECT p.doc_a, p.doc_b,
             CAST(len(list_filter(range(1, {S.K} + 1),
                                  i -> ma.mh[i] = mb.mh[i])) AS BIGINT)
               AS n_match,
             round({S.JACCARD_SQL('sa.sh', 'sb.sh')}, 6) AS exact_jaccard
      FROM pairs p
      JOIN mh ma ON ma.doc_id = p.doc_a
      JOIN mh mb ON mb.doc_id = p.doc_b
      JOIN sh sa ON sa.doc_id = p.doc_a
      JOIN sh sb ON sb.doc_id = p.doc_b
    )
    SELECT doc_a, doc_b, n_match,
           round(CAST(n_match AS DOUBLE) / {S.K}, 6) AS est_jaccard,
           exact_jaccard
    FROM scored
    """,
)
def minhash_jaccard_estimate_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator audit for the dedup stack: on every VERIFIED near-dup pair,
    the minhash-position estimate of Jaccard (matching positions / K) next
    to the exact shingle Jaccard — the calibration check that tells you
    whether K=16 permutations are enough before trusting estimate-only
    thresholds at a scale where exact verification is unaffordable.
    n_match/K is a power-of-two division (exact in binary), so both
    engines hash identically. One persisted signature pass serves mining
    and both mh lookups; the pair-bound result is materialized eagerly and
    the corpus-sized cache released (the near_dup_pairs contract)."""
    from ..operators.neardup import pairs_from_signatures, sign_corpus

    d = spread(load(spark, sf_dir, "documents"))
    sig = sign_corpus(d, "doc_id", "text").persist()
    pairs = pairs_from_signatures(sig, threshold=0.2)
    ma = sig.select(F.col("_id").alias("id_a"), F.col("mh").alias("mh_a"))
    mb = sig.select(F.col("_id").alias("id_b"), F.col("mh").alias("mh_b"))
    n_match = F.size(
        F.filter(F.zip_with("mh_a", "mh_b", lambda x, y: x == y), lambda v: v)
    ).cast("long")
    out = (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.col("id_a").alias("doc_a"),
            F.col("id_b").alias("doc_b"),
            n_match.alias("n_match"),
            F.round(n_match.cast("double") / S.K, 6).alias("est_jaccard"),
            F.round("jaccard", 6).alias("exact_jaccard"),
        )
        .transform(_pin)
    )
    sig.unpersist()
    return out


@register(
    "shingle_count_histogram",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {_SHINGLES_SQL} AS sh FROM documents
    )
    SELECT CAST(len(sh) AS BIGINT) AS n_shingles, count(*) AS n_docs
    FROM sh GROUP BY 1
    """,
)
def shingle_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of per-doc shingle-set sizes — the dedup pre-flight
    that finds documents too short to shingle (n_shingles ≈ 1 ⇒ minhash
    degenerates and LSH recall collapses for them; such docs need the
    exact-fingerprint path instead). Per-row map + a tiny histogram
    shuffle; exact integers."""
    d = spread(load(spark, sf_dir, "documents"))
    return (
        d.select(F.size(S.word_shingles("text")).cast("long").alias("n_shingles"))
        .groupBy("n_shingles")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "lsh_candidate_precision",
    oracle=f"""
    WITH
    {_PAIRS_CTES},
    scored AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.sh, sb.sh)) AS inter,
             len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS uni
      FROM cands c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b
    )
    SELECT CAST(least((inter * 10) // greatest(uni, 1), 9) AS BIGINT)
             AS jaccard_decile,
           count(*) AS n_pairs
    FROM scored GROUP BY 1
    """,
)
def lsh_candidate_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact Jaccard over ALL LSH band-collision candidates
    (pre-verification) bucketed by decile — the banding-precision audit:
    mass in low deciles means the band/row parameters admit noise and
    verification cost is being wasted; mass near the threshold decile
    means recall is at risk. The decile is (inter*10) div union — pure
    integer arithmetic, hash-stable. Candidate volume is collision-bound
    (the same frame the dedup pipeline verifies), never corpus²."""
    from ..operators.neardup import sign_corpus

    d = spread(load(spark, sf_dir, "documents"))
    sig = sign_corpus(d, "doc_id", "text").persist()
    bands = sig.select(
        "_id", F.explode_outer(S.band_signatures(F.col("mh"))).alias("band")
    )
    cands = (
        bands.select(F.col("_id").alias("id_a"), "band")
        .join(bands.select(F.col("_id").alias("id_b"), "band"), "band")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    out = (
        cands.join(
            sig.select(F.col("_id").alias("id_a"), F.col("sh").alias("sh_a")), "id_a"
        )
        .join(sig.select(F.col("_id").alias("id_b"), F.col("sh").alias("sh_b")), "id_b")
        .select(
            F.least(
                F.expr("(size(array_intersect(sh_a, sh_b)) * 10) div "
                       "greatest(size(sh_a) + size(sh_b) "
                       "- size(array_intersect(sh_a, sh_b)), 1)"),
                F.lit(9),
            ).cast("long").alias("jaccard_decile")
        )
        .groupBy("jaccard_decile")
        .agg(F.count("*").alias("n_pairs"))
        .transform(_pin)
    )
    sig.unpersist()
    return out


@register(
    "dedup_token_audit",
    oracle=f"""
    WITH keep AS (
        SELECT doc_id, source, {X.TOKEN_COUNT_SQL('text')} AS tok,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id)
                   AS rn
        FROM documents
    )
    SELECT source,
           count(*) AS docs_before,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_after,
           CAST(sum(tok) AS BIGINT) AS tokens_before,
           CAST(sum(CASE WHEN rn = 1 THEN tok ELSE 0 END) AS BIGINT)
               AS tokens_after,
           round(100.0 * (1.0 - CAST(sum(CASE WHEN rn = 1 THEN tok ELSE 0 END)
                                      AS DOUBLE) / sum(tok)), 4)
               AS token_loss_pct
    FROM keep GROUP BY source
    """,
)
def dedup_token_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation accounting: per source, documents and TOKENS removed by
    exact dedup (keep-first-by-doc_id per md5 group) — the number a
    pretraining data report actually cites (dup docs are cheap; dup TOKEN
    mass is what skews a mixture). Same hash-keyed window as dedup_exact;
    the audit adds one source-keyed reduction."""
    d = spread(load(spark, sf_dir, "documents"))
    from pyspark.sql.window import Window as W

    keep = d.select(
        "source",
        X.token_count("text").alias("tok"),
        F.row_number()
        .over(W.partitionBy(F.md5("text")).orderBy("doc_id"))
        .alias("rn"),
    )
    kept_tok = F.sum(F.when(F.col("rn") == 1, F.col("tok")).otherwise(0))
    return keep.groupBy("source").agg(
        F.count("*").alias("docs_before"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("docs_after"),
        F.sum("tok").alias("tokens_before"),
        kept_tok.alias("tokens_after"),
        F.round(
            100.0 * (F.lit(1.0) - kept_tok.cast("double") / F.sum("tok")), 4
        ).alias("token_loss_pct"),
    )
