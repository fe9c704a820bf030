"""Text-analysis queries over the documents table — training-data pipeline
operators (BASELINE.json north star): token counting, quality scoring,
language ID, fingerprinting. Oracles are generated from the same constants
as the Spark expressions (functions/text.py) so they cannot drift.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..functions import sketches as S
from ..functions import text as X
from . import load, register, spread
from ..engine.pin import pin as _pin


@register(
    "text_token_stats",
    oracle=f"""
    SELECT doc_id, lang,
           {X.TOKEN_COUNT_SQL('text')} AS n_tokens,
           {X.BPE_ISH_TOKEN_COUNT_SQL('text')} AS n_bpeish_tokens,
           length(text) AS n_chars_computed
    FROM documents
    """,
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        "lang",
        X.token_count("text").alias("n_tokens"),
        X.bpe_ish_token_count("text").alias("n_bpeish_tokens"),
        F.length("text").alias("n_chars_computed"),
    )


@register(
    "token_length_quartiles",
    oracle="""
    WITH toks AS (
      SELECT source, doc_id,
             unnest(str_split(text, ' ')) AS tok,
             generate_subscripts(str_split(text, ' '), 1) AS pos
      FROM documents
    ),
    ranked AS (
      SELECT source, length(tok) AS tok_len,
             ntile(4) OVER (
               PARTITION BY source
               ORDER BY length(tok), doc_id, pos
             ) AS quartile
      FROM toks
    )
    SELECT source, quartile,
           CAST(count(*) AS BIGINT) AS n_toks,
           CAST(min(tok_len) AS BIGINT) AS min_len,
           CAST(max(tok_len) AS BIGINT) AS max_len
    FROM ranked GROUP BY source, quartile
    """,
)
def token_length_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quartiles of whitespace-token length over the EXPLODED
    token stream — the tokenizer-budget profile a curation pass reads
    before choosing truncation lengths. r10, tied to the r9 ADVICE
    (medium) finding: the rank input sits above a Generate (posexplode),
    the one plan shape whose Catalyst size estimate under-counts rows,
    so the adaptive router's zero-job proof walker must DECLINE it and
    the row probe must route instead — this query pins that fallthrough
    end-to-end under a DuckDB oracle (previously the hazard was latent:
    no rank call site had an explode upstream). At scale the sharded
    path folds the (doc_id, pos) tiebreakers below the ~15-distinct
    token-length key, keeping full sharding where the r9 clamp would
    have surrendered shards; the plan audit's forced pass runs that
    shape (tools/plan_audit.FORCED). Position is 1-based to match
    DuckDB's generate_subscripts; Spark's split and DuckDB's str_split
    both keep empty tokens from consecutive delimiters."""
    from ..operators.ranks import ntile_expr, sharded_row_number

    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select(
        "source",
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
    )
    base = toks.select(
        "source",
        F.length("tok").alias("tok_len"),
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
    )
    ranked = sharded_row_number(
        base,
        ["source"],
        ["tok_len", "doc_id", "pos"],
    )
    q = ranked.select(
        "source", "tok_len", ntile_expr("rn", "n_g", 4).alias("quartile")
    )
    return q.groupBy("source", "quartile").agg(
        F.count("*").alias("n_toks"),
        F.min("tok_len").cast("bigint").alias("min_len"),
        F.max("tok_len").cast("bigint").alias("max_len"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    SELECT doc_id,
           round({X.PUNCT_RATIO_SQL('text')}, 6)    AS punct_ratio,
           round({X.STOPWORD_RATIO_SQL('text')}, 6) AS stopword_ratio,
           round(length(text) / greatest({X.TOKEN_COUNT_SQL('text')}, 1), 6)
                                                    AS avg_token_len,
           (length(text) >= 100
            AND {X.PUNCT_RATIO_SQL('text')} < 0.1
            AND {X.STOPWORD_RATIO_SQL('text')} > 0.05) AS passes_quality
    FROM documents
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length/punct/stopword quality gates — the standard pre-training
    heuristic filter set, flag-don't-drop (quarantine semantics)."""
    d = spread(load(spark, sf_dir, "documents"))
    pr, sr = X.punct_ratio("text"), X.stopword_ratio("text")
    return d.select(
        "doc_id",
        F.round(pr, 6).alias("punct_ratio"),
        F.round(sr, 6).alias("stopword_ratio"),
        F.round(F.length("text") / F.greatest(X.token_count("text"), F.lit(1)), 6).alias(
            "avg_token_len"
        ),
        ((F.length("text") >= 100) & (pr < 0.1) & (sr > 0.05)).alias("passes_quality"),
    )


@register(
    "text_lang_id",
    oracle=f"""
    SELECT doc_id, lang AS labeled_lang,
           {X.LANG_ID_SQL('text')} AS detected_lang
    FROM documents
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language ID (n-gram heuristic family). The synthetic
    corpus is English-vocab for every label, so `detected_lang` reflects the
    text, not the label — the operator contract is determinism, not
    classifier accuracy."""
    d = spread(load(spark, sf_dir, "documents"))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        X.lang_id("text").alias("detected_lang"),
    )


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           {X.FINGERPRINT_SQL('text')} AS fp,
           substr({X.FINGERPRINT_SQL('text')}, 1, 8) AS fp_prefix
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    fp = X.fingerprint("text")
    return d.select(
        "doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_prefix")
    )


_H = S.HASH32_SQL("'split:' || CAST(doc_id AS VARCHAR)")

# ONE definition of the split assignment, shared by hash_split_stratified
# (the assignment op) and split_leakage_audit (the audit of that op) — if
# the salt, modulus, or boundaries drift between them the audit silently
# audits a different split than the one produced.
_SPLIT_CASE_SQL = f"""CASE WHEN {_H} % 100 < 80 THEN 'train'
                  WHEN {_H} % 100 < 90 THEN 'val'
                  ELSE 'test' END"""


def _split_col():
    h = S.hash32(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))) % 100
    return F.when(h < 80, "train").when(h < 90, "val").otherwise("test")


@register(
    "hash_split_stratified",
    oracle=f"""
    WITH assigned AS (
      SELECT lang, {_SPLIT_CASE_SQL} AS split, n_chars
      FROM documents
    )
    SELECT lang, split, count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM assigned GROUP BY lang, split
    """,
)
def hash_split_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-key hash — the
    reproducible sampling you actually use at 100 TB (no RNG, no seed
    coordination across executors, stable under re-partitioning and
    re-runs; docs keep their split when the corpus grows). A salted key
    ('split:'+id) decorrelates this hash from any other hash use of the
    same id. Pure per-row map + small-key agg; the oracle shares the same
    md5-derived hash, so assignment is hash-verified cross-engine."""
    d = spread(load(spark, sf_dir, "documents"))
    return (
        d.select("lang", _split_col().alias("split"), "n_chars")
        .groupBy("lang", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


_K_GRAM = 8   # character k-grams
_WINNOW = 4   # winnowing window (consecutive k-gram hashes)


def _winnow_sketch(d: DataFrame) -> DataFrame:
    """(doc_id, _fp) winnowing sketch — shared by text_winnow_fingerprint
    and winnow_match_pairs so the sketch the pairs are mined from is
    hash-verified by the fingerprint query's own oracle.

    Sliding-window minima as zip_with(least) over WINNOW shifted slices of
    the hash array — NOT transform(i -> array_min(slice(_hs, i, W))):
    CollapseProject inlines the `_hs` alias into that lambda, so the O(n)
    hash array gets recomputed per window position — O(n²) interpreted md5
    per doc (measured 940 s for 5000 docs at sf0.1; this form runs in ~1 s).
    Shifted slices evaluate the array WINNOW times total; trailing short
    slices zip as NULL, which least() skips — same truncated-window minima.
    """
    t = X.normalize_text(F.col("text"))
    staged = d.select("doc_id", t.alias("_t")).withColumn(
        "_n", F.greatest(F.length("_t") - _K_GRAM + 1, F.lit(1))
    )
    hashes = F.transform(
        F.sequence(F.lit(1), F.col("_n")),
        lambda i: S.hash32(F.col("_t").substr(i, F.lit(_K_GRAM))),
    )
    hs = staged.withColumn("_hs", hashes)
    n_win = F.greatest(F.col("_n") - _WINNOW + 1, F.lit(1))
    shifted = [F.slice(F.col("_hs"), F.lit(j + 1), n_win) for j in range(_WINNOW)]
    windows = shifted[0]
    for sl in shifted[1:]:
        windows = F.zip_with(windows, sl, lambda a, b: F.least(a, b))
    return hs.withColumn("_fp", F.array_distinct(windows)).select("doc_id", "_fp")


@register(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {X.NORMALIZE_TEXT_SQL('text')} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, t, greatest(length(t) - {_K_GRAM} + 1, 1) AS n_grams
      FROM norm
    ),
    hashes AS (
      SELECT doc_id, n_grams,
             list_transform(range(1, n_grams + 1),
                            i -> ('0x' || substr(md5(substr(t, i::INTEGER, {_K_GRAM})), 1, 8))::BIGINT)
                 AS hs
      FROM grams
    ),
    sketch AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 range(1, greatest(n_grams - {_WINNOW} + 1, 1) + 1),
                 i -> list_min(hs[i:i+{_WINNOW}-1]))) AS fp
      FROM hashes
    )
    SELECT doc_id, len(fp) AS sketch_size,
           list_min(fp) AS min_h, list_max(fp) AS max_h
    FROM sketch
    """,
)
def text_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing): hash every character
    k-gram, slide a w-window over the hash sequence, keep each window's
    minimum, distinct the survivors — the MOSS/winnowing sketch that
    guarantees shared fingerprints for sufficiently long shared substrings.
    Per-row map (no shuffle); two staged arrays keep the HOF lambdas
    reading attributes instead of recomputing (same lesson as
    staged_word_shingles). The selection logic is what matters at scale —
    match detection is then a bucket join on fingerprint values."""
    fp = _winnow_sketch(spread(load(spark, sf_dir, "documents")))
    return fp.select(
        "doc_id",
        F.size("_fp").alias("sketch_size"),
        F.array_min("_fp").alias("min_h"),
        F.array_max("_fp").alias("max_h"),
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({X.TOKENS_SQL('lower(text)')}) AS token FROM documents
    ),
    tf AS (
      SELECT doc_id, token, count(*) AS tf FROM toks
      WHERE length(token) >= 3
      GROUP BY doc_id, token
    ),
    df AS (
      SELECT token, count(*) AS df FROM tf GROUP BY token
    ),
    scored AS (
      SELECT t.doc_id, t.token,
             t.tf * ln((SELECT count(*) FROM documents)::DOUBLE / d.df) AS score
      FROM tf t JOIN df d ON d.token = t.token
    ),
    ranked AS (
      SELECT doc_id, token, score,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score DESC, token ASC) AS rk
      FROM scored
    )
    SELECT doc_id, token, round(score, 6) AS tfidf, rk
    FROM ranked WHERE rk <= 3
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms: explode to (doc, token), two-level
    aggregation (tf per doc-token, document frequency per token), corpus
    size broadcast as a one-row scalar, score join, per-doc top-k window.
    Shuffle profile: explode is narrow; tf and df are partial-agg'd
    map-side; the token-df join shuffles on token (or broadcasts when the
    vocabulary is bounded); ties break on token for determinism."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("token")
    ).filter(F.length("token") >= 3)
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = d.agg(F.count("*").cast("double").alias("_n"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id", "token",
            (F.col("tf") * F.log(F.col("_n") / F.col("df"))).alias("score"),
        )
    )
    from pyspark.sql.window import Window as W

    w = W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", F.round("score", 6).alias("tfidf"), "rk")
    )


# ---------------------------------------------------------------------------
# Train/test contamination — the decontamination primitive of every
# pre-training pipeline: which held-out documents share token 5-grams with
# the training split. Deterministic split on doc_id so the oracle replays
# it. Scale shape: one shuffle on the n-gram key (the standard layout); at
# 100 TB the train side first collapses to distinct n-grams (partial agg
# map-side) and a bloom filter on the train set can pre-filter the probe
# side before the exchange.
# ---------------------------------------------------------------------------

_CONTAM_N = 5


@register(
    "ngram_contamination",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {X.NGRAMS_SQL('text', _CONTAM_N)} AS ngs FROM documents
    ),
    test AS (
      SELECT doc_id, unnest(list_distinct(ngs)) AS ng
      FROM tok WHERE doc_id % 5 = 0
    ),
    train AS (
      SELECT DISTINCT unnest(ngs) AS ng FROM tok WHERE doc_id % 5 <> 0
    )
    SELECT t.doc_id,
           count(*) AS n_ngrams,
           CAST(sum(CASE WHEN tr.ng IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_contaminated,
           round(sum(CASE WHEN tr.ng IS NOT NULL THEN 1 ELSE 0 END)
                 / count(*), 6) AS contamination_ratio
    FROM test t LEFT JOIN train tr USING (ng)
    GROUP BY t.doc_id
    """,
)
def ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    ngs = X.ngrams("text", _CONTAM_N)
    test = d.filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", F.explode(F.array_distinct(ngs)).alias("ng")
    )
    train = (
        d.filter(F.col("doc_id") % 5 != 0)
        .select(F.explode(ngs).alias("ng"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    hit = F.sum(F.when(F.col("_hit").isNotNull(), 1).otherwise(0))
    return (
        test.join(train, "ng", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            hit.alias("n_contaminated"),
            F.round(hit / F.count("*"), 6).alias("contamination_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Within-document repetition — the Gopher/C4-style duplicate-n-gram
# fraction used to drop boilerplate/spam: 1 − distinct/total for tokens and
# bigrams. Pure per-row list expressions: no shuffle, codegen'd, linear.
# ---------------------------------------------------------------------------


@register(
    "doc_repetition_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {X.TOKENS_SQL('text')} AS toks,
             {X.NGRAMS_SQL('text', 2)} AS bgs
      FROM documents
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_distinct(toks)) AS n_distinct_tokens,
           round(1.0 - len(list_distinct(toks)) / greatest(len(toks), 1), 6)
               AS dup_token_ratio,
           round(1.0 - len(list_distinct(bgs)) / greatest(len(bgs), 1), 6)
               AS dup_bigram_ratio
    FROM t
    """,
)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    toks, bgs = X.tokens("text"), X.ngrams("text", 2)
    t = d.select(
        "doc_id", toks.alias("_toks"), bgs.alias("_bgs")
    )
    n_tok = F.size("_toks")
    n_dtok = F.size(F.array_distinct("_toks"))
    n_bg = F.size("_bgs")
    n_dbg = F.size(F.array_distinct("_bgs"))
    return t.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        n_dtok.alias("n_distinct_tokens"),
        F.round(F.lit(1.0) - n_dtok / F.greatest(n_tok, F.lit(1)), 6).alias(
            "dup_token_ratio"
        ),
        F.round(F.lit(1.0) - n_dbg / F.greatest(n_bg, F.lit(1)), 6).alias(
            "dup_bigram_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# PII-ish pattern counts — the redaction/compliance scan run before text
# ships to training: per-document counts of email/phone/IPv4/URL shapes.
# RE2-safe patterns shared between engines (functions/text.py
# PII_PATTERNS). Per-row regexp_count: no shuffle, codegen'd.
# ---------------------------------------------------------------------------


@register(
    "pii_pattern_counts",
    oracle=f"""
    SELECT doc_id,
           {X.PII_COUNTS_SQL('text')['n_emails']} AS n_emails,
           {X.PII_COUNTS_SQL('text')['n_phones']} AS n_phones,
           {X.PII_COUNTS_SQL('text')['n_ipv4']} AS n_ipv4,
           {X.PII_COUNTS_SQL('text')['n_urls']} AS n_urls,
           ({X.PII_COUNTS_SQL('text')['n_emails']} > 0
            OR {X.PII_COUNTS_SQL('text')['n_phones']} > 0
            OR {X.PII_COUNTS_SQL('text')['n_ipv4']} > 0) AS has_pii
    FROM documents
    """,
)
def pii_pattern_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    cnts = X.pii_counts("text")
    return d.select(
        "doc_id",
        *[c.alias(name) for name, c in cnts.items()],
        (
            (cnts["n_emails"] > 0) | (cnts["n_phones"] > 0) | (cnts["n_ipv4"] > 0)
        ).alias("has_pii"),
    )


_SAMPLE_K = 5
_SAMPLE_H = S.HASH32_SQL("'sample:' || CAST(doc_id AS VARCHAR)")


@register(
    "stratified_hash_sample",
    oracle=f"""
    SELECT source, doc_id, rk FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY {_SAMPLE_H}, doc_id) AS rk
      FROM documents
    ) WHERE rk <= {_SAMPLE_K}
    """,
)
def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-per-source sample — smallest salted hash wins. The
    eyeball-QA / eval-set draw for a 100 TB corpus: reproducible across
    re-runs and engines (no RNG, no seed coordination), stable per doc as
    the corpus grows, and uniformly random in distribution because the
    hash is uniform on the salt+id. Spark 3.5+ plans the rank filter as
    WindowGroupLimit: only ~k rows per source survive the exchange, so the
    shuffle carries the sample, not the corpus."""
    from pyspark.sql.window import Window as W

    d = spread(load(spark, sf_dir, "documents"))
    h = S.hash32(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    w = W.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        d.select("source", "doc_id", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") <= _SAMPLE_K)
    )


_VOCAB_SIZES = (10, 100, 1000)


@register(
    "vocab_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({X.TOKENS_SQL('text')}) AS t FROM documents
    ),
    freq AS (
      SELECT t, count(*) AS c FROM tok GROUP BY t
    ),
    ranked AS (
      SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS rk,
             CAST(sum(c) OVER (ORDER BY c DESC, t ASC
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM freq
    ),
    tot AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_total, count(*) AS n_vocab FROM freq
    )
    SELECT th.vocab_size,
           r.cum AS covered_tokens,
           tot.n_total AS total_tokens,
           (100 * r.cum) // tot.n_total AS coverage_pct
    FROM (VALUES {", ".join(f"({n})" for n in _VOCAB_SIZES)}) th(vocab_size)
    CROSS JOIN tot
    JOIN ranked r ON r.rk = least(th.vocab_size, tot.n_vocab)
    """,
)
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-design diagnostic: what fraction of the corpus token mass
    the top-N vocabulary entries cover (the curve that sizes a vocab before
    training one). Explode → per-token counts → cumulative sum over ONLY
    the top-max(_VOCAB_SIZES) entries: the cumsum at rank ≤ K depends on
    nothing below K, so the frame is cut to 1,000 rows by orderBy+limit —
    Spark plans that as TakeOrderedAndProject (per-partition top-K, then
    merge), never a vocabulary-sized single-task sort even when the
    distinct-token count grows with the corpus. Integer math throughout."""
    d = spread(load(spark, sf_dir, "documents"))
    from pyspark.sql.window import Window as W

    freq = (
        d.select(F.explode(X.tokens("text")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
    )
    top = freq.orderBy(F.col("c").desc(), F.col("t").asc()).limit(
        max(_VOCAB_SIZES)
    )
    w = W.orderBy(F.col("c").desc(), F.col("t").asc())
    ranked = top.select(
        "c",
        F.row_number().over(w).alias("rk"),
        F.sum("c").over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("cum"),
    )
    tot = freq.agg(
        F.sum("c").alias("n_total"), F.count("*").alias("n_vocab")
    )
    sizes = d.sparkSession.createDataFrame(
        [(n,) for n in _VOCAB_SIZES], "vocab_size INT"
    )
    return (
        sizes.crossJoin(F.broadcast(tot))
        .join(
            ranked,
            F.col("rk") == F.least(F.col("vocab_size"), F.col("n_vocab")),
        )
        .select(
            "vocab_size",
            F.col("cum").alias("covered_tokens"),
            F.col("n_total").alias("total_tokens"),
            F.expr("div(100 * cum, n_total)").alias("coverage_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-frequency fluency score — the integer-exact stand-in for unigram
# log-prob quality scoring (CCNet-style "how typical is this document's
# vocabulary of the corpus"). Two passes: corpus term frequencies (one
# combiner-heavy shuffle keyed on word — vocabulary-bound, tiny at any
# corpus size), then a broadcast-able join back and one exact-integer agg
# per doc. mean_word_freq is a SINGLE division of two exact BIGINTs, so the
# double is bit-identical across engines (no float accumulation anywhere).
# ---------------------------------------------------------------------------


@register(
    "unigram_freq_quality",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({X.TOKENS_SQL('text')}) AS w FROM documents
    ),
    freq AS (SELECT w, count(*) AS c FROM toks GROUP BY w),
    per_doc AS (
      SELECT t.doc_id,
             count(*) AS n_tokens,
             CAST(sum(f.c) AS BIGINT) AS freq_sum
      FROM toks t JOIN freq f USING (w)
      GROUP BY t.doc_id
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, freq_sum,
           round(freq_sum / CAST(n_tokens AS DOUBLE), 6) AS mean_word_freq
    FROM per_doc
    """,
)
def unigram_freq_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc mean corpus-frequency of its words: rare-word-heavy (noisy /
    OOV) documents score low, boilerplate scores high — the unigram-LM
    quality signal with exact integer math. At 100 TB the freq table is
    vocabulary-bound (≪ corpus), so the join back is a broadcast and the
    only corpus-wide shuffle is the word-count combine."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", F.explode(X.tokens("text")).alias("w"))
    freq = toks.groupBy("w").agg(F.count("*").alias("c"))
    per_doc = (
        toks.join(freq, "w")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_tokens"), F.sum("c").alias("freq_sum"))
    )
    return per_doc.select(
        "doc_id",
        "n_tokens",
        "freq_sum",
        F.round(F.col("freq_sum") / F.col("n_tokens").cast("double"), 6).alias(
            "mean_word_freq"
        ),
    )


# ---------------------------------------------------------------------------
# Boilerplate detection by shared n-grams: the share of a document's
# distinct 3-grams that appear in at least one OTHER document of the same
# source. High ratios mark templated/boilerplate docs (nav bars, license
# headers). Gram cardinality is corpus-bound but each gram row is tiny; the
# one shuffle keys on (source, gram) with map-side combine.
# ---------------------------------------------------------------------------


@register(
    "boilerplate_ngram_ratio",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, source, unnest(list_distinct({X.NGRAMS_SQL('text', 3)})) AS g
      FROM documents
    ),
    counts AS (
      SELECT source, g, count(*) AS n_docs_with FROM grams GROUP BY source, g
    ),
    per_doc AS (
      SELECT gr.doc_id,
             count(*) AS n_grams,
             CAST(sum(CASE WHEN c.n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared
      FROM grams gr JOIN counts c ON gr.source = c.source AND gr.g = c.g
      GROUP BY gr.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
           coalesce(p.n_shared, CAST(0 AS BIGINT)) AS n_shared,
           round(coalesce(p.n_shared, 0)
                 / CAST(greatest(coalesce(p.n_grams, 0), 1) AS DOUBLE), 6)
               AS boilerplate_ratio
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def boilerplate_ngram_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate ratio: distinct 3-grams shared with ≥1 other
    same-source doc / distinct 3-grams. Docs under 3 tokens emit 0/0→0.0
    (kept via left join so the output covers the whole corpus). All counts
    exact integers; the ratio is one division — hash-stable.

    The gram-frequency count rides a window over (source, gram) instead of
    a groupBy + join-back: the join form re-runs the scan+explode for the
    probe side (Spark does not CSE common subplans across join inputs) and
    adds a join shuffle — measured 2× slower at sf0.1 (1.86s vs 0.96s).
    One explode, one gram-keyed shuffle, one doc-keyed agg."""
    from pyspark.sql.window import Window as W

    d = spread(load(spark, sf_dir, "documents"))
    grams = d.select(
        "doc_id", "source",
        F.explode(F.array_distinct(X.ngrams("text", 3))).alias("g"),
    )
    n_docs_with = F.count("*").over(W.partitionBy("source", "g"))
    per_doc = (
        grams.withColumn("n_docs_with", n_docs_with)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("n_docs_with") >= 2, 1).otherwise(0)).alias("n_shared"),
        )
    )
    base = d.select("doc_id")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
        F.round(
            F.coalesce(F.col("n_shared"), F.lit(0))
            / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)).cast("double"),
            6,
        ).alias("boilerplate_ratio"),
    )


# ---------------------------------------------------------------------------
# PII redaction — the acting half of the PII scan (pii_pattern_counts
# detects; this rewrites). The synthetic corpus carries no real PII, so the
# query first plants a deterministic contact line per doc (same expression
# both engines), then strips every email/IP/URL through the shared RE2-safe
# patterns. Narrow per-row map, no shuffle; output is the redacted text's
# md5 + the redaction count so the driver hashes proof-of-rewrite, not
# megabytes of text.
# ---------------------------------------------------------------------------

_REDACT = [
    ("n_emails", "<EMAIL>"),
    ("n_ipv4", "<IP>"),
    ("n_urls", "<URL>"),
]


@register(
    "pii_redact_text",
    oracle=f"""
    WITH planted AS (
      SELECT doc_id,
             text || ' contact: user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or http://host' || CAST(doc_id AS VARCHAR)
                  || '.test via 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 AS t
      FROM documents
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{X.PII_PATTERNS["n_emails"]}'))
             + len(regexp_extract_all(t, '{X.PII_PATTERNS["n_ipv4"]}'))
             + len(regexp_extract_all(t, '{X.PII_PATTERNS["n_urls"]}'))
               AS n_redacted,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
               '{X.PII_PATTERNS["n_emails"]}', '<EMAIL>', 'g'),
               '{X.PII_PATTERNS["n_ipv4"]}', '<IP>', 'g'),
               '{X.PII_PATTERNS["n_urls"]}', '<URL>', 'g')) AS redacted_md5
    FROM planted
    """,
)
def pii_redact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plant a per-doc contact line, then redact emails → <EMAIL>,
    IPv4 → <IP>, URLs → <URL> (emails before IPs/URLs: orderings where one
    pattern's replacement could feed another are pinned identically in
    both engines). Counts + md5 of the redacted text prove the rewrite."""
    d = spread(load(spark, sf_dir, "documents"))
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact: user"), F.col("doc_id").cast("string"),
            F.lit("@example.com or http://host"), F.col("doc_id").cast("string"),
            F.lit(".test via 10.0."), (F.col("doc_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("t"),
    )
    n = sum(
        (F.regexp_count(F.col("t"), F.lit(X.PII_PATTERNS[k])) for k, _ in _REDACT),
        F.lit(0),
    )
    red = F.col("t")
    for k, token in _REDACT:
        red = F.regexp_replace(red, X.PII_PATTERNS[k], token)
    return planted.select(
        "doc_id",
        n.alias("n_redacted"),
        F.md5(red).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# Robust length-outlier screen — median/MAD instead of mean/stddev (one
# giant doc shifts a mean; it cannot shift a median). Token counts are
# integers, so the interpolated median and MAD are exact multiples of 0.5
# — every comparison below is exact double arithmetic, identical across
# engines (no epsilon games).
# ---------------------------------------------------------------------------

_MAD_K = 3.0  # flag |x - median| > 3 * MAD


@register(
    "doc_length_outliers",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, {X.TOKEN_COUNT_SQL('text')} AS n FROM documents
    ),
    med AS (
      SELECT source, quantile_cont(n, 0.5) AS med FROM toks GROUP BY source
    ),
    dev AS (
      SELECT t.doc_id, t.source, t.n, m.med, abs(t.n - m.med) AS ad
      FROM toks t JOIN med m USING (source)
    ),
    mad AS (
      SELECT source, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY source
    )
    SELECT d.source,
           round(d.med, 1) AS median_tokens,
           round(m.mad, 1) AS mad_tokens,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN d.ad > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (source)
    GROUP BY d.source, d.med, m.mad
    """,
)
def doc_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source robust outlier counts: docs whose token count deviates
    from the source median by more than 3 MADs. Two grouped exact-percentile
    passes with a broadcast join-back between them — both aggs shuffle
    #sources groups only."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select("doc_id", "source", X.token_count("text").alias("n"))
    med = toks.groupBy("source").agg(F.percentile("n", 0.5).alias("med"))
    dev = toks.join(F.broadcast(med), "source").withColumn(
        "ad", F.abs(F.col("n") - F.col("med"))
    )
    mad = dev.groupBy("source").agg(F.percentile("ad", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "source")
        .groupBy("source", "med", "mad")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("ad") > _MAD_K * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "source",
            F.round("med", 1).alias("median_tokens"),
            F.round("mad", 1).alias("mad_tokens"),
            "n_docs",
            "n_outliers",
        )
    )


# BPE pair enumeration looks at the first _BPE_MAX_WORD symbols of a vocab
# word on BOTH engines (the oracle's generate_series is necessarily bounded;
# the Spark sequence caps to match). 64 covers every real tokenizer's
# max-word-length cutoff (HF tokenizers default 100; GPT-2 splits longer).
_BPE_MAX_WORD = 64


@register(
    "bpe_pair_merges",
    oracle=f"""
    WITH vocab AS (
      SELECT w, CAST(count(*) AS BIGINT) AS wn
      FROM (SELECT unnest({X.TOKENS_SQL('text')}) AS w FROM documents)
      WHERE length(w) >= 2
      GROUP BY w
    ),
    pairs AS (
      SELECT substring(v.w, CAST(t.i AS INTEGER), 2) AS pair, v.wn
      FROM vocab v JOIN generate_series(1, {_BPE_MAX_WORD - 1}) AS t(i)
        ON t.i <= length(v.w) - 1
    )
    SELECT pair, CAST(sum(wn) AS BIGINT) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 50
    """,
)
def bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer induction, round 0: the top adjacent-symbol-pair
    frequencies that a byte-pair-encoding trainer would merge first.

    Scale shape: the corpus is collapsed to its VOCABULARY first (groupBy
    word — one shuffle whose output is |vocab|, not corpus tokens), and
    character pairs are exploded over that tiny frame weighted by word
    frequency — the standard BPE trainer optimization (Sennrich et al.
    2016 operate on the word-frequency dictionary, never the raw corpus).
    At 100 TB the pair counting therefore touches ~millions of vocab rows
    instead of ~trillions of token rows; the final top-50 is a single
    reduction. All Catalyst HOFs (transform/sequence), no UDFs.
    """
    d = spread(load(spark, sf_dir, "documents"))
    vocab = (
        d.select(F.explode(X.tokens("text")).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wn"))
    )
    # adjacent char pairs of each vocab word: substring(w, i, 2), i = 1..len-1
    pairs = vocab.select(
        "wn",
        F.explode(
            F.expr(
            f"transform(sequence(1, least(length(w) - 1, {_BPE_MAX_WORD - 1})),"
            " i -> substring(w, i, 2))"
        )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("wn").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


@register(
    "split_leakage_audit",
    oracle=f"""
    WITH assigned AS (
      SELECT lang, {_SPLIT_CASE_SQL} AS split,
             {X.FINGERPRINT_SQL('text')} AS fp
      FROM documents
    ),
    by_fp AS (
      SELECT lang, fp,
             count(DISTINCT split) AS ns,
             CAST(count(*) AS BIGINT) AS nd
      FROM assigned GROUP BY lang, fp
    )
    SELECT lang,
           count(*) AS n_fingerprints,
           CAST(sum(CASE WHEN ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_leaked_fps,
           CAST(sum(CASE WHEN ns > 1 THEN nd ELSE 0 END) AS BIGINT)
               AS n_leaked_docs
    FROM by_fp GROUP BY lang
    """,
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test leakage audit: content fingerprints that land in more
    than one hash-assigned split (duplicate text crossing the train/eval
    boundary — the leak that inflates benchmark scores). Composes the
    deterministic split assignment with exact-dedup fingerprints; one
    fp-keyed agg + one lang-keyed agg, both bounded. A clean corpus
    (post exact-dedup) reports zero leaked fingerprints."""
    d = spread(load(spark, sf_dir, "documents"))
    by_fp = (
        d.select("lang", _split_col().alias("split"), X.fingerprint("text").alias("fp"))
        .groupBy("lang", "fp")
        .agg(
            F.count_distinct("split").alias("ns"),
            F.count("*").alias("nd"),
        )
    )
    return by_fp.groupBy("lang").agg(
        F.count("*").alias("n_fingerprints"),
        F.sum(F.when(F.col("ns") > 1, 1).otherwise(0)).alias("n_leaked_fps"),
        F.sum(F.when(F.col("ns") > 1, F.col("nd")).otherwise(0)).alias("n_leaked_docs"),
    )


@register(
    "ngram_novelty",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, unnest({S.WORD_SHINGLES_SQL('text')}) AS g
      FROM documents
    ),
    novel AS (
      SELECT first_doc AS doc_id, CAST(count(*) AS BIGINT) AS n_novel
      FROM (SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
      GROUP BY first_doc
    ),
    totals AS (
      SELECT doc_id,
             CAST(len({S.WORD_SHINGLES_SQL('text')}) AS BIGINT) AS n_grams
      FROM documents
    )
    SELECT t.doc_id, t.n_grams,
           CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
           round(coalesce(n.n_novel, 0) * 1.0 / greatest(t.n_grams, 1), 6)
               AS novelty
    FROM totals t LEFT JOIN novel n USING (doc_id)
    """,
)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the fraction of a doc's distinct
    3-shingles not already claimed by any lower-id document — the corpus
    redundancy curve used to prioritize fresh data and demote boilerplate
    re-crawls. First-claim is a shingle-keyed min agg (same bucket shape
    as boilerplate_ngram_ratio: the shuffle key is the shingle, collision-
    bound). NO join-back over the gram stream: per-doc totals come from
    size(shingles) per row, and novel counts are a second agg OVER THE
    FIRST-CLAIM OUTPUT (one row per distinct shingle), so after the one
    shingle-keyed shuffle everything is doc-cardinality — the join-back
    formulation re-shuffled the whole gram stream a second time (measured
    ~2x this plan). All exact integers + one final ratio."""
    d = spread(load(spark, sf_dir, "documents"))
    staged = S.staged_word_shingles(d.select("doc_id", "text"), "text")
    # explode_outer, NOT explode: InferFiltersFromGenerate adds a
    # `size(sh) > 0` filter under a plain explode, and filter pushdown
    # inlines the ENTIRE shingle HOF into it — a third full evaluation per
    # row (measured ~2x the query). Shingle arrays are never empty
    # (_shingles_of emits >= 1 element), so outer == inner here.
    grams = staged.select("doc_id", F.explode_outer("sh").alias("g"))
    novel = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count("*").alias("n_novel"))
        .withColumnRenamed("first_doc", "doc_id")
    )
    totals = staged.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
    return (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
            F.round(
                F.coalesce(F.col("n_novel"), F.lit(0))
                / F.greatest(F.col("n_grams"), F.lit(1)),
                6,
            ).alias("novelty"),
        )
    )


# winnowing match support: shared by the oracle f-string and the Spark
# filter so the two sides cannot drift. At 3 the synthetic corpus's tiny
# 500-word vocabulary made incidental 8-gram collisions explode to ~10M
# pairs at sf0.1; real near-dups sit at 24+ shared marks.
_MIN_SHARED = 20
# stop-fingerprint cap: a winnow mark appearing in more than this many docs
# is boilerplate/common-vocab noise (MOSS drops these for the same reason) —
# and, at scale, the join-fanout bound: a mark's candidate contribution is
# <= cap², never corpus².
_MAX_MARK_DOCS = 64


@register(
    "winnow_match_pairs",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id, {X.NORMALIZE_TEXT_SQL('text')} AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, t, greatest(length(t) - {_K_GRAM} + 1, 1) AS n_grams
      FROM norm
    ),
    hashes AS (
      SELECT doc_id, n_grams,
             list_transform(range(1, n_grams + 1),
                            i -> ('0x' || substr(md5(substr(t, i::INTEGER, {_K_GRAM})), 1, 8))::BIGINT)
                 AS hs
      FROM grams
    ),
    sketch AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 range(1, greatest(n_grams - {_WINNOW} + 1, 1) + 1),
                 i -> list_min(hs[i:i+{_WINNOW}-1]))) AS fp
      FROM hashes
    ),
    marks AS (
      SELECT doc_id, unnest(fp) AS h FROM sketch
    ),
    rare AS (
      SELECT h FROM marks GROUP BY h
      HAVING count(DISTINCT doc_id) <= {_MAX_MARK_DOCS}
    ),
    m AS (SELECT mk.doc_id, mk.h FROM marks mk JOIN rare USING (h))
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM m a JOIN m b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY doc_a, doc_b
    HAVING count(*) >= {_MIN_SHARED}
    """,
)
def winnow_match_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style match detection: document pairs sharing >= _MIN_SHARED
    winnowing fingerprints — the third dedup modality next to shingle-Jaccard and
    SimHash, and the one with a SUBSTRING guarantee (any shared run longer
    than w+k-1 chars must share a fingerprint, so verbatim excerpts cannot
    hide). Candidate generation is a bucket join on fingerprint VALUES
    (collision-bound — each doc contributes |sketch| ~ n/w marks, never
    corpus²); the support threshold (~a few hundred shared characters) is
    a grouped count."""
    fp = _winnow_sketch(spread(load(spark, sf_dir, "documents")))
    # EAGER: materialize the marks once — both self-join sides read the
    # checkpoint instead of re-running the corpus md5 sketch (the plan
    # otherwise evaluates the k-gram/zip_with chain twice; sketching is
    # the dominant cost, per the 940s-vs-1s note in _winnow_sketch). Same
    # precedent as near_dup_pairs' checkpointed signature frame.
    all_marks = fp.select("doc_id", F.explode_outer("_fp").alias("h")).transform(_pin)
    # stop-fingerprint screen: marks held by > _MAX_MARK_DOCS docs are
    # dropped before the self-join — precision (boilerplate marks assert
    # nothing about copying) AND the hard fan-out bound (194x blowup on
    # the 10-way-replicated sf1 probe without it)
    rare = (
        all_marks.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("_nd"))
        .filter(F.col("_nd") <= _MAX_MARK_DOCS)
        .select("h")
    )
    marks = all_marks.join(rare, "h")
    a = marks.select(F.col("doc_id").alias("doc_a"), "h")
    b = marks.select(F.col("doc_id").alias("doc_b"), "h")
    return (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= _MIN_SHARED)
    )


@register(
    "vocab_growth_curve",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({X.TOKENS_SQL('lower(text)')}) AS token
      FROM documents
    ),
    first_claim AS (
      SELECT token, min(doc_id) AS first_doc FROM toks GROUP BY token
    ),
    bounds AS (SELECT max(doc_id) AS mx FROM documents),
    buckets AS (
      SELECT least(CAST(first_doc * 10 // (b.mx + 1) AS BIGINT) + 1, 10)
                 AS decile,
             CAST(count(*) AS BIGINT) AS n_new_tokens
      FROM first_claim CROSS JOIN bounds b
      GROUP BY decile
    )
    SELECT decile, n_new_tokens,
           CAST(sum(n_new_tokens) OVER (ORDER BY decile) AS BIGINT)
               AS vocab_size
    FROM buckets
    """,
)
def vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth: distinct tokens first seen in each
    doc-id decile of the corpus, with the running vocabulary size — the
    diagnostic for 'is more crawl still adding words'. First-claim is one
    token-keyed agg (vocabulary-bound output); the decile bucketing uses a
    broadcast 1-row max scalar (exact integer floor-div on both engines),
    and the cumulative sum windows over the 10-row bucket frame only."""
    d = spread(load(spark, sf_dir, "documents"))
    # plain explode: tokens() has no lambda (rule 5 does not apply) and the
    # oracle's unnest drops NULL arrays — explode_outer would emit a
    # spurious NULL token for a NULL-text doc
    toks = d.select("doc_id", F.explode(X.tokens(F.lower(F.col("text")))).alias("token"))
    first_claim = toks.groupBy("token").agg(F.min("doc_id").alias("first_doc"))
    mx = d.agg(F.max("doc_id").alias("mx"))
    buckets = (
        first_claim.crossJoin(F.broadcast(mx))
        .groupBy(
            F.least(
                F.expr("(first_doc * 10) div (mx + 1)") + 1, F.lit(10)
            ).alias("decile")
        )
        .agg(F.count("*").alias("n_new_tokens"))
    )
    w = W.orderBy("decile").rowsBetween(W.unboundedPreceding, W.currentRow)
    return buckets.select(
        "decile",
        "n_new_tokens",
        F.sum("n_new_tokens").over(w).cast("long").alias("vocab_size"),
    )


@register(
    "bigram_lift",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {X.TOKENS_SQL('lower(text)')} AS tk FROM documents
    ),
    uni AS (
      SELECT t AS w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(tk) AS t FROM toks) GROUP BY w
    ),
    bg AS (
      SELECT tk[CAST(i AS INTEGER)] AS w1, tk[CAST(i + 1 AS INTEGER)] AS w2,
             CAST(count(*) AS BIGINT) AS n_bg
      FROM toks JOIN generate_series(1, 256) AS s(i) ON s.i <= len(tk) - 1
      GROUP BY w1, w2
    ),
    totals AS (
      SELECT (SELECT CAST(sum(n) AS BIGINT) FROM uni) AS t_tokens,
             (SELECT CAST(sum(n_bg) AS BIGINT) FROM bg) AS t_bigrams
    )
    SELECT bg.w1, bg.w2, bg.n_bg,
           round((bg.n_bg * 1.0 / t.t_bigrams)
                 / ((u1.n * 1.0 / t.t_tokens) * (u2.n * 1.0 / t.t_tokens)),
                 6) AS lift
    FROM bg
    JOIN uni u1 ON u1.w = bg.w1
    JOIN uni u2 ON u2.w = bg.w2
    CROSS JOIN totals t
    WHERE bg.n_bg >= 5
    ORDER BY lift DESC, bg.w1, bg.w2
    LIMIT 50
    """,
)
def bigram_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top adjacent-token bigrams by LIFT (observed
    bigram rate over the independence expectation of its unigrams) — the
    signal behind multi-word-token candidates and template detection.
    Bigram extraction is per-row (sequence/transform over the token
    array, linear in tokens — never a token self-join); the two marginal
    joins hit the vocabulary-sized unigram frame, and the corpus totals
    ride one broadcast 1-row scalar. Every ratio divides exact counts in
    a fixed association order, so the rounded lift hashes cross-engine."""
    d = spread(load(spark, sf_dir, "documents"))
    toks = d.select(X.tokens(F.lower(F.col("text"))).alias("tk"))
    # uni is referenced three times (both marginal joins + the token
    # total) and bg twice (lift + the bigram total); Catalyst plans DAG
    # reuse as tree duplication, so left lazy each reference re-tokenizes
    # the corpus — 5 document scans for one query (scan fan-out fence).
    # Pinning the two VOCABULARY-sized aggregates bounds tokenization at
    # two passes; pin (localCheckpoint / reliable checkpoint) rather than
    # persist() because a persist here leaked its CacheManager entries —
    # they are keyed by logical plan and survive the frames' GC, so every
    # invocation in a long-lived session accumulated two cached frames
    # (r8 ADVICE). Checkpoint blocks are released by the ContextCleaner
    # when the frames go out of scope. The pinned frames are tiny
    # relative to the corpus at any scale.
    uni = (
        toks.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    ).transform(_pin)
    bg = (
        toks.select(
            F.explode_outer(
                F.expr(
                    "transform(sequence(1, greatest(least(size(tk) - 1, 256), 1)),"
                    " i -> struct(tk[i - 1] AS w1, tk[i] AS w2))"
                )
            ).alias("p")
        )
        .filter(F.col("p.w2").isNotNull())
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count("*").alias("n_bg"))
    ).transform(_pin)
    totals = uni.agg(F.sum("n").alias("t_tokens")).crossJoin(
        F.broadcast(bg.agg(F.sum("n_bg").alias("t_bigrams")))
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("n").alias("n2"))
    lift = F.round(
        (F.col("n_bg") / F.col("t_bigrams"))
        / ((F.col("n1") / F.col("t_tokens")) * (F.col("n2") / F.col("t_tokens"))),
        6,
    )
    return (
        bg.filter(F.col("n_bg") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(totals))
        .select("w1", "w2", "n_bg", lift.alias("lift"))
        .orderBy(F.desc("lift"), "w1", "w2")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Round 5: lang-ID evaluation + Zipf rank-frequency diagnostics.
# ---------------------------------------------------------------------------


@register(
    "lang_id_confusion",
    oracle=f"""
    SELECT lang AS labeled_lang,
           {X.LANG_ID_SQL('text')} AS detected_lang,
           count(*) AS n_docs
    FROM documents
    GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the corpus label vs the stopword-hit lang-ID —
    the classifier-eval a curation run does before trusting a detector to
    route documents. One vocabulary-bound shuffle on the (label, detected)
    pair; the heavy per-row scan is the detector itself (narrow map).
    Exact integer counts, so the matrix hashes identically cross-engine."""
    d = spread(load(spark, sf_dir, "documents"))
    return (
        d.select(
            F.col("lang").alias("labeled_lang"),
            X.lang_id("text").alias("detected_lang"),
        )
        .groupBy("labeled_lang", "detected_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@register(
    "zipf_rank_freq",
    oracle=f"""
    WITH toks AS (
      SELECT unnest({X.TOKENS_SQL('text')}) AS token FROM documents
    ),
    freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS freq FROM toks GROUP BY token
    ),
    ranked AS (
      SELECT token, freq,
             CAST(row_number() OVER (ORDER BY freq DESC, token) AS BIGINT) AS rank
      FROM freq
    )
    SELECT rank, token, freq, rank * freq AS rank_freq_product
    FROM ranked WHERE rank <= 100
    """,
)
def zipf_rank_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency curve of the top-100 tokens — the standard
    distribution-shift smoke test between corpus snapshots: under Zipf's
    law rank×freq is ~constant, so the exact-integer product column IS the
    fit diagnostic (a drifting product profile means the vocabulary
    distribution changed). Deliberately no ln() columns: JVM Math.log and
    DuckDB's libm differ in the last ulp on some integers (ln(936) observed
    differing), so the curve ships exact integers and the consumer takes
    logs. The rank window runs on the VOCABULARY-bound frequency frame,
    never corpus rows (same bounded-curve class as vocab_coverage)."""
    d = spread(load(spark, sf_dir, "documents"))
    freq = (
        d.select(F.explode(X.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )
    rank = F.row_number().over(W.orderBy(F.desc("freq"), "token")).cast("long")
    return (
        freq.withColumn("rank", rank)
        .filter(F.col("rank") <= 100)
        .select(
            "rank",
            "token",
            "freq",
            (F.col("rank") * F.col("freq")).alias("rank_freq_product"),
        )
    )


@register(
    "source_token_profile",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum({X.TOKEN_COUNT_SQL('text')}) AS BIGINT) AS total_tokens,
           CAST(sum({X.STOPWORD_HITS_SQL('text')}) AS BIGINT) AS stopword_hits,
           CAST(sum({X.STOPWORD_HITS_SQL('text')}) AS DOUBLE)
             / greatest(CAST(sum({X.TOKEN_COUNT_SQL('text')}) AS BIGINT), 1)
             AS stopword_share,
           CAST(sum({X.TOKEN_COUNT_SQL('text')}) AS DOUBLE) / count(*)
             AS avg_tokens_per_doc
    FROM documents
    GROUP BY source
    """,
)
def source_token_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE token/stopword profile — the corpus-composition audit a
    mixture plan reads before setting source weights (a source whose
    stopword share collapses is markup/code, not prose). All sums are
    exact integer hit counts (functions/text.stopword_hits), so the
    source-level shares are single divisions of exact values — no float
    summation order anywhere. One combiner-friendly shuffle on source."""
    d = spread(load(spark, sf_dir, "documents"))
    per_doc = d.select(
        "source",
        X.token_count("text").alias("_tok"),
        X.stopword_hits("text").alias("_hit"),
    )
    return per_doc.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("_tok").alias("total_tokens"),
        F.sum("_hit").alias("stopword_hits"),
        (
            F.sum("_hit").cast("double")
            / F.greatest(F.sum("_tok"), F.lit(1))
        ).alias("stopword_share"),
        (F.sum("_tok").cast("double") / F.count("*")).alias("avg_tokens_per_doc"),
    )


@register(
    "char_class_profile",
    oracle="""
    SELECT source,
           CAST(sum(length(text)) AS BIGINT) AS n_chars,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]'))) AS BIGINT)
             AS n_letters,
           CAST(sum(len(regexp_extract_all(text, '[0-9]'))) AS BIGINT)
             AS n_digits,
           CAST(sum(len(regexp_extract_all(text, '\\s'))) AS BIGINT)
             AS n_spaces,
           CAST(sum(len(regexp_extract_all(text, '[A-Za-z]'))) AS DOUBLE)
             / greatest(CAST(sum(length(text)) AS BIGINT), 1) AS letter_share,
           CAST(sum(len(regexp_extract_all(text, '[0-9]'))) AS DOUBLE)
             / greatest(CAST(sum(length(text)) AS BIGINT), 1) AS digit_share
    FROM documents GROUP BY source
    """,
)
def char_class_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per source (letters/digits/whitespace
    counts and shares) — the cheap markup/code/table detector at corpus
    scale: prose sources sit near stable letter shares, scraped tables and
    code push digits and symbols up. Exact regexp counts summed as
    integers; shares are single divisions. Narrow per-row map + a
    source-keyed combine."""
    d = spread(load(spark, sf_dir, "documents"))
    per = d.select(
        "source",
        F.length("text").alias("_c"),
        F.regexp_count(F.col("text"), F.lit("[A-Za-z]")).alias("_l"),
        F.regexp_count(F.col("text"), F.lit("[0-9]")).alias("_d"),
        F.regexp_count(F.col("text"), F.lit(r"\s")).alias("_s"),
    )
    tot = F.sum("_c")
    return per.groupBy("source").agg(
        tot.alias("n_chars"),
        F.sum("_l").alias("n_letters"),
        F.sum("_d").alias("n_digits"),
        F.sum("_s").alias("n_spaces"),
        (F.sum("_l").cast("double") / F.greatest(tot, F.lit(1))).alias("letter_share"),
        (F.sum("_d").cast("double") / F.greatest(tot, F.lit(1))).alias("digit_share"),
    )


# ---------------------------------------------------------------------------
# Token diversity (Simpson index) histogram — the lexical-diversity quality
# screen: Simpson's D = 1 − Σc(c−1)/(n(n−1)) over a doc's token counts is
# the probability two random token draws differ; boilerplate and
# keyword-stuffed spam score low. Chosen over Shannon entropy for the
# oracle because every per-doc value is ONE division of exact integers —
# no transcendental whose last-ulp could differ across engines. Explode →
# (doc, token) count → per-doc reduction; all shuffles are corpus-bounded.
# ---------------------------------------------------------------------------


@register(
    "token_diversity_histogram",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({X.TOKENS_SQL('text')}) AS t FROM documents
    ),
    cnt AS (
        SELECT doc_id, t, count(*) AS c FROM tok GROUP BY doc_id, t
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tokens,
               count(*) AS n_types,
               CAST(sum(c * (c - 1)) AS BIGINT) AS coll
        FROM cnt GROUP BY doc_id
    )
    SELECT CAST(floor(100.0 * (1.0 - CAST(coll AS DOUBLE)
                  / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1.0))))
                AS BIGINT) AS simpson_pct,
           count(*) AS n_docs,
           CAST(sum(n_types) AS BIGINT) AS total_types,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM per_doc
    WHERE n_tokens > 1
    GROUP BY 1
    """,
)
def token_diversity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(X.tokens("text")).alias("t"))
    cnt = tok.groupBy("doc_id", "t").agg(F.count("*").alias("c"))
    per_doc = cnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).alias("coll"),
    ).where(F.col("n_tokens") > 1)
    simpson = F.floor(
        100.0
        * (
            F.lit(1.0)
            - F.col("coll").cast("double")
            / (F.col("n_tokens").cast("double") * (F.col("n_tokens") - F.lit(1.0)))
        )
    ).alias("simpson_pct")
    return per_doc.select(simpson, "n_types", "n_tokens").groupBy(
        "simpson_pct"
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_types").alias("total_types"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Source vocabulary overlap — pairwise Jaccard of the distinct-token sets of
# every source pair: the corpus-composition diagnostic that finds
# near-identical crawls BEFORE document-level dedup spends a cluster on
# them. The self-join keys on token over the (source, token) DISTINCT frame
# (vocabulary-bound, ≪ corpus); degrees broadcast.
# ---------------------------------------------------------------------------


@register(
    "source_vocab_overlap",
    oracle=f"""
    WITH st AS (
        SELECT DISTINCT source, unnest({X.TOKENS_SQL('text')}) AS t
        FROM documents
    ),
    deg AS (SELECT source, count(*) AS v FROM st GROUP BY source),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b, count(*) AS both_v
        FROM st a JOIN st b ON a.t = b.t AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.both_v,
           da.v AS vocab_a, db.v AS vocab_b,
           round(CAST(i.both_v AS DOUBLE)
                 / (da.v + db.v - i.both_v), 6) AS vocab_jaccard
    FROM inter i
    JOIN deg da ON da.source = i.src_a
    JOIN deg db ON db.source = i.src_b
    """,
)
def source_vocab_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    st = d.select(
        "source", F.explode(X.tokens("text")).alias("t")
    ).distinct()
    deg = st.groupBy("source").agg(F.count("*").alias("v"))
    a = st.select(F.col("source").alias("src_a"), "t")
    b = st.select(F.col("source").alias("src_b"), "t")
    inter = (
        a.join(b, "t")
        .where(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("both_v"))
    )
    return (
        inter.join(
            F.broadcast(
                deg.select(F.col("source").alias("src_a"), F.col("v").alias("vocab_a"))
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                deg.select(F.col("source").alias("src_b"), F.col("v").alias("vocab_b"))
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "both_v",
            "vocab_a",
            "vocab_b",
            F.round(
                F.col("both_v").cast("double")
                / (F.col("vocab_a") + F.col("vocab_b") - F.col("both_v")),
                6,
            ).alias("vocab_jaccard"),
        )
    )


#: feature-hash dimensionality and the deterministic pseudo-weight formula —
#: a stand-in for trained classifier weights, computable identically in both
#: engines (bucket -> weight in [-0.5, 0.5) with 3 decimal places).
FEAT_HASH_DIM = 256


# ---------------------------------------------------------------------------
# Feature-hash linear scorer — the fastText-shaped quality classifier layout
# used by pretraining data filters: tokens hash into FEAT_HASH_DIM buckets
# (feature hashing, no vocabulary), the doc's bucket counts dot a weight
# vector, scores histogram. Weights here are a deterministic bucket formula
# (a trained model would broadcast a literal array — same plan); the whole
# scorer is exact-integer until one final rational per doc.
# ---------------------------------------------------------------------------


@register(
    "feature_hash_quality_score",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest({X.TOKENS_SQL('text')}) AS t FROM documents
    ),
    b AS (
        SELECT doc_id, {S.HASH32_SQL('t')} % {FEAT_HASH_DIM} AS bucket,
               count(*) AS c
        FROM tok GROUP BY doc_id, bucket
    ),
    scored AS (
        SELECT doc_id,
               CAST(sum(c * ((bucket * 2654435761) % 1000 - 500)) AS BIGINT)
                   AS raw,
               CAST(sum(c) AS BIGINT) AS n_tok
        FROM b GROUP BY doc_id
    )
    SELECT CAST(floor(10.0 * CAST(raw AS DOUBLE) / n_tok / 500.0) AS BIGINT)
               AS score_bucket,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM scored GROUP BY 1
    """,
)
def feature_hash_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(X.tokens("text")).alias("t"))
    b = tok.select(
        "doc_id", (S.hash32(F.col("t")) % FEAT_HASH_DIM).alias("bucket")
    ).groupBy("doc_id", "bucket").agg(F.count("*").alias("c"))
    w = (F.col("bucket") * F.lit(2654435761)) % 1000 - 500
    scored = b.groupBy("doc_id").agg(
        F.sum(F.col("c") * w).alias("raw"),
        F.sum("c").alias("n_tok"),
    )
    return (
        scored.select(
            F.floor(
                10.0 * F.col("raw").cast("double") / F.col("n_tok") / 500.0
            ).alias("score_bucket"),
            "n_tok",
        )
        .groupBy("score_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Prefix-duplication audit — docs sharing an identical leading 64 chars
# (the crawl artifact exact-hash dedup misses: same boilerplate head,
# different tails). One substring-keyed reduction; per-source rates from
# exact integers.
# ---------------------------------------------------------------------------


@register(
    "prefix_dup_audit",
    oracle="""
    WITH p AS (
        SELECT source, substr(text, 1, 64) AS pre FROM documents
    ),
    g AS (
        SELECT source, pre, count(*) AS c FROM p GROUP BY source, pre
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
               AS n_prefix_dup_docs,
           CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_prefixes,
           round(100.0 * CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
                              AS DOUBLE) / sum(c), 4) AS dup_doc_pct
    FROM g GROUP BY source
    """,
)
def prefix_dup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load(spark, sf_dir, "documents"))
    g = d.select("source", F.substring("text", 1, 64).alias("pre")).groupBy(
        "source", "pre"
    ).agg(F.count("*").alias("c"))
    dup_docs = F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
    return g.groupBy("source").agg(
        F.sum("c").alias("n_docs"),
        dup_docs.alias("n_prefix_dup_docs"),
        F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("n_dup_prefixes"),
        F.round(100.0 * dup_docs.cast("double") / F.sum("c"), 4).alias(
            "dup_doc_pct"
        ),
    )
