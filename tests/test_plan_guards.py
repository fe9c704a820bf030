"""Plan-regression guards — the PLANS.md design rules as executable tests.

Reads the physical plan of every SQL execution that EVERY registered
query ran at sf0.001 (the shared executed pass in conftest: pins, probes
and driver-route collects are executions of their own, and the size-gated
queries run a second time with their scale route forced) and asserts the
scale invariants hold:

  1. no CartesianProduct anywhere;
  2. BroadcastNestedLoopJoin only where a bounded build side justifies it
     (explicit allowlist — the exhaustive ground-truth evals, the banded
     range join, and broadcast 1-row scalar aggregates);
  3. no row-at-a-time Python UDFs (BatchEvalPython) in any plan — the
     zero-UDF rule; Arrow-batched mapInPandas is the one sanctioned
     Python path (multimodal decode);
  4. no single-partition window outside the two documented bounded curves.

A new query that violates a rule fails HERE with its name, instead of
surfacing as a mystery regression in a future round's bench tail.
"""

from __future__ import annotations

import re

import pytest

from tools.plan_audit import CC_CALLERS, RANK_QUERIES, table_scans

SF_DIR = "/root/testdata/sf0.001"

# BNLJ is legitimate only where the docstring pins a bounded side:
BNLJ_ALLOWED = {
    "ann_bruteforce_topk",      # exhaustive by spec (the recall baseline)
    "hard_negative_mining",     # same broadcast 5-probe exhaustive scan
    "dedup_simhash_pairs",      # guarded all-pairs ground truth (capped)
    "dedup_ngram_jaccard",      # guarded all-pairs ground truth (capped)
    "lsh_recall_eval",          # consumes the exhaustive baseline above
    "range_join_price_bands",   # theta join against a 9-row band table
    "embedding_quantization_stats",  # broadcast scalar-aggregate crossjoin
    "temperature_mixture_weights",   # broadcast 1-row total crossjoin
    "forecast_revenue_change",       # broadcast scalar aggregates
    "top_supplier_revenue",          # broadcast scalar max (the r3 fix)
    "corpus_mixture_plan",           # broadcast 1-row weight normalizer
    "funnel_conversion",             # three broadcast 1-row stage counts
    "vocab_coverage",                # broadcast corpus-total scalar
    "vocab_growth_curve",            # broadcast 1-row max-doc-id scalar
    "bigram_lift",                   # broadcast 1-row corpus-totals scalar
    "cross_source_overlap",          # broadcast per-source totals (~20 rows)
    "promo_revenue_pct",             # broadcast scalar ratio denominator
    "lsh_bucket_stats",              # broadcast 1-row corpus total
    "minhash_band_candidates",       # broadcast 1-row candidate total
    "important_part_value",          # broadcast scalar threshold subquery
    "priority_share_drift",          # broadcast 1-row grand-total scalar
    "revenue_pareto_curve",          # broadcast 1-row revenue total + 1-row global rank bounds
    "user_activity_gini",            # broadcast 1-row global rank bounds
    "ab_assignment_lift",            # two 1-row arm frames crossjoined
    "referential_integrity_audit",   # three 1-row audit counts crossjoined
    "label_balance_weights",         # broadcast 1-row total/k scalars
    "embedding_top_eigen_power",     # broadcast 1-row Rayleigh/max scalars
    "scalar_subquery_below_avg",     # broadcast scalar average
    "not_exists_rich_inactive",      # broadcast scalar avg-balance crossjoin
    "tfidf_top_terms",               # broadcast scalar corpus doc count
    "rfm_segmentation",              # broadcast 9-scalar quartile boundaries
    "embedding_coverage_audit",      # broadcast 1-row orphan-count crossjoin
    "divergence_top_terms",          # two broadcast 1-row split totals
}

# the documented bounded global-window curves (PLANS.md inventory):
# cumulative_distinct_users runs over one row per DAY; vocab_coverage and
# tfidf_top_terms rank/accumulate over the (vocabulary-bound) term frame
GLOBAL_WINDOW_ALLOWED = {
    "cumulative_distinct_users",
    "vocab_coverage",
    "tfidf_top_terms",
    "vocab_growth_curve",  # cumsum over the 10-row decile frame only
    "zipf_rank_freq",      # rank over the vocabulary-bound frequency frame
    "revenue_mom_growth",  # lag over one row per calendar month
    "orders_backlog_timeline",  # running sum over one row per day
    "daily_revenue_trend",      # centered MA over one row per day
    # adaptive global ranks (r9): below the probed SMALL_GROUP_ROWS the
    # plain global window runs (the probe proves the frame fits one
    # task); above it the sharded construction engages, whose only
    # global window is the offsets cumsum over the ≤num_buckets-row
    # bucket-counts frame — the sharded shape runs and is audited on
    # the forced pass (tools/plan_audit.FORCED)
    "user_activity_gini",
    "revenue_pareto_curve",
    "peak_concurrent_sessions",  # running sum over one row per minute
}


@pytest.fixture(scope="module")
def plans(executed):
    """{query: the plans of every SQL execution it ran} — pins, probes and
    driver-route collects included — from the shared executed pass
    (conftest) and, for the size-gated queries, its forced pass."""
    failed = {
        f"{p}:{n}": r.error
        for p, runs in (("default", executed.default), ("forced", executed.forced))
        for n, r in runs.items()
        if r.error
    }
    assert not failed, "; ".join(f"{k}: {v}" for k, v in sorted(failed.items()))
    return {
        n: r.plans + (executed.forced[n].plans if n in executed.forced else [])
        for n, r in executed.default.items()
    }


def _cartesian(plans):
    return [n for n, ps in plans.items() if any("CartesianProduct" in p for p in ps)]


def test_no_cartesian_products(plans):
    offenders = _cartesian(plans)
    assert not offenders, offenders


def test_bnlj_only_where_bounded(plans):
    offenders = [
        n for n, ps in plans.items()
        if n not in BNLJ_ALLOWED and any("BroadcastNestedLoopJoin" in p for p in ps)
    ]
    assert not offenders, offenders


def test_no_row_python_udfs(plans):
    offenders = [n for n, ps in plans.items() if any("BatchEvalPython" in p for p in ps)]
    assert not offenders, offenders


def test_fence_sees_inside_pinned_stages(spark):
    """A regression planted inside a pinned stage: the pin's own execution
    holds a CartesianProduct, while the unexecuted plan of the returned
    frame is a scan of the pin and shows nothing."""
    from pyspark.sql import functions as F

    from end_to_end_azure_data_engineering_spark.engine.pin import pin, release_checkpoints
    from end_to_end_azure_data_engineering_spark.queries import load
    from tools.plan_audit import executed_plans

    def planted(spark, sf_dir):
        n = load(spark, sf_dir, "nation").select("n_nationkey")
        other = n.select(F.col("n_nationkey").alias("k")).hint("shuffle_replicate_nl")
        return n.crossJoin(other).transform(pin).select("k")

    df = planted(spark, SF_DIR)
    unexecuted = df._jdf.queryExecution().executedPlan().toString()
    release_checkpoints(df)
    assert _cartesian({"planted": [unexecuted]}) == []
    assert _cartesian({"planted": executed_plans(spark, planted, SF_DIR)}) == ["planted"]


def _unreleased(passes: dict) -> dict[str, str]:
    """``pass:query`` -> what its run left behind: persisted RDDs, or a
    CacheManager entry (keyed by logical plan, these survive object GC)."""
    out = {}
    for p, runs in passes.items():
        for n, r in runs.items():
            left = [f"{len(r.leaked)} persisted RDDs"] if r.leaked else []
            left += ["a cache entry"] if r.cached else []
            if left:
                out[f"{p}:{n}"] = " and ".join(left)
    return out


def test_queries_release_every_pin(executed):
    """No query — on its default or its forced route — leaves a persisted
    RDD or a CacheManager entry behind once ``release_checkpoints`` ran on
    its result (bigram_lift (r8) and embedding_top_eigen_power (r9) each
    once leaked a persisted frame per call)."""
    leaks = _unreleased({"default": executed.default, "forced": executed.forced})
    assert not leaks, ", ".join(f"{k}: {v}" for k, v in sorted(leaks.items()))


def test_bigram_lift_leaves_no_cache_entries(executed):
    """r8 ADVICE: bigram_lift persisted its two vocabulary-sized frames
    and never unpersisted them — CacheManager entries are keyed by
    logical plan and survive object GC, so every invocation in a
    long-lived session leaked two cached frames. The frames are pinned
    (checkpointed) now; its full run in the shared executed pass (cache
    cleared first) must leave the cache empty."""
    run = executed.default["bigram_lift"]
    assert run.error is None, run.error
    assert not run.cached


def test_eigen_power_leaves_no_cache_entries(executed):
    """Runtime twin of the static persist/unpersist fence for the second
    leak instance (embedding_top_eigen_power, r9)."""
    run = executed.default["embedding_top_eigen_power"]
    assert run.error is None, run.error
    assert not run.cached


def test_pin_fence_names_a_persisted_result(spark, run_query):
    """A leak planted in a query: it returns a ``persist()``ed frame."""
    from end_to_end_azure_data_engineering_spark.queries import load

    run = run_query(lambda spark, sf_dir: load(spark, sf_dir, "nation").persist())
    spark.catalog.clearCache()
    assert "a cache entry" in _unreleased({"default": {"planted": run}})["default:planted"]


# ---------------------------------------------------------------------------
# Scan fan-out fence (late r8): Catalyst plans DAG reuse as TREE
# DUPLICATION — a frame referenced k times re-derives its whole lineage k
# times, scanning the table underneath k times (with_tie_ranks was caught
# at 40 part scans / 58 exchanges / zero exchange reuse before its
# materialize fix). Rule: no registered query may scan one table more than
# SCAN_FANOUT_MAX times in any one of its executions, except the documented batch-simulation demos
# where each re-read is a pushdown-pruned SLICE standing in for a separate
# incremental batch / funnel stage / n-gram pass (production runs of those
# macro-ops materialize between merges — plans/pipeline.py goes through
# the warehouse, so each merge branch scans a stored table, not a
# re-derived lineage).
SCAN_FANOUT_MAX = 4
SCAN_FANOUT_ALLOWED = {
    "idempotent_append": 7,     # two overlapping batch slices + replay, anti-join branches
    "funnel_conversion": 6,     # one filtered scan per funnel stage (disjoint event-type slices)
}


def _fanout_offenders(scans: dict) -> list[str]:
    offenders = []
    for n, counts in scans.items():
        cap = SCAN_FANOUT_ALLOWED.get(n, SCAN_FANOUT_MAX)
        worst = [(t, c) for t, c in sorted(counts.items()) if c > cap]
        if worst:
            offenders.append(f"{n}: {worst} (cap {cap})")
    return offenders


def test_table_scan_fanout(plans):
    """Counted over every execution a query ran, pins and probes included
    (tools/plan_audit.table_scans)."""
    offenders = _fanout_offenders({n: table_scans(ps) for n, ps in plans.items()})
    assert not offenders, (
        "table scanned more times than the fan-out cap — a lazy frame is "
        "referenced repeatedly and re-derives its lineage per reference; "
        f"pin it (materialize) or document the slice semantics: {offenders}"
    )


def test_fanout_fence_sees_inside_pinned_stages(spark):
    """A re-scan planted inside a pinned stage: the pin's execution reads
    one table five times, while the formatted explain of the returned
    frame shows only the pin's ``Scan ExistingRDD``."""
    from collections import Counter
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from end_to_end_azure_data_engineering_spark.engine.pin import pin, release_checkpoints
    from end_to_end_azure_data_engineering_spark.queries import load
    from tools.plan_audit import TABLE_RE, executed_plans

    def planted(spark, sf_dir):
        n = load(spark, sf_dir, "nation")
        reads = [n.filter(F.col("n_regionkey") == r) for r in range(5)]
        return reduce(DataFrame.unionByName, reads).transform(pin)

    df = planted(spark, SF_DIR)
    formatted = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    release_checkpoints(df)
    assert _fanout_offenders({"planted": Counter(TABLE_RE.findall(formatted))}) == []
    scans = table_scans(executed_plans(spark, planted, SF_DIR))
    assert _fanout_offenders({"planted": scans}) == ["planted: [('nation', 5)] (cap 4)"]


# ---------------------------------------------------------------------------
# Low-cardinality window fence (r8): a Window that partitions ONLY by
# bounded-cardinality keys sorts O(N/G) rows on each of G tasks forever —
# at 100 TB a `PARTITION BY c_mktsegment` ntile is five 300M-row
# single-task sorts. The SinglePartition fence above cannot see this (the
# exchange is a hash exchange, just a degenerate one). Rule: every Window
# node's partition spec must either
#   (a) contain a key whose cardinality GROWS with the data
#       (SCALING_WINDOW_KEYS — business ids, fingerprints, component
#       labels) or a sharding KNOB key (_rbucket / shard: fixed count B
#       chosen like shuffle.partitions, cutting per-task frames B×, the
#       sharded_row_number / PACK_SHARD construction), or
#   (b) be rank-limited in the same plan (a WindowGroupLimit with the
#       same partition spec bounds surviving rows per group to k — Spark
#       plans every rank<=k filter this way), or
#   (c) carry a WINDOW_LOWCARD_ALLOWED entry naming the bounded frame the
#       window actually runs over.
# The four §2.5 distribution queries were rewritten onto
# operators/ranks.py::sharded_row_number in r8 exactly to satisfy this
# fence; their only remaining group-keyed window is the per-bucket offsets
# cumsum over a ≤NUM_BUCKETS-row-per-group counts frame.
SCALING_WINDOW_KEYS = {
    "user_id", "o_custkey", "c_custkey", "l_partkey", "l_orderkey",
    "doc_id", "vec_id", "probe_id", "fp", "label",
    "_rbucket", "shard",
}

# r9: sharded_row_number is ADAPTIVE — at this audit's tiny SF either the
# zero-job proof walker (r10: leaf chains, unique-dim equi-joins; declines
# Generate/Expand) or the row probe proves every group under
# SMALL_GROUP_ROWS and the queries below plan a PLAIN per-group window
# (provably one bounded task per group). Their 100 TB shape — the sharded
# construction whose only group-keyed window is the bounded offsets
# cumsum — runs on the forced pass (tools/plan_audit.FORCED), which this
# fence also walks;
# tests/test_ranks.py::test_adaptive_switch_is_size_gated and
# ::test_zero_job_tier_bounds_unique_dim_join pin the tier behavior.
WINDOW_LOWCARD_ALLOWED: dict[str, str] = {
    "customer_spend_deciles": "adaptive: plain window on provably-small frames; sharded shape audited on the forced pass",
    "order_value_distribution": "adaptive: zero-job unique-dim proof at small SF; sharded shape audited on the forced pass",
    "quality_quantile_normalize": "adaptive: plain window on provably-small frames; sharded shape audited on the forced pass",
    "supplier_percentile_ranks": "adaptive: zero-job unique-dim proof at small SF; sharded shape audited on the forced pass",
    "part_size_tie_ranks": "adaptive: plain windows below probed SMALL_GROUP_ROWS; sharded shape audited on the forced pass",
    "dedup_token_audit": "partition key is md5(text) (prints as _w0): distinct-document cardinality, scales with corpus",
    "lang_confidence_quantiles": "sharded path pinned (small_group_rows=0): the lang_grp window is the offsets cumsum over the ≤num_buckets-row-per-language counts frame; the data sort shards on (lang_grp, _rbucket)",
    "token_length_quartiles": "adaptive: Generate upstream forces the row probe (zero-job proof declines), plain window only below SMALL_GROUP_ROWS; sharded shape (tiebreaker fold on the ~15-distinct tok_len key) audited on the forced pass",
}

_WIN_RE = re.compile(r"Window \[.*\], \[([^\[\]]*)\], \[[^\[\]]*\]\s*$")
_GROUPLIMIT_RE = re.compile(r"WindowGroupLimit \[([^\[\]]*)\]")


def _norm_spec(spec: str) -> tuple:
    return tuple(sorted(t.strip().split("#")[0] for t in spec.split(",") if t.strip()))


def test_window_partition_keys_scale(plans):
    offenders = []
    for n, ps in plans.items():
        if n in WINDOW_LOWCARD_ALLOWED:
            continue
        for p in ps:
            limited = {_norm_spec(m) for m in _GROUPLIMIT_RE.findall(p)}
            for line in p.splitlines():
                m = _WIN_RE.search(line)
                if not m:
                    continue
                cols = _norm_spec(m.group(1))
                if not cols:
                    continue  # SinglePartition — fenced by the global-window test
                if cols in limited:
                    continue  # rank<=k pushed down: k rows per group survive
                if set(cols) & SCALING_WINDOW_KEYS:
                    continue
                offenders.append(f"{n}: Window partitioned by {cols}")
    assert not offenders, (
        "window partitions on bounded-cardinality keys (per-task frames "
        f"grow with the corpus) — reshard or document: {sorted(set(offenders))}"
    )


def test_global_windows_only_documented(plans):
    offenders = [
        n for n, ps in plans.items()
        if n not in GLOBAL_WINDOW_ALLOWED
        and any(re.search(r"Exchange SinglePartition", p) and "Window" in p for p in ps)
    ]
    assert not offenders, offenders


def test_no_inferred_hof_generate_filters(plans):
    """InferFiltersFromGenerate + filter pushdown can inline an expensive
    higher-order-function array expression into a `size(...) > 0` Filter
    below the explode — silently re-evaluating the whole HOF once more per
    input row (measured ~2-4x on ngram_novelty / kmeans before switching
    those to explode_outer). Guard: no Filter condition may both call a
    lambda and test size(...) > 0."""
    offenders = [
        n for n, ps in plans.items()
        if any(re.search(r"Filter .*size\([^\n]*lambdafunction[^\n]*> 0", p) for p in ps)
    ]
    assert not offenders, offenders


_JOIN_RE = re.compile(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)")

# Queries that pin their heavy stage before the result: the stage's real
# work must show in one of the query's own executions, or the fence has
# gone blind again. The eigen Gram (r13) and the fused Lloyd iteration
# (r14) are MAP-SIDE COMBINES — an Arrow map feeding a keyed aggregate,
# with no join (a join or a posexplode'd per-element shuffle reappearing
# there would be the regression); every other pinned stage is a join.
MAP_COMBINE_STAGES = ("embedding_top_eigen_power", "kmeans_lloyd_3iter")
JOIN_STAGES = (
    "dedup_minhash_lsh",
    "dedup_minhash_lsh_capped",
    "minhash_containment_pairs",
    "incremental_components_merge",
    "pagerank_copurchase",
    "dedup_connected_components",
    "ann_ivf_refined_topk",
    *RANK_QUERIES,
)
#: minhash miners: the LSH band exchange (or its broadcast form at tiny SF)
BAND_MINES = (
    "dedup_minhash_lsh",
    "minhash_containment_pairs",
    "incremental_components_merge",
)


def test_eager_stage_plans_expose_real_mining_work(plans):
    missing = []
    for n in MAP_COMBINE_STAGES:
        if not any(
            re.search(r"(MapInPandas|ArrowEvalPython)", p)
            and "HashAggregate" in p
            and not _JOIN_RE.search(p)
            for p in plans[n]
        ):
            missing.append(f"{n}: no execution is an Arrow map + keyed sum without a join")
    missing += [
        f"{n}: no join in any execution"
        for n in JOIN_STAGES
        if not any(_JOIN_RE.search(p) for p in plans[n])
    ]
    missing += [
        f"{n}: band join not visible"
        for n in BAND_MINES
        if not any("band" in p for p in plans[n])
    ]
    assert not missing, missing


def test_pagerank_pin_holds_only_the_pair_mining(executed):
    """PageRank's default route pins the undirected support-≥2 pairs and
    nothing derived from them: a Union in its pin execution (the one
    running the self-join) means the directed edge list and its degree
    aggregate moved back into the pinned mining."""
    pins = [p for p in executed.default["pagerank_copurchase"].plans if _JOIN_RE.search(p)]
    assert pins, "pagerank_copurchase: no pair-mining execution"
    assert not any("Union" in p for p in pins), "pagerank_copurchase: directed edges pinned"


def test_forced_pass_takes_the_scale_routes(executed):
    """The forced pass must audit the distributed/sharded route, not
    silently the local one again."""
    forced = {n: r.plans for n, r in executed.forced.items()}
    missing = [
        f"{n}: no _rbucket (sharded rank did not run)"
        for n in RANK_QUERIES
        if not any("_rbucket" in p for p in forced[n])
    ]
    # the tiebreaker fold: the bucketing value floors the scaled doc_id
    if not any(
        re.search(r"FLOOR\(\(+cast\(doc_id#", p) for p in forced["token_length_quartiles"]
    ):
        missing.append("token_length_quartiles: tiebreaker fold not engaged")
    # a PageRank iteration joins the pinned edges to the ranks (src = node)
    if not any(
        re.search(r"Join \[src#\d+L?\], \[node#", p) for p in forced["pagerank_copurchase"]
    ):
        missing.append("pagerank_copurchase: no distributed iteration ran")
    # a CC round joins the pinned bidirectional edges to the labels on _m
    missing += [
        f"{n}: no distributed components round ran"
        for n in CC_CALLERS
        if not any(re.search(r"Join \[_m#\d+L?\], \[_m#", p) for p in forced[n])
    ]
    assert not missing, missing


# ---------------------------------------------------------------------------
# Bounded-broadcast fence (r6 verdict item 1): every EXPLICIT F.broadcast
# hint forces the wrapped frame onto the driver and every executor at any
# scale — AQE cannot save a hinted build side that grows with the corpus
# (the r6 scale-killer: copurchase_jaccard hinted its per-part degree
# marginal, O(parts) rows ⇒ OOM at 100 TB). Hints are therefore reserved
# for frames PROVABLY bounded at scale, and this allowlist is the proof
# ledger: each entry names the wrapped expression and its boundedness
# category. Adding a new F.broadcast site fails here until it is classified.
#
# Categories:
#   SCALAR  — 1-row (or ≤k-row) aggregate: totals, maxima, quantile frames
#   PROBE   — code-capped probe batch / centroid codebook (≤16 rows)
#   BAND    — literal band/bucket table (constant rows)
#   FIXED   — nation/region: fixed 25/5-row TPC-H reference dims
#   PERSRC  — one row (or one small frame) per document SOURCE (~20)
#   VECTOR  — d- or d²-row vector/matrix frame, bounded by embedding dim
#   TIME    — one row per day over the dataset horizon (≤ thousands)
#   DIMPIN  — plans/gold.py accounts dim: the test-pinned skew-immunity
#             path (test_skew_resilience: broadcast ⇒ hot key never
#             shuffles; AQE skew-join proven as the fallback when the dim
#             outgrows broadcast)
#   CONTRACT— streaming stream-static enrich: the API contract requires a
#             bounded reference dim (docstring), caller-asserted
#
# SF-growing frames (customer/supplier/part/orders/lineitem derivatives,
# vocabulary-sized term frames) were UNHINTED in r7 — AQE broadcasts them
# while small and falls back to shuffled joins at scale.
BROADCAST_ALLOWED: dict[str, set[str]] = {
    "plans/bench_bronze.py": {"nation"},                       # FIXED
    "plans/gold.py": {"a"},                                    # DIMPIN
    "queries/pipeline_ops.py": {"probes"},                     # PROBE
    "queries/relational.py": {"n", "r"},                       # FIXED
    "queries/relational_ext.py": {
        "avg_bal",                                             # SCALAR
        "bands",                                               # BAND
        "c.agg(F.count('*').alias('n_view_click'))",           # SCALAR
        "p.agg(F.count('*').alias('n_view_click_purchase'))",  # SCALAR
        # r11: the 25-nation PK aggregate 'ndim' became the raw declared-PK
        # nation scan 'n' (already FIXED-classified above)
        "cn", "sn", "n",                                       # FIXED
        "days",                                                # TIME
        "q",                                                   # SCALAR (1-row quantiles)
        "tot", "total", "pr_tot", "yr_tot",                    # SCALAR
    },
    "queries/relational_tpch2.py": {"max_rev", "n"},           # SCALAR / FIXED
    # r14: the eigen power tail's dom/v1/v2s/mx broadcasts disappeared
    # with the driver-local iteration rewrite (dimension-bound collect)
    "queries/similarity_ops.py": {
        "global_c", "n_orphans", "t",                          # SCALAR
        "probe_cells", "probes",                               # PROBE
    },
    "queries/text_ops.py": {
        "bg.agg(F.sum('n_bg').alias('t_bigrams'))",            # SCALAR
        "mx", "n", "tot", "totals",                            # SCALAR
        "deg.select(F.col('source').alias('src_a'), F.col('v').alias('vocab_a'))",  # PERSRC
        "deg.select(F.col('source').alias('src_b'), F.col('v').alias('vocab_b'))",  # PERSRC
        "mad", "med",                                          # PERSRC
    },
    "queries/training_ops.py": {
        "na", "nb", "total",                                   # SCALAR
        "totals.agg(F.sum('w').alias('sum_w'))",               # SCALAR
        "rates",                                               # PERSRC
    },
    "streaming/ingest.py": {"dim"},                            # CONTRACT
    # global-rank path only (group_cols empty): bounds is ONE row — a
    # global aggregate carrying num_buckets-1 boundary columns, bounded
    # by the sort-shard knob, never by data
    "operators/ranks.py": {"bounds_wide"},                     # SCALAR
}


def test_every_explicit_broadcast_is_provably_bounded():
    """AST-walk the whole package: any F.broadcast(arg) whose
    (file, unparsed-arg) pair is not in the proof ledger above fails with
    its location, forcing the author to either drop the hint (let AQE
    decide) or document why the frame stays bounded at 100 TB."""
    import ast
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / (
        "end_to_end_azure_data_engineering_spark"
    )
    offenders, seen = [], {}
    for f in sorted(root.rglob("*.py")):
        rel = str(f.relative_to(root))
        tree = ast.parse(f.read_text())
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                arg = ast.unparse(node.args[0])
                seen.setdefault(rel, set()).add(arg)
                if arg not in BROADCAST_ALLOWED.get(rel, set()):
                    offenders.append(f"{rel}:{node.lineno} F.broadcast({arg})")
    assert not offenders, (
        "unclassified explicit broadcast hint(s) — prove the frame is "
        f"bounded at scale or drop the hint: {offenders}"
    )
    # the ledger must not rot: every allowlisted entry still exists
    stale = [
        f"{rel}: {sorted(args - seen.get(rel, set()))}"
        for rel, args in BROADCAST_ALLOWED.items()
        if args - seen.get(rel, set())
    ]
    assert not stale, f"stale allowlist entries (hint removed/renamed): {stale}"


def test_persist_sites_balance_unpersist():
    """Static fence for the bigram_lift leak class (r8 ADVICE, second
    instance found in embedding_top_eigen_power r9): a .persist() whose
    frame is returned lazily leaks its CacheManager entry per invocation
    — entries are keyed by logical plan and survive object GC. Every
    source file must pair its persist() calls with at least as many
    unpersist() calls (eager use-then-release), use engine.pin (blocks
    reaped by the ContextCleaner), or carry an allowlist entry naming
    the caller contract that releases the frame."""
    from pathlib import Path

    pkg = Path(__file__).resolve().parents[1] / "end_to_end_azure_data_engineering_spark"
    # _candidate_pairs_with_shingles returns a persisted frame its caller
    # must release (docstring contract); the callers' own unpersists keep
    # neardup.py balanced today, so no entry is currently needed.
    allowed: dict[str, str] = {}
    offenders = []
    for f in pkg.rglob("*.py"):
        src = f.read_text()
        n_p = src.count(".persist(")
        n_u = src.count(".unpersist(")
        if n_p > n_u and str(f) not in allowed:
            offenders.append(f"{f}: persist={n_p} unpersist={n_u}")
    assert not offenders, (
        "persist() without a matching release — use engine.pin or "
        f"unpersist after the final action: {offenders}"
    )
