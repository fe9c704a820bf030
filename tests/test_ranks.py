"""sharded_row_number and its closed-form rank family vs Spark's own
window rank functions — the operator that replaces low-cardinality-key
windows (customer_spend_deciles / supplier_percentile_ranks /
order_value_distribution / quality_quantile_normalize, r8).

The equivalence claim is EXACT: for any frame with a total order,
sharded_row_number == row_number() over the group window, and the
ntile/percent_rank/cume_dist closed forms == the SQL rank functions.
Randomized frames deliberately cover the regimes the closed forms get
wrong if mis-derived: n < k (ntile buckets of one row), n % k != 0
(front-loaded remainder — the floor((rn-1)k/n)+1 trap), duplicate sort
values (bucket-boundary ties), single-row groups (percent_rank 0/0), and
groups smaller than the bucket count.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from end_to_end_azure_data_engineering_spark.operators.ranks import (
    cume_dist_expr,
    ntile_expr,
    percent_rank_expr,
    sharded_row_number,
)


def _frame(spark, seed: int, n_rows: int, n_groups: int, val_space: int):
    rng = random.Random(seed)
    rows = [
        (f"g{rng.randrange(n_groups)}", rng.randrange(val_space), i)
        for i in range(n_rows)
    ]
    return spark.createDataFrame(rows, ["g", "v", "id"])


CASES = [
    # (seed, n_rows, n_groups, val_space, num_buckets, k)
    (1, 500, 3, 40, 8, 10),     # heavy value ties across bucket boundaries
    (2, 200, 1, 10_000, 32, 4),  # one group, distinct-ish values
    (3, 97, 7, 5, 16, 10),       # n % k != 0 in every group, 5 values only
    (4, 30, 25, 1_000, 8, 4),    # most groups smaller than k and buckets
    (5, 64, 64, 100, 32, 7),     # many single-row groups (percent_rank 0/0)
    # num_buckets > _LEVEL_MAX engages the TWO-LEVEL (coarse, fine)
    # assignment — the cluster-scale path (B ≈ cores/G). Heavy value
    # ties ensure tied rows straddle would-be coarse AND fine cell
    # boundaries; most groups far smaller than the bucket count.
    (6, 400, 3, 30, 256, 5),
]


@pytest.mark.parametrize("seed,n_rows,n_groups,val_space,buckets,k", CASES)
def test_sharded_rank_family_matches_window(
    spark, seed, n_rows, n_groups, val_space, buckets, k
):
    df = _frame(spark, seed, n_rows, n_groups, val_space)
    w = W.partitionBy("g").orderBy("v", "id")
    expected = df.select(
        "g",
        "id",
        F.row_number().over(w).alias("rn"),
        F.ntile(k).over(w).alias("nt"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    got = sharded_row_number(
        df, ["g"], ["v", "id"], num_buckets=buckets
    ).select(
        "g",
        "id",
        "rn",
        ntile_expr("rn", "n_g", k).alias("nt"),
        percent_rank_expr("rn", "n_g").alias("pr"),
        cume_dist_expr("rn", "n_g").alias("cd"),
    )
    mismatch = (
        expected.alias("e")
        .join(got.alias("s"), ["g", "id"], "full")
        .where(
            ~F.col("e.rn").eqNullSafe(F.col("s.rn"))
            | ~F.col("e.nt").eqNullSafe(F.col("s.nt"))
            | ~F.col("e.pr").eqNullSafe(F.col("s.pr"))
            | ~F.col("e.cd").eqNullSafe(F.col("s.cd"))
        )
    )
    bad = mismatch.limit(5).collect()
    assert not bad, bad


@pytest.mark.parametrize("seed", range(4))
def test_sharded_rank_property_fuzz(spark, seed):
    """Randomized regime fuzz beyond the curated CASES: group count,
    tie density (val_space=1 is ALL ties — every row lands in one
    bucket, the documented skew caveat, and exactness must still hold),
    and bucket counts spanning degenerate (1), single-level, and
    two-level (>_LEVEL_MAX) assignment."""
    rng = random.Random(1000 + seed)
    n_rows = rng.randrange(1, 400)
    n_groups = rng.randrange(1, 30)
    val_space = rng.choice([1, 2, 5, 10_000])
    buckets = rng.choice([1, 2, 3, 31, 64, 150, 300])
    df = _frame(spark, 2000 + seed, n_rows, n_groups, val_space)
    w = W.partitionBy("g").orderBy("v", "id")
    expected = df.select("g", "id", F.row_number().over(w).alias("ern"))
    got = sharded_row_number(df, ["g"], ["v", "id"], num_buckets=buckets)
    bad = (
        expected.join(got.select("g", "id", "rn"), ["g", "id"], "full")
        .where(~F.col("ern").eqNullSafe(F.col("rn")))
        .count()
    )
    assert bad == 0, (n_rows, n_groups, val_space, buckets)


@pytest.mark.parametrize("buckets", [8, 256])
def test_sharded_rank_special_float_values(spark, buckets):
    """The bucketing value column can carry the full double line:
    negatives, ±0.0, ±1e308, ±Infinity and NaN (Spark orders NaN
    LAST, > +Infinity, and the `val > boundary` comparison follows the
    same total order, so a NaN boundary behaves as +inf and NaN rows
    land in the top bucket — order consistency, hence exactness,
    holds). Covers both the single-level (8) and two-level (256)
    assignment paths."""
    rng = random.Random(99)
    special = [
        float("nan"), float("inf"), float("-inf"),
        -0.0, 0.0, -1e308, 1e308,
    ]
    rows = [
        (
            "g0",
            rng.choice(special) if rng.random() < 0.15
            else rng.uniform(-1e6, 1e6),
            i,
        )
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    w = W.partitionBy("g").orderBy("v", "id")
    expected = df.select("g", "id", F.row_number().over(w).alias("ern"))
    got = sharded_row_number(df, ["g"], ["v", "id"], num_buckets=buckets)
    bad = (
        expected.join(got.select("g", "id", "rn"), ["g", "id"], "full")
        .where(~F.col("ern").eqNullSafe(F.col("rn")))
        .count()
    )
    assert bad == 0


def test_sharded_rank_no_wide_sort_partition(spark):
    """The point of the operator: no Sort in the plan runs on a
    partitioning coarser than (group, bucket). Assert the executed plan
    hash-partitions on both keys before the ranking sort."""
    df = _frame(spark, 0, 300, 2, 50)
    plan = (
        sharded_row_number(df, ["g"], ["v", "id"], num_buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "_rbucket" in plan.split("Window")[-1] or "hashpartitioning(g" in plan
    # the ranking window itself must partition by (g, _rbucket)
    import re

    win_parts = re.findall(r"Window \[[^\n]*\], \[([^\]]*)\], \[", plan)
    rank_windows = [p for p in win_parts if "_rbucket" in p]
    assert rank_windows, f"no (group,bucket)-sharded window found: {win_parts}"


@pytest.mark.parametrize("seed,n_rows,val_space,buckets,k", [
    (21, 500, 40, 8, 10),      # heavy ties across bucket boundaries
    (22, 200, 10_000, 32, 4),  # distinct-ish values
    (23, 7, 5, 16, 10),        # n < k AND n < buckets
    (24, 300, 40, 256, 6),     # two-level global form, heavy ties
])
def test_global_sharded_rank_matches_window(
    spark, seed, n_rows, val_space, buckets, k
):
    """EMPTY group_cols = global total order: the sharded rank must equal
    `row_number() OVER (ORDER BY v, id)` (no partition) and the closed
    forms must equal the global SQL rank functions — the form
    user_activity_gini / revenue_pareto_curve run on."""
    df = _frame(spark, seed, n_rows, 1, val_space).drop("g")
    w = W.orderBy("v", "id")
    expected = df.select(
        "id",
        F.row_number().over(w).alias("rn"),
        F.ntile(k).over(w).alias("nt"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    got = sharded_row_number(df, [], ["v", "id"], num_buckets=buckets).select(
        "id",
        "rn",
        ntile_expr("rn", "n_g", k).alias("nt"),
        percent_rank_expr("rn", "n_g").alias("pr"),
        cume_dist_expr("rn", "n_g").alias("cd"),
    )
    mismatch = (
        expected.alias("e")
        .join(got.alias("s"), ["id"], "full")
        .where(
            ~F.col("e.rn").eqNullSafe(F.col("s.rn"))
            | ~F.col("e.nt").eqNullSafe(F.col("s.nt"))
            | ~F.col("e.pr").eqNullSafe(F.col("s.pr"))
            | ~F.col("e.cd").eqNullSafe(F.col("s.cd"))
        )
    )
    bad = mismatch.limit(5).collect()
    assert not bad, bad


def test_global_sharded_rank_no_single_partition_sort(spark):
    """The global form must not sort the data frame on one task: the
    ranking window partitions by the bucket column (a hash exchange on
    ~num_buckets keys), and the only SinglePartition exchange feeds the
    ≤num_buckets-row offsets cumsum, never a Sort of the data frame."""
    df = _frame(spark, 0, 300, 1, 50).drop("g")
    plan = (
        sharded_row_number(df, [], ["v", "id"], num_buckets=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    win_parts = re.findall(r"Window \[[^\n]*\], \[([^\]]*)\], \[", plan)
    rank_windows = [p for p in win_parts if "_rbucket" in p]
    assert rank_windows, f"no bucket-sharded window found: {win_parts}"


@pytest.mark.parametrize("seed,n_rows,n_groups,val_space", [
    (11, 400, 3, 12),   # heavy ties: ~11 classes per group
    (12, 120, 5, 10_000),  # mostly unique: one class per row
    (13, 60, 60, 4),    # single-row groups + tiny value space
])
def test_tie_aware_ranks_match_window(spark, seed, n_rows, n_groups, val_space):
    """rank()/dense_rank() with TIES (ordering excludes the unique id):
    with_tie_ranks must reproduce Spark's own rank functions, including
    the mostly-unique regime where the tie-class frame is data-sized and
    the dense numbering recurses through sharded_row_number."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        with_tie_ranks,
    )

    df = _frame(spark, seed, n_rows, n_groups, val_space)
    w = W.partitionBy("g").orderBy("v")
    expected = df.select(
        "g",
        "id",
        F.rank().over(w).alias("rank"),
        F.dense_rank().over(w).alias("dense_rank"),
    )
    ranked = sharded_row_number(df, ["g"], ["v", "id"], num_buckets=8)
    got = with_tie_ranks(ranked, ["g"], ["v"]).select(
        "g", "id", "rank", "dense_rank"
    )
    mismatch = (
        expected.alias("e")
        .join(got.alias("s"), ["g", "id"], "full")
        .where(
            ~F.col("e.rank").eqNullSafe(F.col("s.rank"))
            | ~F.col("e.dense_rank").eqNullSafe(F.col("s.dense_rank"))
        )
    )
    bad = mismatch.limit(5).collect()
    assert not bad, bad


def test_global_tie_aware_ranks_match_window(spark):
    """with_tie_ranks composes with the global form (empty group_cols)."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        with_tie_ranks,
    )

    df = _frame(spark, 14, 300, 1, 9).drop("g")
    w = W.orderBy("v")
    expected = df.select(
        "id",
        F.rank().over(w).alias("rank"),
        F.dense_rank().over(w).alias("dense_rank"),
    )
    ranked = sharded_row_number(df, [], ["v", "id"], num_buckets=8)
    got = with_tie_ranks(ranked, [], ["v"]).select("id", "rank", "dense_rank")
    mismatch = (
        expected.alias("e")
        .join(got.alias("s"), ["id"], "full")
        .where(
            ~F.col("e.rank").eqNullSafe(F.col("s.rank"))
            | ~F.col("e.dense_rank").eqNullSafe(F.col("s.dense_rank"))
        )
    )
    bad = mismatch.limit(5).collect()
    assert not bad, bad


# ---------------------------------------------------------------------------
# r9: NULL group keys, adaptive path switch, skew-contract enforcement,
# exact integer division — the r8 ADVICE + verdict items, pinned.
# ---------------------------------------------------------------------------


def test_null_group_keys_rank_like_window(spark):
    """r8 ADVICE (medium): a plain equi-join on the group keys silently
    dropped every NULL-keyed row, where the window versions kept a NULL
    partition. All internal joins are null-safe now — NULL groups must
    rank exactly, on BOTH the sharded and the adaptive-plain paths, and
    through the tie-rank join too."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        with_tie_ranks,
    )

    rng = random.Random(42)
    rows = [
        (rng.choice(["a", "b", None]), rng.randrange(40), i)
        for i in range(400)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    w = W.partitionBy("g").orderBy("v", "id")
    wt = W.partitionBy("g").orderBy("v")
    expected = df.select(
        "g",
        "id",
        F.row_number().over(w).alias("ern"),
        F.rank().over(wt).alias("erk"),
        F.dense_rank().over(wt).alias("edr"),
    )
    for kwargs in ({"num_buckets": 8}, {}):  # sharded, then adaptive-plain
        ranked = sharded_row_number(df, ["g"], ["v", "id"], **kwargs)
        got = with_tie_ranks(ranked, ["g"], ["v"])
        assert got.count() == 400, f"rows lost on {kwargs or 'adaptive'}"
        bad = (
            expected.alias("e")
            .join(
                got.alias("s"),
                F.col("e.g").eqNullSafe(F.col("s.g"))
                & (F.col("e.id") == F.col("s.id")),
                "full",
            )
            .where(
                ~F.col("e.ern").eqNullSafe(F.col("s.rn"))
                | ~F.col("e.erk").eqNullSafe(F.col("s.rank"))
                | ~F.col("e.edr").eqNullSafe(F.col("s.dense_rank"))
            )
            .count()
        )
        assert bad == 0, f"mismatches on {kwargs or 'adaptive'}"


def test_adaptive_switch_is_size_gated(spark, tmp_path):
    """The r9 adaptive entry: below the (pinnable) small-group threshold
    the plan is ONE plain window per group — no _rbucket stages; above
    it (threshold pinned to 10 rows) the sharded construction engages.
    Both paths must agree exactly with Spark's own window. A
    parquet-backed frame (known file-size stats) must decide via the
    ZERO-JOB plan-stats tier — no probe job at plan-construction time
    (the probe pass alone cost the rank queries ~1.5x their pre-rewrite
    times at sf0.1); an RDD-backed frame (unknown stats) falls through
    to the row probe and still lands on the plain path."""
    _frame(spark, 31, 300, 2, 10_000).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    w = W.partitionBy("g").orderBy("v", "id")
    expected = df.select("g", "id", F.row_number().over(w).alias("ern"))
    expected.count()  # settle any file-listing jobs before counting

    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    small = sharded_row_number(df, ["g"], ["v", "id"])  # 300 rows << default
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    after = len(tracker.getJobIdsForGroup() or [])
    assert "_rbucket" not in plan_small, "plain path expected below threshold"
    assert after == before, "zero-job tier ran a Spark job"

    big = sharded_row_number(df, ["g"], ["v", "id"], small_group_rows=10)
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "_rbucket" in plan_big, "sharded path expected above threshold"

    for got in (small, big):
        bad = (
            expected.join(got.select("g", "id", "rn"), ["g", "id"], "full")
            .where(~F.col("ern").eqNullSafe(F.col("rn")))
            .count()
        )
        assert bad == 0


def test_zero_job_tier_bounds_unique_dim_join(spark, tmp_path):
    """r10 (verdict item 2): a fact ⋈ dim equi-join whose dim side is an
    Aggregate grouped on the join key is PROVABLY row-bounded by the
    fact child, so the zero-job tier must route it to the plain window
    with NO probe job — the order_value_distribution shape that used to
    pay pin + probe at bench SF. The raw (non-aggregated) dim join stays
    unprovable and must keep falling through to the probe."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        _proven_small,
    )

    _frame(spark, 41, 400, 3, 10_000).write.parquet(str(tmp_path / "fact"))
    dim_rows = [(f"g{i}", f"seg{i % 2}") for i in range(3)]
    spark.createDataFrame(dim_rows, ["g", "seg"]).write.parquet(
        str(tmp_path / "dim")
    )
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "dim"))

    raw = fact.join(dim, "g").select("seg", "v", "id")
    assert not _proven_small(raw), "raw dim join must not be provable"

    # aliased grouping key: Aggregate [g#n], [g#n AS gk#m, ...] — the
    # uniqueness check must follow the alias to the join key (the
    # customer_spend_deciles shape, caught in-round by the plan audit)
    udim = dim.groupBy(F.col("g").alias("gk")).agg(
        F.first("seg").alias("seg")
    )
    base = (
        fact.join(udim, fact.g == udim.gk).select("seg", "v", "id")
    )
    expected = base.select(
        "seg",
        "id",
        F.row_number()
        .over(W.partitionBy("seg").orderBy("v", "id"))
        .alias("ern"),
    )
    expected.count()  # settle file-listing jobs
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    got = sharded_row_number(base, ["seg"], ["v", "id"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    after = len(tracker.getJobIdsForGroup() or [])
    assert "_rbucket" not in plan, "plain path expected (provably small)"
    assert after == before, "unique-dim bound must not run a probe job"
    bad = (
        expected.join(got.select("seg", "id", "rn"), ["seg", "id"], "full")
        .where(~F.col("ern").eqNullSafe(F.col("rn")))
        .count()
    )
    assert bad == 0


def test_declared_pk_side_proves_unique(spark, tmp_path):
    """r11 (verdict item 2): a fact ⋈ dim equi-join whose dim side is a
    RAW scan of a path with a DECLARED primary key is provably
    row-bounded by the fact child — zero probe jobs, no
    groupBy(pk).agg(first) exchange. The proof must trace join keys
    through Project renames, must NOT transfer to a computed key or a
    partial composite key, and an undeclared path stays unprovable."""
    from end_to_end_azure_data_engineering_spark.engine.pkregistry import (
        declare_pk,
    )
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        _proven_small,
    )

    _frame(spark, 43, 400, 3, 10_000).write.parquet(str(tmp_path / "fact"))
    dim_rows = [(f"g{i}", i, f"seg{i % 2}") for i in range(3)]
    spark.createDataFrame(dim_rows, ["gk", "gnum", "seg"]).write.parquet(
        str(tmp_path / "dim")
    )
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "dim"))

    join = lambda d: fact.join(d, fact.g == d.gk).select("seg", "v", "id")
    assert not _proven_small(join(dim)), "undeclared path must not prove"

    declare_pk(str(tmp_path / "dim"), ("gk",))
    base = join(dim)
    assert _proven_small(base), "declared-PK scan side must prove uniqueness"

    # through a Project rename (Alias of attribute): still provable
    renamed = dim.select(F.col("gk").alias("k2"), "seg")
    assert _proven_small(
        fact.join(renamed, fact.g == renamed.k2).select("seg", "v", "id")
    ), "Alias-of-attribute rename must keep the PK trace"

    # computed key: uniqueness of f(pk) is NOT proven (f may collide)
    computed = dim.select(F.concat(F.col("gk"), F.lit("")).alias("k3"), "seg")
    assert not _proven_small(
        fact.join(computed, fact.g == computed.k3).select("seg", "v", "id")
    ), "computed dim key must break the trace"

    # composite PK joined on a PREFIX only: not covered, not provable
    declare_pk(str(tmp_path / "dim"), ("gk", "gnum"))
    assert not _proven_small(join(dim)), "partial composite key must not prove"
    declare_pk(str(tmp_path / "dim"), ("gk",))  # restore for the run below

    # end to end: the rank router takes the zero-job plain path
    expected = base.select(
        "seg",
        "id",
        F.row_number()
        .over(W.partitionBy("seg").orderBy("v", "id"))
        .alias("ern"),
    )
    expected.count()  # settle file-listing jobs
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    got = sharded_row_number(base, ["seg"], ["v", "id"])
    plan = got._jdf.queryExecution().executedPlan().toString()
    after = len(tracker.getJobIdsForGroup() or [])
    assert "_rbucket" not in plan, "plain path expected (provably small)"
    assert after == before, "declared-PK bound must not run a probe job"
    bad = (
        expected.join(got.select("seg", "id", "rn"), ["seg", "id"], "full")
        .where(~F.col("ern").eqNullSafe(F.col("rn")))
        .count()
    )
    assert bad == 0


def test_declared_pks_hold_on_fixture(spark):
    """The pkregistry trust model's fixture-side validation (r11): every
    PK the loader declares must actually be unique in the testdata — a
    false declaration would route oversized frames to the single-task
    rank tier. Checked per table at sf0.001 (schema and generator are
    SF-invariant)."""
    from end_to_end_azure_data_engineering_spark.queries import (
        DECLARED_PKS,
        load,
    )

    sf_dir = "/root/testdata/sf0.001"
    for table, pk in DECLARED_PKS.items():
        df = load(spark, sf_dir, table)
        total = df.count()
        distinct = df.select(*pk).distinct().count()
        assert total == distinct, (
            f"{table}: declared PK {pk} is not unique "
            f"({total} rows, {distinct} distinct)"
        )


def test_join_bound_harvests_only_top_level_equi_conjuncts(spark, tmp_path):
    """r10 code-review finding: the first proof-walker cut regexed the
    join condition's STRING for '(a#1 = b#2)' substrings, which also
    matched an equality nested inside a CASE WHEN — a false uniqueness
    proof that could send a fact×dim-sized frame to the single-task
    window. The tree walk must (a) refuse a condition whose only
    equality is nested inside a non-conjunct expression, and (b) still
    prove a top-level equi-key joined with an extra non-equi conjunct
    (ANDed predicates only filter further)."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        _proven_small,
    )

    _frame(spark, 43, 400, 3, 10_000).write.parquet(str(tmp_path / "fact"))
    dim_rows = [(f"g{i}", f"seg{i % 2}", i) for i in range(3)]
    spark.createDataFrame(dim_rows, ["g", "seg", "lim"]).write.parquet(
        str(tmp_path / "dim")
    )
    fact = spark.read.parquet(str(tmp_path / "fact"))
    dim = spark.read.parquet(str(tmp_path / "dim"))
    udim = dim.groupBy(F.col("g").alias("gk")).agg(
        F.first("seg").alias("seg"), F.first("lim").alias("lim")
    )

    # (a) the equality exists only INSIDE a CaseWhen conjunct — not an
    # equi-join on gk at all (every fact row can match every dim row)
    nested = fact.join(
        udim,
        F.when(fact.g == udim.gk, fact.v > 0).otherwise(fact.v < 10_000),
    ).select("seg", "v", "id")
    cond = nested._jdf.queryExecution().optimizedPlan().toString()
    assert "CASE WHEN" in cond, "optimizer folded the fixture's CaseWhen"
    assert not _proven_small(nested), "nested equality must not be a key"

    # (b) real equi-key plus a cross-side non-equi conjunct (it cannot
    # be pushed down, so it stays in the join condition) — still provable
    mixed = fact.join(
        udim, (fact.g == udim.gk) & (fact.v >= udim.lim)
    ).select("seg", "v", "id")
    assert _proven_small(mixed), "extra AND conjunct must not void the bound"


def test_zero_job_tier_distrusts_row_multipliers(spark, tmp_path):
    """r9 ADVICE (medium): Generate (explode) and Expand (rollup) keep
    roughly the child's BYTE estimate while multiplying rows, so a
    small-looking estimate above one of them proves nothing. The proof
    walker must decline both (the row probe decides); routing through
    the probe must still produce exact ranks."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        _proven_small,
    )

    _frame(spark, 42, 200, 2, 10_000).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    assert _proven_small(df), "the bare scan itself must stay provable"

    exploded = df.withColumn(
        "part", F.explode(F.array(F.lit(0), F.lit(1)))
    ).withColumn("eid", F.col("id") * 2 + F.col("part"))
    assert not _proven_small(exploded), "Generate must taint the proof"

    expanded = df.rollup("g").agg(F.count("*").alias("cnt"))
    assert not _proven_small(expanded), "Expand must taint the proof"

    # end-to-end through the probe: still exact on the exploded frame
    w = W.partitionBy("g").orderBy("v", "eid")
    expected = exploded.select(
        "g", "eid", F.row_number().over(w).alias("ern")
    )
    got = sharded_row_number(exploded, ["g"], ["v", "eid"])
    bad = (
        expected.join(got.select("g", "eid", "rn"), ["g", "eid"], "full")
        .where(~F.col("ern").eqNullSafe(F.col("rn")))
        .count()
    )
    assert bad == 0


def test_forced_sharded_path_skips_probe(spark):
    """small_group_rows=0 (the sharded pin lang_confidence_quantiles uses)
    must build the sharded plan WITHOUT running the probe action — no
    construction job. Explicit num_buckets likewise."""
    df = _frame(spark, 32, 50, 2, 100)
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup() or [])
    forced = sharded_row_number(df, ["g"], ["v", "id"], small_group_rows=0)
    plan = forced._jdf.queryExecution().executedPlan().toString()
    after = len(tracker.getJobIdsForGroup() or [])
    assert "_rbucket" in plan
    assert after == before, "plan construction ran a Spark job"


def test_skew_guard_raises_on_boolean_like_key(spark):
    """r9 verdict item 3 — the tie-skew contract is ENFORCED: ranking a
    near-constant bucketing value in an above-threshold group must fail
    loudly (range buckets cannot split ties ⇒ the sort would collapse
    back to ~one task), never silently degrade. The tiebreaker is a
    STRING here so the r10 fold cannot rescue the key; the error message
    must carry the EXACT distinct count (r9 ADVICE: the approx probe's
    ~5% rsd alone must never refuse a production query)."""
    rng = random.Random(33)
    rows = [("g0", rng.randrange(2), f"id{i:05d}") for i in range(500)]
    df = spark.createDataFrame(rows, ["g", "bool_like", "id"])
    with pytest.raises(ValueError, match=r"2 distinct values \(exact\)"):
        sharded_row_number(
            df, ["g"], ["bool_like", "id"], small_group_rows=10
        )


def test_skew_guard_clamps_low_resolution_key(spark):
    """A low- (but not boolean-) resolution bucketing value with a
    NON-FOLDABLE (string) tiebreaker clamps the bucket count to what the
    value resolution supports, warns loudly, and stays EXACT: per-task
    frames are then bounded by the heaviest duplicate run instead of
    collapsing to one task."""
    import warnings as _warnings

    rng = random.Random(34)
    # 100 distinct values: above the boolean-like floor (32) but below
    # 4×num_buckets (4×32 with the session's default parallelism)
    rows = [("g0", rng.randrange(100), f"id{i:05d}") for i in range(600)]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    w = W.partitionBy("g").orderBy("v", "id")
    expected = df.select("g", "id", F.row_number().over(w).alias("ern"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = sharded_row_number(df, ["g"], ["v", "id"], small_group_rows=10)
        plan = got._jdf.queryExecution().executedPlan().toString()
        bad = (
            expected.join(got.select("g", "id", "rn"), ["g", "id"], "full")
            .where(~F.col("ern").eqNullSafe(F.col("rn")))
            .count()
        )
    assert any("clamping" in str(c.message) for c in caught)
    assert "_rbucket" in plan, "must stay sharded, just coarser"
    assert bad == 0


def test_skew_guard_never_raises_near_the_floor(spark):
    """r9 ADVICE (low): a key with exactly _SKEW_MIN_DISTINCT true
    distinct values may be approx-estimated a few percent BELOW the
    floor — the guard must then confirm with an exact countDistinct and
    CLAMP, never raise, regardless of which side the approximation
    landed on. (String tiebreaker keeps the fold out of the way.)"""
    import warnings as _warnings

    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        _SKEW_MIN_DISTINCT,
    )

    rng = random.Random(35)
    rows = [
        ("g0", rng.randrange(_SKEW_MIN_DISTINCT), f"id{i:05d}")
        for i in range(800)
    ]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    w = W.partitionBy("g").orderBy("v", "id")
    expected = df.select("g", "id", F.row_number().over(w).alias("ern"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = sharded_row_number(df, ["g"], ["v", "id"], small_group_rows=10)
        bad = (
            expected.join(got.select("g", "id", "rn"), ["g", "id"], "full")
            .where(~F.col("ern").eqNullSafe(F.col("rn")))
            .count()
        )
    assert any("clamping" in str(c.message) for c in caught)
    assert bad == 0


# ---------------------------------------------------------------------------
# r10: tiebreaker fold — low-resolution sort keys keep FULL sharding when
# the total order's second column is numeric (verdict item 3).
# ---------------------------------------------------------------------------


def test_skew_fold_keeps_full_sharding(spark):
    """A 50-distinct integer bucketing value with a numeric unique
    tiebreaker must NOT clamp (no warning): the fold spreads each tie
    class across the tiebreaker sub-steps, the plan stays sharded, and
    ranks stay exact vs Spark's own window."""
    import warnings as _warnings

    rng = random.Random(36)
    rows = [("g0", rng.randrange(50), i) for i in range(2000)]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    w = W.partitionBy("g").orderBy("v", "id")
    expected = df.select("g", "id", F.row_number().over(w).alias("ern"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = sharded_row_number(df, ["g"], ["v", "id"], small_group_rows=10)
        plan = got._jdf.queryExecution().executedPlan().toString()
        bad = (
            expected.join(got.select("g", "id", "rn"), ["g", "id"], "full")
            .where(~F.col("ern").eqNullSafe(F.col("rn")))
            .count()
        )
    assert not any("clamping" in str(c.message) for c in caught), [
        str(c.message) for c in caught
    ]
    assert "_rbucket" in plan, "fold must keep the sharded construction"
    assert bad == 0


def test_fold_rescues_boolean_like_key(spark):
    """Even a 2-value bucketing key is fully shardable when the numeric
    tiebreaker can be folded below it — no raise, no clamp, exact."""
    import warnings as _warnings

    rng = random.Random(37)
    rows = [("g0", rng.randrange(2), i) for i in range(500)]
    df = spark.createDataFrame(rows, ["g", "bool_like", "id"])
    w = W.partitionBy("g").orderBy("bool_like", "id")
    expected = df.select("g", "id", F.row_number().over(w).alias("ern"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = sharded_row_number(
            df, ["g"], ["bool_like", "id"], small_group_rows=10
        )
        bad = (
            expected.join(got.select("g", "id", "rn"), ["g", "id"], "full")
            .where(~F.col("ern").eqNullSafe(F.col("rn")))
            .count()
        )
    assert not any("clamping" in str(c.message) for c in caught)
    assert bad == 0


def test_fold_buckets_are_balanced(spark):
    """The balance evidence behind the fold: assigning range buckets on
    the folded value over a 50-distinct key must use every bucket with
    near-uniform sizes (percentile boundaries adapt to the real folded
    distribution), instead of the ~12 buckets the clamp used to leave."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        _assign_buckets,
        _folded_bucket_value,
    )

    rng = random.Random(38)
    rows = [("g0", rng.randrange(50), i) for i in range(3200)]
    df = spark.createDataFrame(rows, ["g", "v", "id"])
    fv = _folded_bucket_value("v", "id", 0, 49, 0, 3199, 32)
    assert fv is not None
    b = _assign_buckets(
        df.withColumn("_gsk", F.struct("g")), ["_gsk"], fv, 32, "_rbucket"
    )
    sizes = sorted(
        r["count"] for r in b.groupBy("_rbucket").count().collect()
    )
    assert len(sizes) == 32, f"only {len(sizes)} buckets used"
    mean = sum(sizes) / len(sizes)
    assert sizes[-1] <= 2 * mean, (sizes[0], sizes[-1], mean)


def test_fold_value_is_order_consistent(spark):
    """Monotonicity property of the fold (the exactness precondition —
    bucketing only needs order consistency with the caller's total
    order): over random integral values (negatives included) and float
    tiebreakers with NULLs, the folded value must be non-decreasing
    along the (v ASC, tb ASC NULLS FIRST) order."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import (
        _folded_bucket_value,
    )

    rng = random.Random(39)
    rows = []
    for i in range(1500):
        v = rng.randrange(-40, 40)
        tb = None if rng.random() < 0.05 else rng.uniform(-1e6, 1e6)
        rows.append((v, tb, i))
    df = spark.createDataFrame(rows, ["v", "tb", "i"])
    tbs = [t for _, t, _ in rows if t is not None]
    fv = _folded_bucket_value("v", "tb", -40, 39, min(tbs), max(tbs), 32)
    assert fv is not None
    got = df.select("v", "tb", fv.alias("fold")).collect()
    ordered = sorted(
        got, key=lambda r: (r["v"], r["tb"] is not None, r["tb"] or 0.0)
    )
    folds = [r["fold"] for r in ordered]
    assert all(a <= b for a, b in zip(folds, folds[1:]))


@pytest.mark.parametrize("seed", range(3))
def test_adaptive_low_resolution_fuzz(spark, seed):
    """Adaptive-path fuzz over the fold regimes: tiny value spaces
    (constant, boolean-like, low-resolution) with a numeric tiebreaker
    must all route through the fold with exact results — the regime the
    r9 clamp surrendered shards on."""
    rng = random.Random(4000 + seed)
    n_rows = rng.randrange(200, 900)
    n_groups = rng.randrange(1, 6)
    val_space = rng.choice([1, 2, 5, 30, 80])
    df = _frame(spark, 5000 + seed, n_rows, n_groups, val_space)
    w = W.partitionBy("g").orderBy("v", "id")
    expected = df.select("g", "id", F.row_number().over(w).alias("ern"))
    got = sharded_row_number(df, ["g"], ["v", "id"], small_group_rows=5)
    bad = (
        expected.join(got.select("g", "id", "rn"), ["g", "id"], "full")
        .where(~F.col("ern").eqNullSafe(F.col("rn")))
        .count()
    )
    assert bad == 0, (n_rows, n_groups, val_space)


def test_ntile_integer_arithmetic_exact_past_double(spark):
    """r8 ADVICE (low): floor(n/k) as a double division silently loses
    exactness past 2^53 rows. The _idiv pipeline must floor-divide
    exactly at any bigint magnitude (checked against Python's exact
    integer arithmetic), and ntile built on it must match SQL ntile on
    synthetic (rn, n) pairs around the 2^53 cliff."""
    from end_to_end_azure_data_engineering_spark.operators.ranks import _idiv

    cases = [
        (2**53 + 1, 3),
        (2**53 - 1, 7),
        (2**62 + 12345, 10),
        (2**63 - 1, 997),
        (10, 4),
        (1, 1),
    ]
    df = spark.createDataFrame(
        [(a, b) for a, b in cases], ["a", "b"]
    ).select(_idiv(F.col("a"), F.col("b")).alias("q"), "a", "b")
    for row in df.collect():
        assert row["q"] == row["a"] // row["b"], (row["a"], row["b"])

    # ntile at a huge synthetic n: bucket of rn=n must be k, bucket of
    # rn=1 must be 1, and the front-loaded cutoff must place exactly
    # q+1 rows in bucket 1 (boundary rns computed exactly in Python)
    n = 2**61 + 17
    k = 7
    q, r = divmod(n, k)
    probe_rows = [
        (1, n, 1),
        (q + 1, n, 1),          # last row of bucket 1
        (q + 2, n, 2),          # first row of bucket 2
        (r * (q + 1), n, r),    # last front-loaded row
        (r * (q + 1) + 1, n, r + 1),
        (n, n, k),
    ]
    pf = spark.createDataFrame(
        [(rn, nn) for rn, nn, _ in probe_rows], ["rn", "n_g"]
    ).select("rn", ntile_expr("rn", "n_g", k).alias("nt"))
    got = {row["rn"]: row["nt"] for row in pf.collect()}
    for rn, _, want in probe_rows:
        assert got[rn] == want, (rn, got[rn], want)


def test_stale_pk_declaration_drops_on_rewrite(tmp_path):
    """r11 ADVICE: a declaration is pinned to the path's stat
    fingerprint at declare time — overwriting the file afterwards must
    drop it (pk_for returns None) instead of vouching for data the
    declaration never described. No Spark needed: pure registry."""
    import time as _time

    from end_to_end_azure_data_engineering_spark.engine import pkregistry as R

    p = tmp_path / "dim.parquet"
    p.write_bytes(b"original bytes")
    R.declare_pk(str(p), ("k",))
    assert R.pk_for(str(p)) == ("k",)
    _time.sleep(0.01)  # ensure the mtime_ns moves even on coarse clocks
    p.write_bytes(b"rewritten with different content !!")
    assert R.pk_for(str(p)) is None, "stale declaration must drop"
    # and it stays dropped (the entry was evicted, not just masked)
    assert R.pk_for(str(p)) is None


def test_stale_pk_directory_declaration_sees_inplace_child_rewrite(tmp_path):
    """r12 verdict item 7: for a DIRECTORY declaration, an in-place
    rewrite of one file inside the directory with the directory's own
    mtime explicitly restored must still drop the declaration — the
    fingerprint folds in the children's stats, not just the dir's."""
    import os as _os
    import time as _time

    from end_to_end_azure_data_engineering_spark.engine import pkregistry as R

    d = tmp_path / "dim_dir"
    d.mkdir()
    part = d / "part-00000.parquet"
    part.write_bytes(b"original child bytes")
    dir_stat = _os.stat(d)
    R.declare_pk(str(d), ("k",))
    assert R.pk_for(str(d)) == ("k",)
    _time.sleep(0.01)
    # rewrite the child in place, then restore the directory's mtime to
    # the declare-time value — the pre-r13 fingerprint (dir stat only)
    # cannot see this
    part.write_bytes(b"rewritten child, same dir mtime")
    _os.utime(d, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    assert R.pk_for(str(d)) is None, "in-place child rewrite must drop"
    assert R.pk_for(str(d)) is None


def test_pk_undeclare_and_clear_hooks(tmp_path):
    from end_to_end_azure_data_engineering_spark.engine import pkregistry as R

    p = tmp_path / "t.parquet"
    p.write_bytes(b"x")
    R.declare_pk(str(p), ("a", "b"))
    assert R.pk_for(str(p)) == ("a", "b")
    R.undeclare_pk(str(p))
    assert R.pk_for(str(p)) is None
    R.declare_pk(str(p), ("a",))
    R.clear()
    assert R.pk_for(str(p)) is None


def test_unstatable_declared_path_keeps_process_lifetime_contract(tmp_path):
    """A path that cannot be stat'ed (remote URI shapes) falls back to
    the pre-r12 process-lifetime declaration rather than refusing."""
    from end_to_end_azure_data_engineering_spark.engine import pkregistry as R

    R.declare_pk("s3://bucket/dim", ("k",))
    assert R.pk_for("s3://bucket/dim") == ("k",)
    R.undeclare_pk("s3://bucket/dim")
