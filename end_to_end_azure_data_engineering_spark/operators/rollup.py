"""Incremental rollup maintenance — mergeable partial aggregates.

The reference refreshes every gold aggregate by full truncate+rebuild
(M3: `5_gold/fact_transaction.py`, `gold_*` notebooks). That is O(history)
per load; at 100 TB the only viable shape is the classic mergeable-state
upgrade: keep the materialized rollup in aggregate form (sums / counts /
mins / maxs — and HLL sketches for distincts), aggregate ONLY the new
batch, and merge the two small frames. Cost per load becomes
O(batch + |rollup|) and never rescans history.

Correct merging needs every kept statistic to be a commutative monoid:
  count   → sum of counts            min/max → min of mins / max of maxs
  sum     → sum of sums (keep sums on DECIMAL so re-association is exact)
  avg     → derived as sum/count at read time, never stored
  distinct→ NOT mergeable exactly; store `hll_sketch_agg` binary state and
            `hll_union_agg` it (Spark 3.5+ Datasketches), exposing
            `hll_sketch_estimate` at read time.

Merging is one `unionByName` + re-aggregation keyed on the rollup keys —
a single shuffle of two already-small frames. With the rollup table stored
bucketed on the keys (engine/tableio.overwrite_bucketed), even that merge
shuffle disappears: both sides are co-located.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: the stored type of every ``sum_<c>`` column
SUM_DECIMAL = "decimal(28,6)"


def rollup_batch(
    df: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    minmax_cols: Sequence[str] = (),
    distinct_cols: Sequence[str] = (),
) -> DataFrame:
    """Aggregate one batch into mergeable partial-aggregate form.

    Output columns: ``n_rows``; ``sum_<c>`` (DECIMAL — exact, so later
    merges re-associate without drift); ``min_<c>``/``max_<c>``;
    ``hll_<c>`` (binary sketch state) per distinct-tracked column.
    """
    aggs = [F.count("*").alias("n_rows")]
    for c in sum_cols:
        aggs.append(F.sum(F.col(c).cast(SUM_DECIMAL)).alias(f"sum_{c}"))
    for c in minmax_cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    for c in distinct_cols:
        aggs.append(F.hll_sketch_agg(c).alias(f"hll_{c}"))
    return df.groupBy(*keys).agg(*aggs)


def merge_rollups(
    base: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Merge two rollup frames (schema-identical, produced by
    :func:`rollup_batch`) into one. Works for any number of increments by
    folding; each merge is one union + one keyed aggregation."""
    cols = base.columns
    if set(cols) != set(delta.columns):
        raise ValueError(f"rollup schemas differ: {cols} vs {delta.columns}")
    aggs = []
    for c in cols:
        if c in keys:
            continue
        if c == "n_rows" or c.startswith("sum_"):
            aggs.append(F.sum(c).alias(c))
        elif c.startswith("min_"):
            aggs.append(F.min(c).alias(c))
        elif c.startswith("max_"):
            aggs.append(F.max(c).alias(c))
        elif c.startswith("hll_"):
            aggs.append(F.hll_union_agg(c).alias(c))
        else:
            raise ValueError(f"non-mergeable rollup column: {c}")
    return base.unionByName(delta).groupBy(*keys).agg(*aggs)


def read_rollup(df: DataFrame, avg_of: Sequence[str] = ()) -> DataFrame:
    """Read-time view of a rollup: derive averages from exact sum/count and
    HLL estimates from sketch state; cast decimal sums to DOUBLE for
    consumers. The streaming sink's bookkeeping columns (``_wm`` replay
    watermarks; ``_epoch``/``_qid`` on pre-watermark-map tables) are
    dropped — they are not statistics."""
    out = df.drop("_wm", "_epoch", "_qid")
    for c in avg_of:
        # exact-decimal sum → one cast to double, then IEEE double division:
        # bit-identical in any engine (decimal÷int type-promotion rules are
        # engine-specific; double÷int is not)
        out = out.withColumn(
            f"avg_{c}", F.col(f"sum_{c}").cast("double") / F.col("n_rows")
        )
    for c in out.columns:
        if c.startswith("sum_"):
            out = out.withColumn(c, F.col(c).cast("double"))
        elif c.startswith("hll_"):
            out = out.withColumn(
                f"n_distinct_{c[4:]}", F.hll_sketch_estimate(c)
            ).drop(c)
    return out
