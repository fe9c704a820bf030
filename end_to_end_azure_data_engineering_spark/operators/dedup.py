"""Keyed dedup operators — SURVEY §2.4 A3/A5, §2.5 W1.

``keep_latest`` is the reference's batch dedup (row_number over
partitionBy(business_key) orderBy(recency desc_nulls_last) == 1;
4_silver/silver_transactions.py:106-116). It is also the mandatory
pre-MERGE compaction (Delta MERGE forbids duplicate source matches).

Deterministic by construction: callers supply a total order (append a
unique tiebreak column). One shuffle on the key — at scale this
partitioning is reused by the downstream merge join.

``distinct_by_key`` reproduces A5 (dropDuplicates([key]); arbitrary
survivor) — kept for parity, but engine code paths use keep_latest, the
deviation SURVEY §2.4 documents for silver_fx_rates.py:67-68.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from ..engine.pin import collect_if_bounded, driver_frame, pin as _pin, release_checkpoints


def keep_latest(df: DataFrame, keys: list[str], order_by: list[Column]) -> DataFrame:
    w = W.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def latest_by_recency(df: DataFrame, keys: list[str], recency_cols: list[str]) -> DataFrame:
    """W1 with the reference's desc_nulls_last recency ordering."""
    return keep_latest(df, keys, [F.col(c).desc_nulls_last() for c in recency_cols])


def distinct_by_key(df: DataFrame, keys: list[str]) -> DataFrame:
    return df.dropDuplicates(keys)


def _cc_local(pairs: list, node_type) -> list:
    """Driver-side union-find over collected (n, m) pairs → (node,
    min-label) rows, semantically identical to the distributed
    min-label propagation: every node that appears in ≥1 edge is
    labeled with the minimum id of its component. ``node_type`` is
    unused for the computation (ids compare with Python's native
    ordering, which matches Spark's for integers and for strings —
    UTF-8 byte order equals code-point order) and documents intent."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        m = comp_min.get(r)
        if m is None or v < m:
            comp_min[r] = v
    return [(v, comp_min[find(v)]) for v in parent]


def connected_components(edges, src: str = "src", dst: str = "dst", max_iter: int = 20):
    """Connected components by min-label propagation with pointer doubling.

    ADAPTIVE, one budget rule: the bidirectional edge frame is pinned
    (the loop needs that anyway) and handed to
    ``engine.pin.collect_if_bounded``. When its estimated driver payload
    (UTF-8 bytes of string ids, fixed width otherwise, plus per-row
    overhead) fits ⅛ of ``spark.driver.maxResultSize``, the components
    are solved by a driver-side union-find over that one collect —
    near-dup pair sets are collision-bound, so at any corpus size the
    CLUSTER graph is tiny relative to the corpus, and the loop's ~4
    driver-coordinated jobs per round were pure scheduling overhead on
    it (measured: 34 jobs / 1.65 s for a 256-edge graph at sf0.1 vs
    0.1 s local — same labels, asserted equal). Otherwise the
    distributed loop below runs over the pinned edges — the 100 TB
    path, where the probe is one aggregate over blocks already
    materialized. Both routes drop null-endpoint edges and return the
    same (node, label) rows.

    Every node starts labeled with itself; each round adopts the minimum of
    (its label, its neighbors' labels, its label's label). The
    label-of-label hop halves the remaining distance to the component
    minimum each round, so convergence is O(log diameter) rounds instead of
    O(diameter) — a path of 1M nodes settles in ~20 rounds, not 1M. This is
    the property that makes the operator survive 100 TB corpora whose
    near-dup graphs contain long chains.

    The dedup-clustering step after near-dup pair generation: pairs →
    components → canonical doc = component min. Each round is two shuffles
    on the node key; each round's labels are pinned so plans stay O(1)
    per round, and the superseded labels are released as soon as the
    next round's are materialized.

    Pins: the local route releases the edge pin and returns its labels
    as an Arrow local relation (``engine.pin.driver_frame``: a
    ``LocalTableScan``, no pins, no job, no Python worker); the
    distributed route releases the edge pin and every superseded labels
    frame and keeps only the final labels, which back the returned frame
    (free them with ``release_checkpoints``). Pins made by anyone else
    are never touched.

    Convergence is detected by an unchanged sum of xxhash64(label) — one
    cheap aggregation per round, correct for ANY node id type (the previous
    raw label-sum returned NULL for string/UUID ids and silently broke
    after one round; min-propagation only ever shrinks labels, so any
    change perturbs the hash multiset). Raises RuntimeError if labels are
    still changing after ``max_iter`` rounds rather than returning
    partially-propagated (wrong) labels.
    """
    from pyspark.sql import functions as F

    # materialize the edge list once — the upstream pair generation (minhash
    # banding or any near-dup join) must not be recomputed every round.
    # Null-endpoint edges are dropped up front: they connect nothing under
    # min-label semantics, the local union-find would raise on None
    # comparisons, and the distributed join path half-dropped them — one
    # explicit rule keeps both routes identical on dirty input (pinned by
    # test_connected_components_null_edges_both_paths).
    clean = edges.filter(F.col(src).isNotNull() & F.col(dst).isNotNull())
    bidir = (
        clean.select(F.col(src).alias("_n"), F.col(dst).alias("_m"))
        .unionByName(clean.select(F.col(dst).alias("_n"), F.col(src).alias("_m")))
        .transform(_pin)
    )
    pairs = collect_if_bounded(bidir)
    if pairs is not None:
        from pyspark.sql.types import StructField, StructType

        node_type = edges.schema[src].dataType
        rows = _cc_local([(r[0], r[1]) for r in pairs], node_type)
        schema = StructType(
            [
                StructField("node", node_type, True),
                StructField("label", node_type, True),
            ]
        )
        return driver_frame(edges.sparkSession, rows, schema)
    labels = (
        bidir.select(F.col("_n").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .transform(_pin)
    )
    hash_sum = labels.agg(F.sum(F.xxhash64("label").cast("decimal(38,0)"))).first()[0]
    converged = False
    for rnd in range(max_iter):
        # min label among neighbors
        nbr = bidir.join(
            labels.withColumnRenamed("node", "_m"), "_m"
        ).select(F.col("_n").alias("node"), "label")
        parts = labels.unionByName(nbr)
        if rnd > 0:
            # pointer doubling: adopt the label of your label (labels are
            # always node ids, so the lookup is total). Skipped in round 1
            # where labels are the identity and the hop is a no-op join.
            hop = labels.join(
                labels.select(
                    F.col("node").alias("label"), F.col("label").alias("_lol")
                ),
                "label",
            ).select("node", F.col("_lol").alias("label"))
            parts = parts.unionByName(hop)
        superseded = labels
        labels = (
            parts.groupBy("node")
            .agg(F.min("label").alias("label"))
            .transform(_pin)
        )
        release_checkpoints(superseded)
        new_sum = labels.agg(F.sum(F.xxhash64("label").cast("decimal(38,0)"))).first()[0]
        if new_sum == hash_sum:
            converged = True
            break
        hash_sum = new_sum
    release_checkpoints(bidir)
    if not converged:
        release_checkpoints(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels would be partially propagated — raise max_iter"
        )
    return labels
