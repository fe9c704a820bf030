"""Lloyd's k-means over a driver-side codebook (engine extension).

The one Lloyd loop behind kmeans_refine_cells, kmeans_lloyd_3iter and
ann_ivf_refined_topk's codebook. The MLlib pattern throughout — centroids
live on the driver (K×d is bounded, like any codebook), each iteration is
one corpus pass:

  step:    one fused Arrow map (``lloyd_decimal_partials_arrow``) assigns
           every row to its nearest centroid by squared L2 and emits the
           partition's per-(cell, dim) member count and DECIMAL(28,12)
           partial sum — at most K×d rows per partition cross the shuffle;
  update:  one tiny-key agg turns the partials into round-6 means, and a
           bounded K×d collect refreshes the driver-side codebook.

The means are quantized (exact decimal sum, one rounding) so the DuckDB
oracle replays the whole trajectory bit for bit. Empty cells keep their
previous centroid. At 100 TB each iteration is a scan + one tiny-key agg;
convergence work (mini-batching, sampling the update pass) changes the
input frame, not this loop.

``nearest_cell_struct``/``nearest_cell`` are the same assignment as an
interpreted HOF expression: the reference the fused kernel is tested
against.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import similarity as V


def nearest_cell_struct(vec_dbl: Column, centroids: list[list[float]]) -> Column:
    """struct(dist, cell) of the nearest centroid by squared L2 distance.

    `vec_dbl` must already be a double array (stage it once with
    V.as_double — the lambda-bound distance terms run interpreted, and
    re-casting per centroid would multiply that cost by K). Sort key is
    struct(dist, cell): default ascending struct ordering stays on the
    interpreted-but-flat fast path (a comparator lambda would not), and
    ties break to the lowest cell id deterministically.
    """
    V.check_codebook_k(len(centroids))  # literal codebooks stay bounded
    # r14: one SQL parse instead of a py4j element walk (bit-identical;
    # measured 0.58 s per build for a 16×64 codebook via F.lit)
    cents = V.lit_double_matrix(centroids)
    cells = F.transform(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        lambda i: F.struct(
            F.aggregate(
                F.zip_with(
                    vec_dbl,
                    F.element_at(cents, i),
                    lambda x, c: (x - c) * (x - c),
                ),
                F.lit(0.0),
                lambda acc, d: acc + d,
            ).alias("dist"),
            (i - 1).alias("cell"),
        ),
    )
    return F.array_min(cells)


def nearest_cell(vec_dbl: Column, centroids: list[list[float]]) -> Column:
    """Index (0-based) of the nearest centroid by squared L2 distance."""
    return nearest_cell_struct(vec_dbl, centroids)["cell"]


def seed_codebook(
    e: DataFrame, k: int, vec_col: str = "embedding"
) -> tuple[list[int], list[list[float]]]:
    """The deterministic seed codebook: the rows ``vec_id < k`` in vec_id
    order, as (ids, driver-side double vectors) — bounded at k rows, and
    replayable by an oracle. ``vec_col`` lets a caller seed from a staged
    frame's raw float vector column (float(float32) is exact)."""
    rows = sorted(
        e.filter(F.col("vec_id") < k).select("vec_id", vec_col).collect(),
        key=lambda r: r.vec_id,
    )
    return [r.vec_id for r in rows], [[float(x) for x in r[vec_col]] for r in rows]


def lloyd_step(
    staged: DataFrame, cents: list[list[float]], vec_col: str = "_v"
) -> DataFrame:
    """One quantized Lloyd iteration over ``staged[vec_col]`` (any float
    width — the kernel's widening to double is exact): columns (cell,
    dim, n_members, mean_q), one row per non-empty cell and dimension.

    Assignment and the per-(cell, dim) count + DECIMAL(28,12) partial sum
    happen in ONE Arrow map (guide §2.3 "aggregate before you shuffle",
    §4.2). The downstream agg is the hash-contract expression: decimal
    sums are exact and order-free, so sum over the DECIMAL(38,12)
    partials equals sum over per-element DECIMAL(28,12) casts, and
    round(cast(sum as double)/count, 6) + 0.0 sees equal inputs —
    bit-identical to a HOF assignment + posexplode + JVM decimal mean,
    pinned by tests/test_similarity_arrow.py::
    test_lloyd_fused_partials_bit_exact."""
    from ..functions.similarity_arrow import lloyd_decimal_partials_arrow

    parts = lloyd_decimal_partials_arrow(staged.select(vec_col), vec_col, cents)
    return parts.groupBy("cell", "dim").agg(
        F.sum("n_part").alias("n_members"),
        (
            F.round(F.sum("s_part").cast("double") / F.sum("n_part"), 6) + 0.0
        ).alias("mean_q"),
    )


def _apply_means(cents: list[list[float]], rows) -> list[list[float]]:
    """Refresh the driver-side codebook from a collected K×d means frame;
    cells/dims with no row keep their previous coordinate (the empty-cell
    guard, same as the oracle's coalesce)."""
    nxt = [list(c) for c in cents]
    for r in rows:
        nxt[r.cell][r.dim] = float(r.mean_q)
    return nxt


def lloyd_codebook(
    staged: DataFrame, cents: list[list[float]], n_iter: int, vec_col: str = "_v"
) -> list[list[float]]:
    """The codebook after ``n_iter`` Lloyd iterations from ``cents``: one
    pass over ``staged`` and one bounded K×d collect per iteration. Pin
    ``staged`` when ``n_iter`` > 1, or every pass re-runs its plan."""
    for _ in range(n_iter):
        cents = _apply_means(cents, lloyd_step(staged, cents, vec_col).collect())
    return cents
