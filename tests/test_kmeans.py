"""Lloyd's refinement (operators/kmeans.py): the objective must not
increase, assignments must partition the corpus, and the loop must be a
bounded number of corpus passes (no per-row collects)."""

from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.functions import similarity as V
from end_to_end_azure_data_engineering_spark.operators.kmeans import (
    lloyd_codebook,
    nearest_cell,
    nearest_cell_struct,
    seed_codebook,
)
from end_to_end_azure_data_engineering_spark.queries import load

SF = "/root/testdata/sf0.001"


def _vectors(spark):
    return load(spark, SF, "embeddings").select("vec_id", F.col("embedding").alias("_v"))


def _sse(vectors, cents):
    """Total within-cluster sum of squared distances (the Lloyd
    objective), by the HOF reference fold."""
    d2 = nearest_cell_struct(V.as_double(F.col("_v")), cents)["dist"]
    return vectors.select(F.sum(d2).alias("s")).first()["s"]


def test_lloyd_objective_non_increasing(spark):
    v = _vectors(spark)
    _, init = seed_codebook(v, 8, "_v")
    before = _sse(v, init)
    refined = lloyd_codebook(v, init, 2)
    after = _sse(v, refined)
    assert after <= before * (1 + 1e-9)
    assert after < before  # seed sample is not a fixed point on this data
    assert len(refined) == len(init) and len(refined[0]) == len(init[0])


def test_assignment_partitions_corpus(spark):
    v = _vectors(spark)
    refined = lloyd_codebook(v, seed_codebook(v, 8, "_v")[1], 1)
    cells = v.select("vec_id", nearest_cell(V.as_double(F.col("_v")), refined).alias("cell"))
    n_total = v.count()
    agg = cells.agg(
        F.count("*").alias("n"),
        F.min("cell").alias("lo"),
        F.max("cell").alias("hi"),
    ).first()
    assert agg.n == n_total
    assert 0 <= agg.lo and agg.hi <= len(refined) - 1


def test_empty_cells_keep_previous_centroid(spark):
    # two far-apart duplicate groups + 4 seeds: at least 2 seeds capture
    # nothing after the first assignment and must survive unchanged
    data = [([10.0, 0.0],), ([10.1, 0.0],), ([-10.0, 0.0],), ([-10.2, 0.0],)]
    df = spark.createDataFrame(data, "_v array<double>")
    init = [[10.0, 0.0], [-10.0, 0.0], [500.0, 500.0], [-500.0, -500.0]]
    refined = lloyd_codebook(df, init, 2)
    assert refined[2] == [500.0, 500.0]
    assert refined[3] == [-500.0, -500.0]
    # captured cells moved to their points' means
    assert refined[0] == [10.05, 0.0]
    assert refined[1] == [-10.1, 0.0]


def test_lloyd_3iter_query_tracks_production_loop(spark):
    """The oracle-gated kmeans_lloyd_3iter query is the one Lloyd loop:
    its third step's means equal the codebook ``lloyd_codebook`` reaches
    in 3 iterations exactly, and every vector is counted once."""
    from end_to_end_azure_data_engineering_spark.queries.similarity_ops import (
        _KM_K,
        kmeans_lloyd_3iter,
    )

    v = _vectors(spark)
    _, init = seed_codebook(v, _KM_K, "_v")
    refined = lloyd_codebook(v, init, 3)
    q = kmeans_lloyd_3iter(spark, SF).collect()
    assert 0 < len(q) <= _KM_K * len(init[0])
    for r in q:
        assert refined[r.cell][r.dim] == r.mean_q, (r.cell, r.dim)
    # counts: every vector assigned exactly once (sum over cells at any
    # one dim equals the corpus size)
    assert sum(r.n_members for r in q if r.dim == 0) == v.count()


def test_literal_codebook_bound_refused(spark):
    """r11 verdict item 6: k_cells/_KM_K are knobs now — a caller
    pushing the literal-codebook size past the measured driver
    bottleneck must get a ValueError, not a driver OOM. Guards fire
    before any Spark job runs (ivf_index_frames never touches its
    spark argument before the raise — None proves it)."""
    import pytest

    from end_to_end_azure_data_engineering_spark.queries.similarity_ops import (
        ivf_index_frames,
    )

    big = [[0.0]] * (V.MAX_LITERAL_CODEBOOK + 1)
    with pytest.raises(ValueError, match="literal-codebook bound"):
        nearest_cell_struct(F.col("v"), big)
    with pytest.raises(ValueError, match="literal-codebook bound"):
        ivf_index_frames(None, "unused", k_cells=V.MAX_LITERAL_CODEBOOK + 1)


def test_ivf_explicit_codebook_matches_seed_assignment(spark):
    """ivf_index_frames(centroids=...) must reproduce the seed path's
    assignment exactly when given the seed vectors themselves (the seed
    vec_ids are 0..K-1, so cell ids coincide) — the refined-codebook
    entry point cannot drift from the oracle-verified default."""
    from end_to_end_azure_data_engineering_spark.queries.similarity_ops import (
        ivf_index_frames,
    )

    e = load(spark, SF, "embeddings")
    k = 8
    seed = [
        [float(x) for x in r.embedding]
        for r in sorted(
            e.filter(F.col("vec_id") < k).collect(), key=lambda r: r.vec_id
        )
    ]
    a_default, _ = ivf_index_frames(spark, SF, nprobe=1, k_cells=k)
    a_explicit, _ = ivf_index_frames(spark, SF, nprobe=1, centroids=seed)
    got_d = {(r.vec_id, r.cid) for r in a_default.collect()}
    got_e = {(r.vec_id, r.cid) for r in a_explicit.collect()}
    assert got_d == got_e


def test_lloyd_query_releases_staged_pin(spark):
    """r14 (r13 VERDICT "what's wrong" item 4): a bare
    queries()['kmeans_lloyd_3iter'] call must not leave the corpus-scale
    staged-vector pin behind — the query releases it itself after pinning
    the bounded K x d final aggregate, so a caller that discards the frame
    leaks at most K x d rows, and release_checkpoints on the returned
    frame leaves nothing at all."""
    from end_to_end_azure_data_engineering_spark.operators.neardup import (
        release_checkpoints,
    )
    from end_to_end_azure_data_engineering_spark.queries.similarity_ops import (
        _KM_K,
        kmeans_lloyd_3iter,
    )

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keys())
    df = kmeans_lloyd_3iter(spark, SF)
    mid = set(sc._jsc.getPersistentRDDs().keys())
    new = mid - before
    # exactly the returned bounded aggregate may remain pinned
    assert len(new) <= 1, f"staged pin leaked: {sorted(new)}"
    n = df.count()
    assert n <= _KM_K * 64  # bounded, never corpus-sized
    release_checkpoints(df)
    after = set(sc._jsc.getPersistentRDDs().keys())
    assert after - before == set(), "returned pin not releasable"
