"""Arrow kernels (functions/similarity_arrow.py) back ORACLE-HASHED
queries (kmeans_refine_cells, kmeans_lloyd_3iter, ann_ivf_topk,
ann_ivf_refined_topk, embedding_top_eigen_power), so the contract is exact
equality against the interpreted expression form they replace — scores,
argmin, and ties."""

from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.queries import load

SF = "/root/testdata/sf0.001"


def test_lloyd_fused_assignment_bit_exact_vs_hof(spark, monkeypatch):
    """Per-vector cell equality against the HOF reference nearest_cell
    over the full fixture: the fused kernel's own batch function, run on
    one-row batches, must count each vector in the cell the interpreted
    zip_with/aggregate fold picks — the sequential-dim numpy accumulation
    reproduces that fold bit-for-bit (same IEEE add order), not
    approximately."""
    import pandas as pd

    from end_to_end_azure_data_engineering_spark.functions import similarity as V
    from end_to_end_azure_data_engineering_spark.functions.similarity_arrow import (
        lloyd_decimal_partials_arrow,
    )
    from end_to_end_azure_data_engineering_spark.operators.kmeans import (
        nearest_cell,
        seed_codebook,
    )

    e = load(spark, SF, "embeddings")
    _, cents = seed_codebook(e, 16)
    staged = e.select("vec_id", V.as_double(F.col("embedding")).alias("_v"))
    hof = {
        r.vec_id: r.cell
        for r in staged.select(
            "vec_id", nearest_cell(F.col("_v"), cents).alias("cell")
        ).collect()
    }
    captured = []
    cls = type(staged)
    orig = cls.mapInPandas

    def spy(self, func, schema, *a, **kw):
        captured.append(func)
        return orig(self, func, schema, *a, **kw)

    monkeypatch.setattr(cls, "mapInPandas", spy)
    lloyd_decimal_partials_arrow(staged.select("_v"), "_v", cents)
    (run,) = captured
    rows = staged.collect()
    assert len(rows) == len(hof)
    for r in rows:
        (out,) = run(iter([pd.DataFrame({"_v": [r._v]})]))
        assert set(out["cell"]) == {hof[r.vec_id]}, r.vec_id


def test_lloyd_fused_tie_breaks_to_lowest_cell(spark):
    """Duplicate centroids force exact distance ties: the fused kernel,
    like the struct(dist, cell) ordering, must count each vector in the
    LOWEST tied cell."""
    from end_to_end_azure_data_engineering_spark.functions.similarity_arrow import (
        lloyd_decimal_partials_arrow,
    )

    df = spark.createDataFrame([([1.0, 2.0],), ([5.0, 5.0],)], "v: array<double>")
    cents = [[5.0, 5.0], [1.0, 2.0], [1.0, 2.0], [5.0, 5.0]]
    got = {
        (r.cell, r.dim): (r.n_part, float(r.s_part))
        for r in lloyd_decimal_partials_arrow(df, "v", cents).collect()
    }
    assert got == {
        (0, 0): (1, 5.0), (0, 1): (1, 5.0), (1, 0): (1, 1.0), (1, 1): (1, 2.0)
    }


def test_assign_cosine_cid_bit_exact_vs_hof(spark):
    """Full-fixture cid equality against the expression ranking that
    ivf_index_frames uses (array_min over struct(neg_cos, cid)), with the
    same staged norms and the same precomputed centroid norms."""
    import math

    from end_to_end_azure_data_engineering_spark.functions import similarity as V
    from end_to_end_azure_data_engineering_spark.functions.similarity_arrow import (
        assign_cosine_cid_arrow,
    )

    e = load(spark, SF, "embeddings")
    cent_rows = sorted(
        e.filter(F.col("vec_id") < 16).select("vec_id", "embedding").collect(),
        key=lambda r: r.vec_id,
    )
    cents = [[float(x) for x in r.embedding] for r in cent_rows]
    ids = [r.vec_id for r in cent_rows]
    norms = [math.sqrt(sum(x * x for x in ce)) for ce in cents]

    ev = V.staged(e, "embedding", "_e").withColumn(
        "_e_vd", V.as_double(F.col("_e_v"))
    )
    cells = F.transform(
        F.sequence(F.lit(1), F.lit(len(cents))),
        lambda i: F.struct(
            (
                -(
                    V.dot(F.col("_e_vd"), F.element_at(F.lit(cents), i))
                    / F.greatest(
                        F.col("_e_n") * F.element_at(F.lit(norms), i), F.lit(1e-12)
                    )
                )
            ).alias("neg_cos"),
            F.element_at(F.lit(ids), i).alias("cid"),
        ),
    )
    hof = {
        r.vec_id: r.cid
        for r in ev.select(
            "vec_id", F.array_min(cells)["cid"].alias("cid")
        ).collect()
    }
    got = {
        r.vec_id: r.cid
        for r in assign_cosine_cid_arrow(
            ev.select("vec_id", "_e_v", "_e_n"), "_e_v", "_e_n", cents, norms, ids
        ).collect()
    }
    assert got == hof


def test_assign_kernel_closures_are_self_contained(spark, monkeypatch):
    """The mapInPandas closures must reference NOTHING from this package:
    cloudpickle serializes package references by module path, and the
    driver harness's Python workers do not have the repo importable (the
    multimodal inline-op pattern). Caught live in r13: a helper call in
    the closure made every Arrow-kernel query fail with
    ModuleNotFoundError under the external-driver contract."""
    from pyspark import cloudpickle

    from end_to_end_azure_data_engineering_spark.functions.similarity_arrow import (
        assign_cosine_cid_arrow,
    )

    captured = []
    df = spark.createDataFrame([([1.0, 2.0], 2.0)], "v: array<double>, n: double")
    cls = type(df)  # the concrete (classic/connect) DataFrame class
    orig = cls.mapInPandas

    def spy(self, func, schema, *a, **kw):
        captured.append(func)
        return orig(self, func, schema, *a, **kw)

    monkeypatch.setattr(cls, "mapInPandas", spy)
    assign_cosine_cid_arrow(df, "v", "n", [[1.0, 0.0]], [1.0], [0])
    assert len(captured) == 1
    # the decisive property: a clean interpreter WITHOUT the repo on its
    # path (the harness's worker environment) must unpickle and run the
    # closure — by-value functions still carry the module NAME as inert
    # metadata, so a bytes-grep would false-positive
    import subprocess
    import sys
    import tempfile

    for fn in captured:
        with tempfile.NamedTemporaryFile(suffix=".pkl", delete=False) as f:
            f.write(cloudpickle.dumps(fn))
            path = f.name
        proc = subprocess.run(
            [
                sys.executable,
                "-c",
                "import sys;"
                "sys.path = [p for p in sys.path if 'repo' not in p];"
                "from pyspark import cloudpickle;"
                f"cloudpickle.loads(open({path!r},'rb').read());"
                "print('LOADS_OK')",
            ],
            capture_output=True,
            text=True,
            cwd="/tmp",
            timeout=120,
        )
        assert "LOADS_OK" in proc.stdout, (
            "assignment-kernel closure cannot be unpickled without the "
            f"package importable:\n{proc.stderr[-1500:]}"
        )


def _old_lloyd_step(staged_v, cents):
    """One Lloyd step in its interpreted form (the HOF assignment
    operators/kmeans.nearest_cell + posexplode + JVM decimal aggregate):
    the bit-equality reference for the fused kernel."""
    from end_to_end_azure_data_engineering_spark.operators.kmeans import (
        nearest_cell,
    )

    assigned = staged_v.select("_v", nearest_cell(F.col("_v"), cents).alias("cell"))
    return (
        assigned.select("cell", F.posexplode_outer("_v").alias("dim", "x"))
        .groupBy("cell", "dim")
        .agg(
            F.count("*").alias("n_members"),
            (
                F.round(
                    F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
                    / F.count("*"),
                    6,
                )
                + 0.0
            ).alias("mean_q"),
        )
    )


def test_lloyd_fused_partials_bit_exact(spark):
    """r14 VERDICT item 1: the fused assignment+decimal-partials kernel,
    aggregated downstream, must equal the interpreted HOF assignment +
    posexplode + JVM decimal form BIT-FOR-BIT over the full fixture —
    counts as exact ints, mean_q by float repr (round-trip exact), across
    several partitions so cross-partition partial summation is exercised.
    This is also the assignment check: a vector the fused fold placed in
    another cell than the HOF fold would change both cells' counts and
    sums."""
    from end_to_end_azure_data_engineering_spark.functions import similarity as V
    from end_to_end_azure_data_engineering_spark.operators.kmeans import (
        lloyd_step,
        seed_codebook,
    )

    e = load(spark, SF, "embeddings")
    _, cents = seed_codebook(e, 16)
    staged = e.repartition(5).select(V.as_double(F.col("embedding")).alias("_v"))
    ref = {
        (r.cell, r.dim): (r.n_members, repr(r.mean_q))
        for r in _old_lloyd_step(staged, cents).collect()
    }
    got = {
        (r.cell, r.dim): (r.n_members, repr(r.mean_q))
        for r in lloyd_step(staged, cents).collect()
    }
    assert got == ref
    # r14 float32 pin: feeding the RAW float arrays must give the same
    # result — the kernel's astype(float64) is the exact widening the
    # as_double projection performed
    raw = e.repartition(5).select(F.col("embedding").alias("_v"))
    got32 = {
        (r.cell, r.dim): (r.n_members, repr(r.mean_q))
        for r in lloyd_step(raw, cents).collect()
    }
    assert got32 == ref


def test_lloyd_decimal_quantization_matches_spark_cast(spark):
    """The kernel's per-element double→scaled-int quantization must equal
    Spark's own CAST(x AS DECIMAL(28,12)) — the HALF_UP rounding of the
    Double.toString shortest repr — on planted .5-boundary values, their
    ±ulp neighborhoods, negatives, and a float32-derived random sweep.
    Each value is routed to its OWN cell (centroids = the values
    themselves, d=1), so every per-cell partial sum IS that single
    element's quantization."""
    import math
    from decimal import Decimal

    import numpy as np

    from end_to_end_azure_data_engineering_spark.functions.similarity_arrow import (
        lloyd_decimal_partials_arrow,
    )

    rng = np.random.default_rng(14)
    vals: list[float] = []
    for mag in (
        5e-13, 1.5e-12, 2.5e-12, 47.0000000000025, 123.0000000000005,
        999.9999999999995, 1000.0000000000005, 4095.9999999999995,
    ):
        d = float(mag)
        for _ in range(3):
            vals.append(d)
            vals.append(-d)
            d = math.nextafter(d, math.inf)
    vals += [0.0, 1e-13, -1e-13, 0.9999999999995, -0.9999999999995]
    vals += [float(x) for x in rng.standard_normal(120).astype(np.float32)]
    vals = sorted(set(vals))

    spark_q = {
        r.x: r.q
        for r in spark.createDataFrame([(v,) for v in vals], "x double")
        .select("x", F.col("x").cast("decimal(28,12)").alias("q"))
        .collect()
    }
    df = spark.createDataFrame([([v],) for v in vals], "v: array<double>")
    cents = [[v] for v in vals]
    got = {
        vals[r.cell]: r.s_part
        for r in lloyd_decimal_partials_arrow(df, "v", cents).collect()
    }
    assert set(got) == set(spark_q)
    for v in vals:
        # Decimal compares by numeric value; normalize both to scale 12
        assert Decimal(got[v]).scaleb(12) == Decimal(spark_q[v]).scaleb(12), (
            repr(v), got[v], spark_q[v],
        )


def test_lloyd_fused_kernel_raises_on_nan(spark):
    """The NaN guard must raise loudly (r13 ADVICE: silent divergence is
    the failure mode being fenced), not emit diverging assignments."""
    import pytest

    from end_to_end_azure_data_engineering_spark.functions.similarity_arrow import (
        lloyd_decimal_partials_arrow,
    )

    df = spark.createDataFrame(
        [([1.0, 2.0],), ([float("nan"), 0.0],)], "v: array<double>"
    )
    with pytest.raises(Exception, match="NaN"):
        lloyd_decimal_partials_arrow(df, "v", [[0.0, 0.0]]).collect()


def test_lloyd_fused_closure_is_self_contained(spark, monkeypatch):
    """Same external-driver contract as the r13 kernels: the fused
    kernel's closure must unpickle in a clean interpreter without the
    repo importable."""
    import subprocess
    import sys
    import tempfile

    from pyspark import cloudpickle

    from end_to_end_azure_data_engineering_spark.functions.similarity_arrow import (
        lloyd_decimal_partials_arrow,
    )

    captured = []
    df = spark.createDataFrame([([1.0, 2.0],)], "v: array<double>")
    cls = type(df)
    orig = cls.mapInPandas

    def spy(self, func, schema, *a, **kw):
        captured.append(func)
        return orig(self, func, schema, *a, **kw)

    monkeypatch.setattr(cls, "mapInPandas", spy)
    lloyd_decimal_partials_arrow(df, "v", [[0.0, 0.0]])
    assert len(captured) == 1
    with tempfile.NamedTemporaryFile(suffix=".pkl", delete=False) as f:
        f.write(cloudpickle.dumps(captured[0]))
        path = f.name
    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys;"
            "sys.path = [p for p in sys.path if 'repo' not in p];"
            "from pyspark import cloudpickle;"
            f"cloudpickle.loads(open({path!r},'rb').read());"
            "print('LOADS_OK')",
        ],
        capture_output=True,
        text=True,
        cwd="/tmp",
        timeout=120,
    )
    assert "LOADS_OK" in proc.stdout, proc.stderr[-1500:]


def test_lit_double_helpers_match_f_lit(spark):
    """lit_double_array / lit_double_matrix (one SQL parse) must be
    BIT-IDENTICAL to F.lit's py4j element walk — including -0.0,
    subnormals, and max-double — because the codebook literals feed
    bit-exact kernels and oracle-hashed expressions."""
    import math
    import random
    import struct

    from end_to_end_azure_data_engineering_spark.functions import (
        similarity as V,
    )

    random.seed(41)
    vals = [
        0.0, -0.0, 5e-324, -5e-324, 1e-310, 1.7976931348623157e308,
        -1.2345678901234567, 1 / 3, math.pi, 2.0**-1074, 1e-05,
    ] + [random.gauss(0, 1) for _ in range(100)]
    a = spark.range(1).select(F.lit(vals).alias("a")).collect()[0].a
    b = spark.range(1).select(V.lit_double_array(vals).alias("a")).collect()[0].a
    assert [struct.pack("<d", x) for x in a] == [struct.pack("<d", x) for x in b]
    m = [vals[i : i + 8] for i in range(0, 96, 8)]
    am = spark.range(1).select(F.lit(m).alias("m")).collect()[0].m
    bm = spark.range(1).select(V.lit_double_matrix(m).alias("m")).collect()[0].m
    assert [[struct.pack("<d", x) for x in r] for r in am] == [
        [struct.pack("<d", x) for x in r] for r in bm
    ]
    import pytest

    with pytest.raises(ValueError, match="non-finite"):
        V.lit_double_array([1.0, float("nan")])
    with pytest.raises(ValueError, match="non-finite"):
        V.lit_double_matrix([[float("inf")]])


def _old_eigen_tail(c):
    """The r13 distributed power-iteration tail over a (i, j, m) gram
    frame — the reference for the r14 driver-local replica."""
    v1 = c.groupBy("i").agg(F.sum("m").alias("v")).select(
        F.col("i").alias("j"), F.col("v")
    )
    v2 = (
        c.join(F.broadcast(v1), "j")
        .groupBy("i")
        .agg(F.sum(F.col("m").cast("decimal(38,0)") * F.col("v")).alias("v"))
    )
    v2s = v2.select(
        F.col("i").alias("j"),
        F.floor(F.col("v").cast("double") / 1000000.0).cast("long").alias("v"),
    )
    v3 = (
        c.join(F.broadcast(v2s), "j")
        .groupBy("i")
        .agg(F.sum(F.col("m").cast("decimal(38,0)") * F.col("v")).alias("v"))
    )
    joined = v3.select(F.col("i"), F.col("v").alias("v3")).join(
        v2s.select(F.col("j").alias("i"), F.col("v").alias("v2s")), "i"
    )
    ray = joined.agg(
        F.sum((F.col("v3") * F.col("v2s")).cast("decimal(38,0)")).alias("num"),
        F.sum((F.col("v2s") * F.col("v2s")).cast("decimal(38,0)")).alias("den"),
    )
    dom = (
        v3.crossJoin(F.broadcast(v3.agg(F.max(F.abs("v")).alias("mx"))))
        .where(F.abs("v") >= F.col("mx") / 2)
        .agg(F.count("*").alias("n_dominant_dims"))
    )
    return ray.crossJoin(F.broadcast(dom)).select(
        F.round(
            F.col("num").cast("double") / F.col("den").cast("double") / 1000000.0,
            4,
        ).alias("top_eigen_m"),
        "n_dominant_dims",
    )


def test_eigen_power_local_matches_spark_form(spark):
    """r14: the driver-local power-iteration replica must equal the old
    distributed tail EXACTLY (double by repr, count by int) on the real
    fixture gram AND on crafted matrices with negative off-diagonals,
    zeros, and large magnitudes."""
    from end_to_end_azure_data_engineering_spark.queries import load as _load
    from end_to_end_azure_data_engineering_spark.queries.similarity_ops import (
        _eigen_power_local,
        eigen_gram_lazy,
    )

    cases = []
    real = [
        (r.i, r.j, r.m)
        for r in eigen_gram_lazy(_load(spark, SF, "embeddings")).collect()
    ]
    cases.append(real)
    cases.append(
        [(1, 1, 5), (1, 2, -3), (2, 1, -3), (2, 2, 4)]
    )
    # large magnitudes exercising >2^53 doubles in the floor rescale
    # while staying inside the int64 den terms
    cases.append([(1, 1, 10**7), (1, 2, 3), (2, 1, 3), (2, 2, 10**7)])
    for entries in cases:
        c = spark.createDataFrame(entries, "i int, j int, m long")
        ref = _old_eigen_tail(c).collect()[0]
        got = _eigen_power_local(entries)
        assert repr(got[0]) == repr(ref.top_eigen_m), (entries[:2], got, ref)
        assert got[1] == ref.n_dominant_dims, (got, ref)
    # degenerate grams whose rescaled iterate collapses to zero: the
    # distributed form RAISES under ANSI (DIVIDE_BY_ZERO on the Rayleigh
    # division) — the replica must too
    import pytest

    for entries in (
        [(1, 1, 0), (1, 2, 0), (2, 1, 0), (2, 2, 0)],
        [(1, 1, 10**9), (1, 2, -(10**9) + 7), (2, 1, -(10**9) + 7), (2, 2, 10**9)],
    ):
        with pytest.raises(Exception, match="DIVIDE_BY_ZERO|divide|zero"):
            _old_eigen_tail(
                spark.createDataFrame(entries, "i int, j int, m long")
            ).collect()
        with pytest.raises(ArithmeticError, match="DIVIDE_BY_ZERO"):
            _eigen_power_local(entries)
    # long overflow in the den terms: ANSI Spark raises
    # ARITHMETIC_OVERFLOW — the replica's int64 bound check must too
    big = [(1, 1, 10**9), (1, 2, 3), (2, 1, 3), (2, 2, 10**9)]
    with pytest.raises(Exception, match="ARITHMETIC_OVERFLOW|overflow"):
        _old_eigen_tail(
            spark.createDataFrame(big, "i int, j int, m long")
        ).collect()
    with pytest.raises(ArithmeticError, match="ARITHMETIC_OVERFLOW"):
        _eigen_power_local(big)


def test_int_gram_partials_match_join_form(spark):
    """The Arrow partial-Gram (int64 Xᵀ@X per batch) summed downstream
    must equal the exploded self-join + sum form value-for-value — both
    are exact integer sums, so equality is exact, not approximate."""
    from end_to_end_azure_data_engineering_spark.functions.similarity_arrow import (
        int_gram_partials_arrow,
    )

    e = load(spark, SF, "embeddings")
    q = e.select(
        F.transform(
            F.col("embedding"),
            lambda v: F.round(v.cast("double") * 1000.0, 0).cast("long"),
        ).alias("_q")
    ).repartition(5)  # several partitions → several partial matrices
    got = {
        (r.i, r.j): r.m
        for r in int_gram_partials_arrow(q, "_q")
        .groupBy("i", "j")
        .agg(F.sum("m_part").alias("m"))
        .collect()
    }
    x = e.select("vec_id", F.posexplode("embedding").alias("pos", "val")).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.round(F.col("val").cast("double") * 1000.0, 0).cast("long").alias("q"),
    )
    a = x.select("vec_id", "i", F.col("q").alias("qa"))
    b = x.select("vec_id", F.col("i").alias("j"), F.col("q").alias("qb"))
    ref = {
        (r.i, r.j): r.m
        for r in a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(F.sum(F.col("qa") * F.col("qb")).alias("m"))
        .collect()
    }
    assert got == ref
