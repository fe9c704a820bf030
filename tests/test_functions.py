"""Unit tests for the extension function library: sketches, similarity,
text, multimodal plumbing."""

import importlib

import pytest
from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.functions import multimodal as MM
from end_to_end_azure_data_engineering_spark.functions import sketches as S
from end_to_end_azure_data_engineering_spark.functions import similarity as V
from end_to_end_azure_data_engineering_spark.functions import text as X

# the module, not the ``pin`` function the engine package re-exports
P = importlib.import_module("end_to_end_azure_data_engineering_spark.engine.pin")


def _force_route(monkeypatch, local: bool) -> None:
    """Force the driver-local (or distributed) route of every
    collect_if_bounded caller through its one budget function."""
    budget = (1 << 62) if local else 0
    monkeypatch.setattr(P, "collect_budget_bytes", lambda spark: budget)


def _persistent_ids(spark) -> set:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _is_local_relation(df) -> bool:
    """The frame executes as a bare ``LocalTableScan`` (driver-held rows)."""
    return df._jdf.queryExecution().executedPlan().toString().startswith("LocalTableScan")


def test_minhash_identical_docs_share_signature(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now")],
        ["doc_id", "text"],
    )
    sigs = df.select(
        "doc_id", S.minhash_signature(S.word_shingles("text")).alias("mh")
    ).collect()
    by_id = {r.doc_id: r.mh for r in sigs}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[3]
    assert len(by_id[1]) == S.K


def test_jaccard_bounds(spark):
    df = spark.createDataFrame([(1,)], ["x"])
    row = df.select(
        S.jaccard(F.array(F.lit("a"), F.lit("b")), F.array(F.lit("a"), F.lit("b"))).alias("same"),
        S.jaccard(F.array(F.lit("a")), F.array(F.lit("b"))).alias("disjoint"),
    ).first()
    assert row.same == 1.0 and row.disjoint == 0.0


def test_simhash_near_vs_far(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "one two three four five six")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.sh for r in df.select("doc_id", S.simhash("text").alias("sh")).collect()}
    near = df.select(S.hamming32(F.lit(rows[1]), F.lit(rows[2])).alias("h")).first().h
    far = df.select(S.hamming32(F.lit(rows[1]), F.lit(rows[3])).alias("h")).first().h
    assert near < far


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([([1.0, 2.0, 3.0],)], ["v"])
    c = df.select(V.cosine(F.col("v"), F.col("v")).alias("c")).first().c
    assert abs(c - 1.0) < 1e-9


def test_lang_id_stopwords(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the hat of a house"),
         (2, "el gato y la casa de que en"),
         (3, "xyzzy plugh qwerty")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.lang for r in df.select("doc_id", X.lang_id("text").alias("lang")).collect()}
    assert rows[1] == "en"
    assert rows[2] == "es"
    assert rows[3] == "und"


def test_multimodal_feature_extract(spark):
    data = [
        (1, "image", b"\x89PNG fake bytes", 640, 480, None, None),
        (2, "audio", b"RIFF fake wav", None, None, 44100, 9000),
        (3, "video", b"\x00\x00ftyp fake", 1920, 1080, None, 3500),
        (4, "image", None, 0, 0, None, None),
    ]
    media = spark.createDataFrame(data, MM.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in MM.extract_features(media).collect()}
    assert feats[1].n_bytes == 15
    assert feats[4].n_bytes == 0
    assert 0.0 <= feats[2].byte_entropy_proxy <= 1.0
    assert len(feats[3].content_hash) == 32
    # deterministic: same payload → same features
    feats2 = {r.media_id: r for r in MM.extract_features(media).collect()}
    assert feats == feats2


def test_multimodal_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        MM.decode_image(b"bytes")
    assert MM.decode_image(b"bytes", decoder=lambda b: ("decoded", len(b))) == ("decoded", 5)


def test_frame_sample_plan(spark):
    data = [(3, "video", b"x", 1920, 1080, None, 3500)]
    media = spark.createDataFrame(data, MM.MEDIA_SCHEMA)
    frames = MM.frame_sample_plan(media, every_ms=1000).collect()
    assert [r.frame_ts_ms for r in frames] == [0, 1000, 2000, 3000]


def test_connected_components_known_graph(spark):
    from end_to_end_azure_data_engineering_spark.operators.dedup import connected_components

    # two chains and an isolated pair: {1-2-3-4}, {10-11}, {20-21-22}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (21, 20), (21, 22)], "src long, dst long"
    )
    got = {
        r.node: r.label for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_connected_components_string_ids(spark):
    """Non-numeric node ids (UUID-like doc ids): round 1's label-sum
    convergence check summed to NULL for strings and silently stopped after
    one round, mislabeling any component with diameter > 1."""
    from end_to_end_azure_data_engineering_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("x", "y")], "src string, dst string"
    )
    got = {r.node: r.label for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_connected_components_long_chain_converges_fast(spark, monkeypatch):
    """Pointer doubling: a 200-node path needs O(log d) rounds, so
    max_iter=10 must suffice where plain propagation would need ~200."""
    from end_to_end_azure_data_engineering_spark.operators.dedup import connected_components

    n = 200
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "src long, dst long"
    ).coalesce(4)
    # a zero budget forces the distributed loop — the pointer-doubling
    # round count is exactly what this test exists to exercise
    _force_route(monkeypatch, local=False)
    labels = connected_components(edges, max_iter=10)
    assert labels.select("label").distinct().count() == 1
    assert labels.count() == n + 1


def test_connected_components_nonconvergence_raises(spark, monkeypatch):
    """Partially-propagated labels must never be returned silently."""
    import pytest

    from end_to_end_azure_data_engineering_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "src long, dst long"
    ).coalesce(2)
    # zero budget: the guard lives in the distributed loop (the
    # union-find fast path has no rounds to run out of)
    _force_route(monkeypatch, local=False)
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_connected_components_local_matches_distributed(spark, monkeypatch):
    """r13 optimization: the small-graph union-find fast path must be
    label-for-label identical to the distributed min-label loop on the
    same edges — long ids and string ids, chains, self-loops, and a
    component whose min id enters via the dst side."""
    from end_to_end_azure_data_engineering_spark.operators.dedup import connected_components

    cases = [
        (
            [(5, 4), (4, 3), (3, 9), (20, 21), (7, 7), (30, 2), (2, 31)],
            "src long, dst long",
        ),
        (
            [("m", "k"), ("k", "z"), ("b", "m"), ("q", "q")],
            "src string, dst string",
        ),
    ]
    for rows, schema in cases:
        edges = spark.createDataFrame(rows, schema)
        _force_route(monkeypatch, local=True)
        out = connected_components(edges)
        assert _is_local_relation(out)
        local = {r.node: r.label for r in out.collect()}
        _force_route(monkeypatch, local=False)
        dist = {r.node: r.label for r in connected_components(edges).collect()}
        assert local == dist, (rows, local, dist)


def test_connected_components_local_path_leaves_no_checkpoints(spark):
    """The fast path frees every checkpoint it pinned (the bidir edge
    materialization) before returning — the distributed loop keeps
    exactly one (the final labels the returned frame reads)."""
    from end_to_end_azure_data_engineering_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    before = set(sc._jsc.getPersistentRDDs().keys())
    out = connected_components(edges)  # default routing → local
    assert _is_local_relation(out)
    assert {r.node: r.label for r in out.collect()} == {1: 1, 2: 1, 3: 1}
    after = set(sc._jsc.getPersistentRDDs().keys())
    assert after - before == set(), "local path leaked pinned blocks"


def test_connected_components_local_schema_matches_distributed(spark, monkeypatch):
    """Column names and dtypes of the fast-path frame must equal the
    distributed loop's, so downstream joins/aggs are path-agnostic."""
    from end_to_end_azure_data_engineering_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    _force_route(monkeypatch, local=True)
    local = connected_components(edges)
    _force_route(monkeypatch, local=False)
    dist = connected_components(edges)
    assert _is_local_relation(local) and not _is_local_relation(dist)
    assert local.columns == dist.columns == ["node", "label"]
    assert [f.dataType for f in local.schema.fields] == [
        f.dataType for f in dist.schema.fields
    ]


def test_dedup_corpus_planted_duplicates(spark):
    from end_to_end_azure_data_engineering_spark.operators.neardup import (
        assign_components, dedup_corpus, near_dup_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely unrelated content about database engines and shuffles"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                                  # exact dup of 1
            (3, base + " extra"),                       # near dup of 1
            (4, other),
            (5, "third unique text mentioning storage layouts and parquet files"),
        ],
        ["doc_id", "text"],
    )
    pairs = near_dup_pairs(docs, "doc_id", "text", threshold=0.5)
    got_pairs = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (1, 3) in got_pairs
    assert all(a not in (4, 5) and b not in (4, 5) for a, b in got_pairs)

    comp = {r.node: r.label for r in assign_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1

    survivors = {r.doc_id for r in dedup_corpus(docs, "doc_id", "text", 0.5).collect()}
    assert survivors == {1, 4, 5}


def test_ngrams_short_doc_empty(spark):
    """Documents shorter than n tokens yield an empty array, not a
    descending-sequence error."""
    from end_to_end_azure_data_engineering_spark.functions import text as X

    df = spark.createDataFrame(
        [(1, "one two three four five"), (2, "too short"), (3, "")],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r.ngs
        for r in df.select("doc_id", X.ngrams("text", 3).alias("ngs")).collect()
    }
    assert rows[1] == ["one two three", "two three four", "three four five"]
    assert rows[2] == []
    assert rows[3] == []


def test_pii_counts(spark):
    from end_to_end_azure_data_engineering_spark.functions import text as X

    txt = "mail a@b.com and c.d@e.org, call +1 (555) 123-4567, host 10.0.0.1 via https://x.io/p"
    df = spark.createDataFrame([(txt,)], ["text"])
    cnts = X.pii_counts("text")
    r = df.select(*[c.alias(n) for n, c in cnts.items()]).first()
    assert (r.n_emails, r.n_phones, r.n_ipv4, r.n_urls) == (2, 1, 1, 1)


def test_cms_sketch_merge_and_overestimate(spark):
    """Count-min sketches are mergeable (sum of half-corpus sketches ==
    whole-corpus sketch) and estimates never undercount."""
    from pyspark.sql import functions as F

    from end_to_end_azure_data_engineering_spark.functions import sketches as S

    df = spark.createDataFrame(
        [(i, str(i % 7)) for i in range(200)], ["i", "k"]
    )

    def sketch(frame):
        return (
            frame.select(F.explode(S.cms_entries(F.col("k"))).alias("e"))
            .groupBy("e.j", "e.b")
            .agg(F.count("*").alias("c"))
        )

    whole = {(r.j, r.b): r.c for r in sketch(df).collect()}
    lo = sketch(df.filter("i < 100"))
    hi = sketch(df.filter("i >= 100"))
    merged = {
        (r.j, r.b): r.c
        for r in lo.unionByName(hi).groupBy("j", "b").agg(F.sum("c").alias("c")).collect()
    }
    assert merged == whole

    # point estimates: min over rows of the key's counter, >= exact count
    exact = {r.k: r.n for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    probes = df.select("k").distinct().select(
        "k", F.explode(S.cms_entries(F.col("k"))).alias("e")
    )
    est = {
        r.k: r.est
        for r in probes.join(
            sketch(df), (F.col("e.j") == F.col("j")) & (F.col("e.b") == F.col("b"))
        ).groupBy("k").agg(F.min("c").alias("est")).collect()
    }
    assert all(est[k] >= exact[k] for k in exact)


def test_connected_components_byte_cap_refuses_wide_string_ids(spark, monkeypatch):
    """The local-route probe gates on estimated id payload, not just edge
    count — UUID-or-wider string ids must fall back to the distributed
    loop even when the edge COUNT is tiny. The distributed route is
    observable: it leaves exactly one persistent RDD (the final labels)
    where the local route leaves none."""
    from end_to_end_azure_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    sc = spark.sparkContext
    wide = [("x" * 120 + str(i), "x" * 120 + str(i + 1)) for i in range(4)]
    edges = spark.createDataFrame(wide, "src string, dst string")

    before = set(sc._jsc.getPersistentRDDs().keys())
    # 8 directed rows: their overhead fits, their >120 B ids do not
    monkeypatch.setattr(
        P, "collect_budget_bytes", lambda spark: 8 * P.ROW_OVERHEAD_BYTES + 64
    )
    out = connected_components(edges)
    rows = {r.node: r.label for r in out.collect()}
    after = set(sc._jsc.getPersistentRDDs().keys())
    assert len(after - before) == 1, "byte cap did not route to the distributed loop"
    root = "x" * 120 + "0"
    assert set(rows.values()) == {root}
    for rid in after - before:
        rdd = sc._jsc.getPersistentRDDs().get(rid)
        if rdd is not None:
            rdd.unpersist()
    # same graph under the default budget takes the local route (no pins)
    monkeypatch.undo()
    before = set(sc._jsc.getPersistentRDDs().keys())
    out2 = connected_components(edges)
    assert {r.node: r.label for r in out2.collect()} == rows
    assert set(sc._jsc.getPersistentRDDs().keys()) - before == set()


def test_connected_components_null_edges_both_paths(spark, monkeypatch):
    """r13 ADVICE: null-endpoint edges previously crashed the local path
    (None comparison) while the distributed path half-dropped them. Both
    routes now drop them up front and agree exactly."""
    from end_to_end_azure_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [(1, 2), (None, 5), (7, None), (None, None), (2, 3)],
        "src long, dst long",
    )
    _force_route(monkeypatch, local=True)
    local = {(r.node, r.label) for r in connected_components(edges).collect()}
    _force_route(monkeypatch, local=False)
    dist = {(r.node, r.label) for r in connected_components(edges).collect()}
    assert local == dist == {(1, 1), (2, 1), (3, 1)}


def test_connected_components_byte_cap_counts_utf8_bytes(spark, monkeypatch):
    """The payload probe counts UTF-8 bytes, not characters: 3-byte CJK
    ids whose CHARACTER total fits the budget but whose byte total does
    not must take the distributed loop, with the local route's labels."""
    from end_to_end_azure_data_engineering_spark.operators.dedup import (
        connected_components,
    )

    ids = ["\u4e2d\u6587" * 5 + str(i) for i in range(5)]
    edges = spark.createDataFrame(
        [(ids[i], ids[i + 1]) for i in range(4)], "src string, dst string"
    )
    directed = 2 * 4
    chars = sum(2 * (len(ids[i]) + len(ids[i + 1])) for i in range(4))
    utf8 = sum(
        2 * (len(ids[i].encode()) + len(ids[i + 1].encode())) for i in range(4)
    )
    budget = directed * P.ROW_OVERHEAD_BYTES + chars
    assert chars < utf8 and budget < directed * P.ROW_OVERHEAD_BYTES + utf8

    _force_route(monkeypatch, local=True)
    local = {r.node: r.label for r in connected_components(edges).collect()}

    monkeypatch.setattr(P, "collect_budget_bytes", lambda spark: budget)
    before = _persistent_ids(spark)
    out = connected_components(edges)
    dist = {r.node: r.label for r in out.collect()}
    assert len(_persistent_ids(spark) - before) == 1, (
        "multibyte ids were sized by characters and routed to the driver"
    )
    assert dist == local and set(dist.values()) == {min(ids)}
    P.release_checkpoints(out)


@pytest.mark.parametrize("local", [True, False])
def test_connected_components_keeps_foreign_pins(spark, monkeypatch, local):
    """A connected_components call releases only the frames it pinned: a
    frame some other code pinned while the call ran (the streaming dedup
    sink's micro-batch thread shares the session) must stay readable on
    either route."""
    from end_to_end_azure_data_engineering_spark.operators import dedup

    foreign = []
    real_pin = dedup._pin

    def pin_with_foreign(df):
        foreign.append(real_pin(spark.range(5)))
        return real_pin(df)

    monkeypatch.setattr(dedup, "_pin", pin_with_foreign)
    _force_route(monkeypatch, local=local)
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "src long, dst long")
    before = _persistent_ids(spark)
    out = dedup.connected_components(edges)
    assert _is_local_relation(out) == local
    assert {r.node: r.label for r in out.collect()} == {
        1: 1, 2: 1, 3: 1, 7: 7, 8: 7,
    }
    assert foreign
    for f in foreign:
        assert sorted(r.id for r in f.collect()) == [0, 1, 2, 3, 4]
    # the call's own pins: none on the local route, the final labels on
    # the distributed one
    assert len(_persistent_ids(spark) - before) == len(foreign) + (0 if local else 1)
    P.release_checkpoints(out)
    for f in foreign:
        P.release_checkpoints(f)


def test_pagerank_local_route(spark, monkeypatch):
    """pagerank_copurchase's driver-local iteration route must return
    EXACTLY the distributed chain's rows (same exact bigint math, same
    top-100 selection), with either route forced through the one budget
    function, and neither route may leave a pinned block behind."""
    from end_to_end_azure_data_engineering_spark.queries.relational_ext import (
        pagerank_copurchase,
    )

    sf = "/root/testdata/sf0.01"
    got = {}
    for local in (True, False):
        _force_route(monkeypatch, local=local)
        before = _persistent_ids(spark)
        out = pagerank_copurchase(spark, sf)
        if local:
            assert _is_local_relation(out)
        got[local] = [(r.part, r.rank_millionths, r.degree) for r in out.collect()]
        assert _persistent_ids(spark) - before == set(), (
            f"{'local' if local else 'distributed'} route leaked a pin"
        )
    assert got[True] == got[False]
    assert 0 < len(got[True]) <= 100


def test_pagerank_distributed_route_releases_pins_on_failure(spark, monkeypatch):
    """An iteration that raises must not leave the distributed route's
    pins (the pairs and the edge+degree frame) behind."""
    from end_to_end_azure_data_engineering_spark.queries import relational_ext as R
    from tests.conftest import SF_DIR

    def failing(ew, iterations=3):
        raise RuntimeError("iteration failed")

    monkeypatch.setattr(R, "pagerank_iterations_plan", failing)
    _force_route(monkeypatch, local=False)
    before = _persistent_ids(spark)
    with pytest.raises(RuntimeError, match="iteration failed"):
        R.pagerank_copurchase(spark, SF_DIR)
    assert _persistent_ids(spark) - before == set()


def test_pagerank_local_matches_iterations_plan(spark):
    """_pagerank_local over undirected pairs equals the distributed
    iteration chain over the same graph's directed edge+degree frame: a
    triangle 1-2-3 plus a pendant edge 3-4 (unequal degrees, so the
    floor-divisions differ per node)."""
    from end_to_end_azure_data_engineering_spark.queries.relational_ext import (
        _pagerank_local,
        pagerank_iterations_plan,
    )

    pairs = [(1, 2), (1, 3), (2, 3), (3, 4)]
    deg = {1: 2, 2: 2, 3: 3, 4: 1}
    ew = spark.createDataFrame(
        [(s, t, deg[s]) for a, b in pairs for s, t in ((a, b), (b, a))],
        "src long, dst long, d long",
    )
    dist = [tuple(r) for r in pagerank_iterations_plan(ew).collect()]
    assert _pagerank_local(pairs) == dist
    assert sorted(n for n, _r, _d in dist) == [1, 2, 3, 4]


def test_driver_frame_empty_keeps_schema(spark):
    """Zero driver rows still make a typed, empty local relation."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schema = StructType(
        [StructField("node", StringType(), True), StructField("label", LongType(), True)]
    )
    df = P.driver_frame(spark, [], schema)
    assert df.schema == schema
    assert df.count() == 0
    assert _is_local_relation(df)
