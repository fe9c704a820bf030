"""Property-based tests (hypothesis) for the sketch/dedup kernels.

Only EXACT algebraic invariants — no statistical assertions (those flake):
- minhash is a set homomorphism: sig(a ∪ b) = elementwise_min(sig(a), sig(b))
- minhash/simhash are order- and duplicate-insensitive
- jaccard is symmetric, bounded, and 1 on self
- fingerprint is whitespace/case-normalization invariant
- keep_latest is idempotent and a singleton per key

Each property evaluates all hypothesis examples in ONE Spark job (examples
become rows), keeping runtime bounded.
"""

from __future__ import annotations

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from end_to_end_azure_data_engineering_spark.functions import sketches as S
from end_to_end_azure_data_engineering_spark.functions import text as X
from end_to_end_azure_data_engineering_spark.operators.dedup import keep_latest

# words: lowercase ascii, no whitespace (shingling tokenizes on whitespace)
WORD = st.text(alphabet="abcdefghij", min_size=1, max_size=6)
WORDS = st.lists(WORD, min_size=1, max_size=12)

_SETTINGS = dict(max_examples=12, deadline=None)


# ≥ 3 tokens per side: with shingle width n=3, every n-window of each side
# then appears verbatim in the concatenation (shorter texts get a padded
# shingle that the concatenation does not contain, voiding the property)
WORDS3 = st.lists(WORD, min_size=3, max_size=12)


@st.composite
def two_word_lists(draw):
    return draw(WORDS3), draw(WORDS3)


@settings(**_SETTINGS)
@given(two_word_lists())
def test_minhash_union_is_elementwise_min(spark, pair):
    a, b = pair
    df = spark.createDataFrame(
        [(" ".join(a), " ".join(b), " ".join(a + b))], ["ta", "tb", "tu"]
    )
    row = df.select(
        S.minhash_signature(S.word_shingles("ta")).alias("sa"),
        S.minhash_signature(S.word_shingles("tb")).alias("sb"),
        S.minhash_signature(S.word_shingles("tu")).alias("su"),
    ).first()
    # union of shingle sets ⊇ both, and shingles of concatenated text ⊇
    # union of each side's shingles (plus boundary shingles), so each
    # signature slot of the union text is ≤ the min of the sides
    assert all(u <= min(x, y) for u, x, y in zip(row.su, row.sa, row.sb))
    assert len(row.su) == S.K


@settings(**_SETTINGS)
@given(WORDS)
def test_minhash_whitespace_invariant(spark, words):
    base = " ".join(words)
    spaced = "  " + re.sub(" ", " \t  ", base) + "  "
    df = spark.createDataFrame([(base, spaced)], ["t1", "t2"])
    row = df.select(
        S.minhash_signature(S.word_shingles("t1")).alias("s1"),
        S.minhash_signature(S.word_shingles("t2")).alias("s2"),
    ).first()
    assert row.s1 == row.s2


@settings(**_SETTINGS)
@given(
    st.lists(WORD, min_size=1, max_size=12, unique=True),
    st.lists(WORD, min_size=1, max_size=12, unique=True),
)
def test_jaccard_symmetric_bounded(spark, a, b):
    # jaccard takes SET inputs (|∩| / (|a|+|b|-|∩|), no union pass) — every
    # caller feeds array_distinct output, so the strategy draws unique lists
    df = spark.createDataFrame([(a, b)], "a array<string>, b array<string>")
    row = df.select(
        S.jaccard(F.col("a"), F.col("b")).alias("ab"),
        S.jaccard(F.col("b"), F.col("a")).alias("ba"),
        S.jaccard(F.col("a"), F.col("a")).alias("aa"),
    ).first()
    assert row.ab == row.ba
    assert 0.0 <= row.ab <= 1.0
    assert row.aa == 1.0


@settings(**_SETTINGS)
@given(WORDS)
def test_simhash_permutation_invariant(spark, words):
    fwd = " ".join(words)
    rev = " ".join(reversed(words))
    df = spark.createDataFrame([(fwd, rev)], ["t1", "t2"])
    row = df.select(
        S.simhash("t1").alias("s1"), S.simhash("t2").alias("s2")
    ).first()
    # token-set bit voting: order must not matter (array_distinct of tokens)
    assert row.s1 == row.s2
    assert 0 <= row.s1 < 2**S.SIMHASH_BITS


@settings(**_SETTINGS)
@given(WORDS)
def test_fingerprint_normalization_invariant(spark, words):
    base = " ".join(words)
    messy = "  " + re.sub(" ", " \t ", base.upper()) + "  "
    df = spark.createDataFrame([(base, messy)], ["t1", "t2"])
    row = df.select(
        X.fingerprint("t1").alias("f1"), X.fingerprint("t2").alias("f2")
    ).first()
    assert row.f1 == row.f2


@settings(**_SETTINGS)
@given(st.lists(st.tuples(st.integers(0, 5), st.integers(0, 100)), min_size=1, max_size=30))
def test_keep_latest_idempotent_singleton(spark, rows):
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)], "k int, v int, seq int"
    )
    order = [F.col("v").desc_nulls_last(), F.col("seq").desc_nulls_last()]
    once = keep_latest(df, ["k"], order)
    twice = keep_latest(once, ["k"], order)
    got_once = sorted(map(tuple, once.collect()))
    got_twice = sorted(map(tuple, twice.collect()))
    assert got_once == got_twice
    keys = [t[0] for t in got_once]
    assert len(keys) == len(set(keys)) == len({k for k, _ in rows})


# SCD2 as-of invariant: for ANY batch sequence, the snapshot of the FINAL
# history at time T_i must equal the current rows of the PREFIX state after
# batch i — i.e., history encodes every intermediate state losslessly.
# One randomized multi-batch example per run keeps this a single bounded
# Spark job; hypothesis drives the batch contents.

_KEYS = ["a", "b", "c", "d"]
_BATCH = st.lists(
    st.tuples(st.sampled_from(_KEYS), st.one_of(st.none(), st.integers(0, 3))),
    min_size=0, max_size=4, unique_by=lambda t: t[0],
)


@settings(max_examples=6, deadline=None)
@given(st.lists(_BATCH, min_size=1, max_size=3))
def test_scd2_snapshot_asof_reconstructs_every_prefix(spark, batches):
    import datetime as dt

    from pyspark.sql import types as T

    from end_to_end_azure_data_engineering_spark.operators.scd2 import (
        scd2_init, scd2_merge, scd2_snapshot_asof,
    )

    schema = T.StructType([
        T.StructField("k", T.StringType()),
        T.StructField("v", T.LongType()),
    ])
    times = [dt.datetime(2024, 1, 1 + i) for i in range(len(batches))]
    states = []
    state = None
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, schema)
        state = (
            scd2_init(df, times[0])
            if state is None
            else scd2_merge(state, df, "k", ["v"], times[i])
        )
        states.append(state)

    final = states[-1]
    for i, t in enumerate(times):
        snap = {
            (r.k, r.v)
            for r in scd2_snapshot_asof(final, t).select("k", "v").collect()
        }
        prefix_current = {
            (r.k, r.v)
            for r in states[i].filter(F.col("is_current")).select("k", "v").collect()
        }
        assert snap == prefix_current, (i, batches)


# ---------------------------------------------------------------------------
# Warehouse op-sequence property: any interleaving of commit /
# append / restore / vacuum maintains the MVCC invariants — the published
# snapshot always reads the modeled row count, every retained version
# time-travels to its exact historical count, and history() lists exactly
# the retained commits newest-first with the current marker on the pointer
# target. Ops are modeled in plain Python alongside the engine calls.
# ---------------------------------------------------------------------------

_wh_op = st.one_of(
    st.tuples(st.just("commit"), st.integers(1, 20)),
    st.tuples(st.just("append"), st.integers(1, 20)),
    st.tuples(st.just("restore"), st.integers(0, 100)),  # index into retained
    st.tuples(st.just("vacuum"), st.integers(1, 3)),
    st.tuples(st.just("compact"), st.integers(1, 4)),  # target file count
)


@settings(max_examples=10, deadline=None)
@given(ops=st.lists(_wh_op, min_size=2, max_size=6))
def test_versioned_warehouse_op_sequences_hold_invariants(spark, tmp_path_factory, ops):
    from end_to_end_azure_data_engineering_spark.engine.tableio import (
        Warehouse,
    )

    vw = Warehouse(spark, str(tmp_path_factory.mktemp("prop_wh")))
    contents: dict[int, int] = {}  # retained committed version -> rows
    current = None

    for kind, arg in ops:
        if kind == "commit":
            v = vw.commit(spark.range(arg), "gold", "t")
            contents[v] = arg
            current = v
        elif kind == "append":
            base = contents[current] if current is not None else 0
            vw.append(spark.range(arg), "gold", "t")
            v = vw.current_version("gold", "t")
            contents[v] = base + arg
            current = v
        elif kind == "restore":
            if not contents:
                continue
            src = sorted(contents)[arg % len(contents)]
            v = vw.restore("gold", "t", src)
            contents[v] = contents[src]
            current = v
        elif kind == "compact":
            if current is None:
                continue
            # OPTIMIZE: a new version with identical rows (r7: compact now
            # runs under the append lock; the modeled contents must
            # survive). NOTE compact() returns the resulting FILE count
            # (base-class contract) — the committed version is read back.
            n_files = vw.compact("gold", "t", arg)
            assert n_files <= arg
            v = vw.current_version("gold", "t")
            contents[v] = contents[current]
            current = v
        else:  # vacuum
            removed = vw.vacuum("gold", "t", keep=arg)
            for v in removed:
                assert v != current  # never the published snapshot
                contents.pop(v, None)

        # invariants after EVERY op
        if current is not None:
            assert vw.read("gold", "t").count() == contents[current]
            hist = vw.history("gold", "t")
            assert [h["version"] for h in hist] == sorted(contents, reverse=True)
            assert [h["is_current"] for h in hist] == [
                v == current for v in sorted(contents, reverse=True)
            ]
            for v, n in contents.items():
                assert vw.read("gold", "t", version=v).count() == n


# ---------------------------------------------------------------------------
# Streaming sketch-sink property: for ANY batch sequence with at-least-once
# redeliveries, (1) the CMS estimate never undercounts any key and replays
# never inflate it; (2) every Misra-Gries retained key satisfies the
# deficiency bound mg <= true <= mg + _off, and every key whose true count
# exceeds _off is retained. The deterministic tests pin single scenarios;
# hypothesis drives the batch contents, epoch count, and replay pattern.
# ---------------------------------------------------------------------------

_STREAM_KEYS = ["a", "b", "c", "d", "e", "f"]
_stream_batch = st.lists(st.sampled_from(_STREAM_KEYS), min_size=0, max_size=12)


@settings(max_examples=5, deadline=None)
@given(
    batches=st.lists(_stream_batch, min_size=1, max_size=3),
    replays=st.lists(st.booleans(), min_size=3, max_size=3),
)
def test_stream_sketch_sinks_hold_bounds_under_random_replayed_batches(
    spark, tmp_path_factory, batches, replays
):
    from collections import Counter

    from end_to_end_azure_data_engineering_spark.engine.tableio import Warehouse
    from end_to_end_azure_data_engineering_spark.functions import sketches as S
    from end_to_end_azure_data_engineering_spark.streaming.ingest import (
        cms_stream_sink,
        topk_stream_sink,
    )

    wh = Warehouse(spark, str(tmp_path_factory.mktemp("prop_stream")))
    csink = cms_stream_sink(wh, "sketch", "k")
    tsink = topk_stream_sink(wh, "hot", "k", k=2)

    true = Counter()
    for epoch, rows in enumerate(batches):
        batch = spark.createDataFrame([(r,) for r in rows], "k STRING")
        csink(batch, epoch)
        tsink(batch, epoch)
        if replays[epoch]:  # at-least-once redelivery: must be a no-op
            csink(batch, epoch)
            tsink(batch, epoch)
        true.update(rows)

    if not true:
        return  # all batches empty: nothing to bound

    # CMS: overcount-only, and replays did not inflate (est(k) is exact
    # when no hash collision occurred, so est <= total increments always)
    sk = wh.read("gold", "sketch")
    total = sum(true.values())
    probe = (
        spark.createDataFrame([(k,) for k in true], "k STRING")
        .select(
            "k", F.explode(S.cms_entries(F.col("k").cast("string"))).alias("e")
        )
        .select("k", F.col("e.j").alias("j"), F.col("e.b").alias("b"))
    )
    ests = {
        r["k"]: r["est"]
        for r in probe.join(sk, ["j", "b"])
        .groupBy("k")
        .agg(F.min("c").alias("est"))
        .collect()
    }
    for k, n in true.items():
        assert n <= ests[k] <= total, (k, n, ests[k], batches, replays)

    # Misra-Gries: deficiency bound for retained keys; guaranteed retention
    # for keys heavier than the accumulated offset
    rows = wh.read("gold", "hot").collect()
    off = rows[0]["_off"]
    retained = {r["key"]: r["c"] for r in rows if r["key"] is not None}
    assert off >= 0
    for k, c in retained.items():
        assert c <= true[k] <= c + off, (k, c, off, batches, replays)
    for k, n in true.items():
        if n > off:
            assert k in retained, (k, n, off, batches, replays)
