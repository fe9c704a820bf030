"""Query registry — the driver-facing surface.

Each query module registers named queries with ``register``. A query is:
  - a callable ``(spark, sf_dir) -> DataFrame`` built with the engine's
    operators (idiomatic DataFrame/SQL, Catalyst-optimized), and
  - optionally an ANSI-SQL oracle string DuckDB can run over the same
    parquet tables (pre-registered views) for hash-comparison.

Column names are aligned between both sides (the driver sorts columns by
name before hashing), so every computed column is aliased identically.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    """Decorator: register a query callable (and its DuckDB oracle SQL)."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


#: Primary keys of the testdata tables, declared at load time (r11,
#: verdict item 2). lineitem is deliberately ABSENT: the classic
#: (l_orderkey, l_linenumber) key is not unique in this synthetic
#: generation (sf0.001: 6,000 rows, 4,599 distinct pairs), and events is
#: an append log with no key — declaring either would be a false proof.
DECLARED_PKS: dict[str, tuple[str, ...]] = {
    "region": ("r_regionkey",),
    "nation": ("n_nationkey",),
    "customer": ("c_custkey",),
    "supplier": ("s_suppkey",),
    "part": ("p_partkey",),
    "orders": ("o_orderkey",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table (columnar parquet scan; pushdown-friendly).

    Timestamp columns arrive however the parquet files were written —
    TIMESTAMP(NANOS) (as epoch-nanos LONG via
    ``spark.sql.legacy.parquet.nanosAsLong``), TIMESTAMP_NTZ (plain
    ``timestamp[us]`` with no UTC adjustment — Spark 4 infers NTZ), or
    TIMESTAMP_LTZ. The session timezone is pinned to UTC at runtime so
    NTZ↔LTZ casts are wall-clock identity and epoch math matches DuckDB's
    naive-timestamp interpretation; queries use :func:`epoch_us` instead of
    raw ``unix_micros`` (which rejects NTZ inputs).
    """
    # Set at runtime too: the driver passes its own session, which won't
    # have the factory defaults from engine.session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    pk = DECLARED_PKS.get(name)
    if pk:
        # scan-level uniqueness metadata for the rank proof walker (r11,
        # verdict item 2): lets equi-joins against this table's PK be
        # bounded from the fact side with zero probe jobs and zero
        # PK-enforcing exchanges. Validated once per fixture in
        # test_ranks.py::test_declared_pks_hold_on_fixture.
        from ..engine.pkregistry import declare_pk

        declare_pk(path, pk)
    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def epoch_us(col) -> "Column":
    """Epoch microseconds, safe for TIMESTAMP and TIMESTAMP_NTZ inputs.

    ``unix_micros`` requires TIMESTAMP(LTZ); the testdata's ``ts`` is parquet
    ``timestamp[us]`` with no UTC flag, which Spark 4 reads as NTZ. With the
    session timezone pinned to UTC (see :func:`load`), casting NTZ→TIMESTAMP
    is a wall-clock identity, so this matches DuckDB's ``epoch_us`` on the
    same naive value regardless of which type the scan produced.
    """
    from pyspark.sql import functions as F

    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def spread(df: DataFrame) -> DataFrame:
    """Parallelism insurance for compute-bound narrow maps.

    A small parquet table arrives as ONE input split, so a per-row-heavy
    stage (interpreted HOF lambdas, md5 sketching, regexp scans, Arrow
    batches) serializes on a single core no matter how many the machine
    has — measured 5.8× on text_winnow_fingerprint at sf0.1. Repartition
    round-robin ONLY when the scan yields fewer partitions than the
    cluster has slots: at production scale, maxPartitionBytes splitting
    gives thousands of partitions, the condition is false, and NO extra
    full-data shuffle is introduced — the adaptive form of "repartition
    before an expensive map", kept honest at 100 TB.
    """
    dp = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < dp:
        return df.repartition(dp)
    return df


def _verification_order(names: list[str], root=None) -> list[str]:
    """Self-rotating registration order from the driver's own record.

    Reads CORRECTNESS_r*.json at the repo root (the driver's per-round
    verdicts) and stable-sorts queries so that (a) queries with no fully
    green row ever — never checked, hash-failed, or regressed after a green
    — come first, then (b) green queries ordered by how long ago they were
    last verified. The driver checks the first 50 registered queries each
    round, so this rotation converges to every query holding a recent green
    row without manual reordering. Falls back to the input order when no
    record exists (fresh checkout / first round).
    """
    import json
    import re
    from pathlib import Path

    root = Path(root) if root is not None else Path(__file__).resolve().parents[2]
    green_round: dict[str, int] = {}
    bad_round: dict[str, int] = {}
    for f in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"r(\d+)", f.name)
        rnd = int(m.group(1)) if m else 0
        try:
            data = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(data, dict):
            continue
        for name, rec in data.items():
            ok = (
                isinstance(rec, dict)
                and rec.get("rows_match") is True
                and rec.get("schema_match") is True
                and rec.get("hash_match") is True
                and not rec.get("err")
            )
            tgt = green_round if ok else bad_round
            tgt[name] = max(rnd, tgt.get(name, 0))

    def key(name: str) -> tuple[int, int]:
        green = green_round.get(name)
        if green is None or bad_round.get(name, -1) >= green:
            return (0, 0)  # needs (re-)verification
        return (1, green)  # green: oldest verification first

    return sorted(names, key=key)  # stable: preserves input order within ties


def load_all_queries() -> None:
    """Import every query module, then order registration for the driver
    by the self-rotating verification order (see ``_verification_order``);
    ties keep module registration order."""
    from . import relational  # noqa: F401
    from . import relational_ext  # noqa: F401
    from . import relational_tpch2  # noqa: F401
    from . import dedup_ops  # noqa: F401
    from . import text_ops  # noqa: F401
    from . import similarity_ops  # noqa: F401
    from . import pipeline_ops  # noqa: F401
    from . import streaming_batch_ops  # noqa: F401
    from . import multimodal_ops  # noqa: F401
    from . import training_ops  # noqa: F401

    # Reorder in place (QUERIES/ORACLES are imported by reference elsewhere).
    registered = dict(QUERIES)
    ordered = _verification_order(list(registered))
    QUERIES.clear()
    QUERIES.update({n: registered[n] for n in ordered})
    oracles = dict(ORACLES)
    ORACLES.clear()
    ORACLES.update({n: oracles[n] for n in ordered if n in oracles})
