"""Frame pinning — materialize once, choose the durability tier by
deployment.

Operators pin frames their downstream plan references repeatedly
(Catalyst plans DAG reuse as tree duplication — see the scan fan-out
fence) or that an iterative loop must cut lineage on (connected
components, k-means). Two Spark mechanisms exist and the right one is a
DEPLOYMENT property, not an operator property:

- ``localCheckpoint()``: blocks live on the executors that computed
  them; fastest (no extra write path), but the truncated lineage CANNOT
  be recomputed — any executor loss fails the job. Correct on
  ``local[*]`` (one process: losing the "executor" loses the driver
  anyway) and acceptable for short jobs on stable clusters.
- reliable ``checkpoint()``: blocks are written to the configured
  checkpoint directory (a shared filesystem at cluster scale) and
  survive executor loss — the right trade on a 1000-executor job where
  churn is ROUTINE over a multi-hour run; cleaned by the ContextCleaner
  when ``spark.cleaner.referenceTracking.cleanCheckpoints=true``.

``pin`` keys off ``SparkContext.getCheckpointDir()``: a cluster
deployment that calls ``setCheckpointDir`` (standard practice — it is
also required before any reliable checkpoint) automatically upgrades
EVERY pin site in this package to the fault-tolerant tier, with no
operator code change. Without a dir (the local test/bench default)
behavior is byte-identical to the previous direct localCheckpoint
calls.

``collect_if_bounded`` is the one "bounded → driver, else distributed"
route choice for iterative operators over a pinned frame (connected
components, PageRank): the gate sizes the payload of the frame the
caller pinned — the bidirectional edges for components, the undirected
support-≥2 pairs for PageRank — and nothing derived from it.
``driver_frame`` hands the rows a driver-local route computed back to
Spark as an Arrow local relation (a ``LocalTableScan``: no Spark job, no
Python worker). ``release_checkpoints`` frees exactly the pins a caller
made.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row

__all__ = [
    "pin", "collect_if_bounded", "collect_budget_bytes", "driver_frame", "release_checkpoints",
]

#: per-row overhead charged on top of the column payload: the pickled
#: Row/tuple framing each collected row costs on the driver beyond its
#: field bytes.
ROW_OVERHEAD_BYTES = 32


def pin(df: DataFrame, *, reliable: bool | None = None) -> DataFrame:
    """Eagerly materialize ``df`` and return the pinned frame.

    ``reliable=None`` (default) auto-detects: reliable ``checkpoint()``
    when the SparkContext has a checkpoint dir configured, else
    ``localCheckpoint()``. Explicit True/False forces the tier (True
    requires a configured checkpoint dir, as Spark itself enforces)."""
    if reliable is None:
        reliable = (
            df.sparkSession.sparkContext.getCheckpointDir() is not None
        )
    return df.checkpoint() if reliable else df.localCheckpoint()


def release_checkpoints(df: DataFrame) -> None:
    """Explicitly release the block-manager storage behind the eagerly
    checkpointed frames in ``df``'s plan (near_dup_pairs /
    containment_pairs pair blocks, connected_components' final labels).

    Checkpointed blocks otherwise live until the driver garbage-collects
    the Python object AND the ContextCleaner runs — in a long-lived
    session making repeated calls (the streaming dedup sink checkpoints
    per micro-batch; curate_corpus per run) the lag re-creates the
    block-manager pressure the eager-release design exists to avoid.
    Walks the analyzed plan's leaves and unpersists
    every LogicalRDD (a localCheckpoint's backing node); lazy scans are
    untouched. Best-effort: after release the frame must not be used
    again."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getName().endswith("LogicalRDD"):
                leaf.rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — GC/ContextCleaner is the fallback
        pass


def collect_budget_bytes(spark) -> int:
    """Driver-collect budget: ⅛ of ``spark.driver.maxResultSize`` — 128 MB
    at Spark's 1g default (an unlimited ``0`` is read as that default).
    The one place the driver-local routes are sized; tests force a route
    by patching this function."""
    sc = spark.sparkContext
    conf = sc.getConf().get("spark.driver.maxResultSize", "1g")
    limit = sc._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf)
    return (limit or 1 << 30) // 8


def collect_if_bounded(pinned: DataFrame) -> list[Row] | None:
    """Collect an already-pinned frame to the driver when it fits the
    budget, else leave it for the distributed route.

    One probe job over the pinned blocks yields the row count and the
    payload estimate: ``octet_length`` of every string/binary column,
    the type's ``defaultSize`` for every other column, plus
    ``ROW_OVERHEAD_BYTES`` (32 B) per row. At or under
    ``collect_budget_bytes`` (⅛ of ``spark.driver.maxResultSize``) the
    rows are collected and the pin is released; otherwise returns
    ``None`` and the pin stays for the caller's distributed route."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType, StringType

    jschema = pinned._jdf.schema()
    var, fixed = [], ROW_OVERHEAD_BYTES
    for i, f in enumerate(pinned.schema.fields):
        if isinstance(f.dataType, (StringType, BinaryType)):
            var.append(F.coalesce(F.octet_length(F.col(f.name)), F.lit(0)))
        else:
            fixed += jschema.apply(i).dataType().defaultSize()
    n, var_bytes = pinned.agg(F.count(F.lit(1)), F.sum(sum(var, F.lit(0)))).first()
    payload = n * fixed + (var_bytes or 0)
    if payload > collect_budget_bytes(pinned.sparkSession):
        return None
    rows = pinned.collect()
    release_checkpoints(pinned)
    return rows


def driver_frame(spark, rows, schema) -> DataFrame:
    """A frame over rows computed on the driver, as an Arrow local
    relation: the rows (tuples in ``schema`` field order) become one
    ``pyarrow.Table`` and the plan is a ``LocalTableScan`` — collecting it
    runs no Spark job and starts no Python worker, unlike a
    ``parallelize``-built frame. Zero rows keep the schema."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [() for _ in arrow]
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)
