"""Plan audit: the physical plans a query actually executed, pins included.

``executed_plans`` runs one query to completion and returns the plan of
every SQL execution it made, read back from Spark's status store: each
``localCheckpoint`` pin, probe job and driver-route collect is its own
execution, so the audit sees inside pinned stages. ``FORCED`` names the
queries whose size-gated route does not run at test scale and the module
values that force it; ``forced_route`` patches them for one run. The
plan fences in ``tests/test_plan_guards.py`` read both passes;
``table_scans`` counts a query's parquet scans for the fan-out fence.

As a script, prints the join strategies, exchange (shuffle) count,
parquet pushdown evidence and window count per query, summed over its
executions — plus a ``name:forced`` row for each gated query:

    python tools/plan_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import contextlib
import re
import sys
from collections import Counter
from pathlib import Path
from unittest import mock

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

PKG = "end_to_end_azure_data_engineering_spark"

#: connected-components callers: distributed rounds run past the collect budget
CC_CALLERS = (
    "dedup_connected_components",
    "dedup_cluster_size_stats",
    "dedup_best_quality_survivors",
    "dedup_corpus_survivors",
    "incremental_components_merge",
)
#: adaptive rank queries: the sharded construction runs past SMALL_GROUP_ROWS
RANK_QUERIES = (
    "customer_spend_deciles",
    "order_value_distribution",
    "user_activity_gini",
    "revenue_pareto_curve",
    "part_size_tie_ranks",
    "supplier_percentile_ranks",
    "quality_quantile_normalize",
    "token_length_quartiles",
)

_DISTRIBUTED = {f"{PKG}.engine.pin.collect_budget_bytes": lambda spark: 0}
_SHARDED = {
    f"{PKG}.operators.ranks.SMALL_INPUT_BYTES": 0,
    f"{PKG}.operators.ranks.SMALL_GROUP_ROWS": 0,
}
#: query -> {module attribute: value} that forces its scale route. Every
#: value is read at call time, so patching it is enough. token_length_
#: quartiles keeps the row probe (SMALL_GROUP_ROWS=1, every group is
#: bigger), because only the probe's bounds let the tiebreaker fold engage.
FORCED: dict[str, dict[str, object]] = {
    "pagerank_copurchase": _DISTRIBUTED,
    **dict.fromkeys(CC_CALLERS, _DISTRIBUTED),
    **dict.fromkeys(RANK_QUERIES, _SHARDED),
    "token_length_quartiles": {**_SHARDED, f"{PKG}.operators.ranks.SMALL_GROUP_ROWS": 1},
}


@contextlib.contextmanager
def forced_route(name: str):
    """Patch ``FORCED[name]`` for the duration of the block."""
    with contextlib.ExitStack() as stack:
        for target, value in FORCED[name].items():
            stack.enter_context(mock.patch(target, value))
        yield


def _executions_after(store, last_id: int) -> list:
    # the status store lists executions in id order; page back from the
    # newest (old ones may have been evicted, shifting offsets)
    out: list = []
    end = store.executionsCount()
    while end > 0:
        lo = max(0, end - 32)
        page = store.executionsList(lo, end - lo)
        items = [page.apply(i) for i in range(page.size())]
        newer = [e for e in items if e.executionId() > last_id]
        out[:0] = newer
        if len(newer) < len(items):
            break
        end = lo
    return out


def executed_plans(spark, fn, sf_dir: str) -> list[str]:
    """Run ``fn(spark, sf_dir).collect()`` and return the physical plan
    of every SQL execution it made, in run order, then release the
    result's pins.

    Sets ``spark.sql.ui.explainMode=simple``, so each description is the
    plan's tree string, AQE's final and initial plan both. The status
    store is filled from the listener bus, which is drained before and
    after the run."""
    from end_to_end_azure_data_engineering_spark.engine.pin import release_checkpoints

    spark.conf.set("spark.sql.ui.explainMode", "simple")
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    n = store.executionsCount()
    last_id = store.executionsList(n - 1, 1).apply(0).executionId() if n else -1
    df = fn(spark, sf_dir)
    df.collect()
    release_checkpoints(df)
    bus.waitUntilEmpty()
    return [e.physicalPlanDescription() for e in _executions_after(store, last_id)]


_NODE_RE = re.compile(r"^[\s:+\-]*(?:\*\(\d+\) )?([A-Z]\w*)")
_INITIAL_RE = re.compile(r"^(\s*)\+- == Initial Plan ==")


def _executed_nodes(plan: str) -> Counter:
    """Node names of one simple-mode plan, each executed node once: AQE's
    ``== Initial Plan ==`` sections (indented below their header) are
    skipped."""
    nodes: Counter = Counter()
    skip = None
    for line in plan.splitlines():
        if skip is not None and line.startswith(skip):
            continue
        skip = None
        m = _INITIAL_RE.match(line)
        if m:
            skip = m.group(1) + "   "
            continue
        m = _NODE_RE.match(line)
        if m:
            nodes[m.group(1)] += 1
    return nodes


_SECTION_RE = re.compile(r"== (Final|Current|Initial) Plan ==")
_PLAN_IDS_RE = re.compile(r"#\d+L?|plan_id=\d+|QueryStage \d+|\*\(\d+\) ")
TABLE_RE = re.compile(r"(\w+)\.parquet")


def _col(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _scans(plan: str, seen: set) -> Counter:
    lines = plan.splitlines()
    cols = [_col(line) for line in lines]
    scans: Counter = Counter()
    i = 0
    while i < len(lines):
        c = cols[i]
        m = _SECTION_RE.match(lines[i], c)
        if m and m.group(1) != "Initial":
            # skip to the sibling section header or the end of the plan
            i += 1
            while i < len(lines) and cols[i] >= c and not (
                cols[i] == c and _SECTION_RE.match(lines[i], c)
            ):
                i += 1
            continue
        if lines[i].startswith("InMemoryRelation", c):
            end = next((j for j in range(i + 1, len(lines)) if cols[j] <= c), len(lines))
            body = tuple(
                (cols[j] - c, _PLAN_IDS_RE.sub("", lines[j][cols[j]:]))
                for j in range(i + 1, end)
            )
            if body in seen:
                i = end
                continue
            seen.add(body)
        elif lines[i].startswith("FileScan", c):
            scans.update(TABLE_RE.findall(lines[i]))
        i += 1
    return scans


def table_scans(plans: list[str]) -> Counter:
    """Parquet scans per table of one query's executions: the largest
    count in any one execution. AQE plans count in their ``== Initial
    Plan ==`` sections, the plan as asked for: the final and current
    sections show runtime rewrites (an empty join side becomes an
    ``EmptyRelation``) that hide scans the query still asks for at scale.
    A cached body is printed under every ``InMemoryRelation`` that reads
    it but fills once, so each distinct body (ids and stage numbers
    stripped) counts in the first execution that shows it."""
    seen: set = set()
    worst: Counter = Counter()
    for plan in plans:
        worst |= _scans(plan, seen)
    return worst


def features(plans: list[str]) -> dict:
    nodes = sum((_executed_nodes(p) for p in plans), Counter())
    text = "\n".join(plans)
    joins = {
        k: v
        for k, v in nodes.items()
        if k
        in {
            "BroadcastHashJoin",
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        }
    }
    return {
        "executions": len(plans),
        "joins": joins,
        "shuffles": nodes.get("Exchange", 0),
        "broadcasts": nodes.get("BroadcastExchange", 0),
        "pushed": re.search(r"PushedFilters: \[[^\]]", text) is not None,
        "python_udf": "BatchEvalPython" in text or "ArrowEvalPython" in text,
        "pandas_grouped": "FlatMapGroupsInPandas" in text or "MapInPandas" in text,
        "windows": nodes.get("Window", 0) + nodes.get("WindowGroupLimit", 0),
    }


def _row(name: str, plans: list[str]) -> str:
    f = features(plans)
    joins = ", ".join(f"{k}×{v}" for k, v in f["joins"].items()) or "none"
    flags = []
    if f["python_udf"]:
        flags.append("PYTHON-UDF")
    if f["pandas_grouped"]:
        flags.append("pandas-grouped")
    return (
        f"{name:36s} execs={f['executions']} joins[{joins}] "
        f"shuffles={f['shuffles']} bcast={f['broadcasts']} "
        f"windows={f['windows']} pushdown={'yes' if f['pushed'] else 'no'} "
        + " ".join(flags)
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2:]

    import __spark_entry__ as ent
    from end_to_end_azure_data_engineering_spark.engine import get_spark

    spark = get_spark("plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = ent.queries()
    for name in only or list(qs):
        print(_row(name, executed_plans(spark, qs[name], sf_dir)), flush=True)
        if name in FORCED:
            with forced_route(name):
                plans = executed_plans(spark, qs[name], sf_dir)
            print(_row(f"{name}:forced", plans), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
