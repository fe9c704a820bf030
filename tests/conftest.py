import functools
import sys
from dataclasses import dataclass, field
from pathlib import Path
from types import SimpleNamespace

import pytest

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from end_to_end_azure_data_engineering_spark.engine import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    yield s


@dataclass
class Run:
    """One full run of a query: the plans it executed, its columns, the
    persisted RDD ids it left behind, whether it left a CacheManager entry
    behind, or the error it raised."""

    plans: list[str] = field(default_factory=list)
    columns: list[str] = field(default_factory=list)
    leaked: set[int] = field(default_factory=set)
    cached: bool = False
    error: str | None = None


def _run(spark, fn) -> Run:
    from tools.plan_audit import executed_plans

    run = Run()

    def build(s, sf_dir):
        df = fn(s, sf_dir)
        run.columns = df.columns
        return df

    jsc = spark.sparkContext._jsc
    spark.catalog.clearCache()
    before = set(jsc.getPersistentRDDs())
    try:
        run.plans = executed_plans(spark, build, SF_DIR)
    except Exception as e:  # noqa: BLE001 — reported per query by the tests
        run.error = f"{type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        return run
    run.leaked = set(jsc.getPersistentRDDs()) - before
    run.cached = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    return run


@pytest.fixture(scope="session")
def run_query(spark):
    """``run_query(fn)`` -> the ``Run`` of one query, as the shared
    executed pass records it."""
    return functools.partial(_run, spark)


@pytest.fixture(scope="session")
def executed(spark):
    """Every registered query run once to completion at sf0.001
    (``default``), plus the size-gated queries run again with their scale
    route forced (``forced``, see tools/plan_audit.FORCED). The driver
    smoke test, the plan fences and the pin fence all read this one pass."""
    import __spark_entry__ as ent
    from tools.plan_audit import FORCED, forced_route

    qs = ent.queries()
    default = {name: _run(spark, fn) for name, fn in qs.items()}
    forced = {}
    for name in FORCED:
        with forced_route(name):
            forced[name] = _run(spark, qs[name])
    return SimpleNamespace(default=default, forced=forced)
