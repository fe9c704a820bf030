"""The repository benchmark: two business days of the medallion pipeline
(``pipeline_daily``), or a closed loop over registered queries
(``query_mix``).

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 10 --trace 0

Run it from the repository root. It writes only under ``.perfbench_work/``
(removed at exit) and ``.perfbench_out/`` (run records, spans, digests).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()

WORKLOADS = ("pipeline_daily", "query_mix")
#: scale of the tables the queries read (the oracle's reference scale)
QUERY_SF = 0.01
#: scale of the TPC-H tables the banking bronze is derived from
BRONZE_SF = 0.002
#: set-up repetitions (input generation + warm-up) whose median is reported
SETUP_REPS = 3
#: a run stops calling queries this long after it started, whatever happens
HARD_STOP_S = 100.0
#: |build + action - wall| allowed per query call, seconds
RECONCILE_TOL_S = 0.005


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _isolate(work: Path) -> None:
    """Point every scratch location of Python, Spark and the JVM into ``work``."""
    for d in ("spark-local", "tmp", "catalog"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "catalog")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"


def _descendants(pid: int) -> list[int]:
    from perfbench.trace import child_pids

    out, todo = [], child_pids(pid)
    while todo:
        p = todo.pop()
        out.append(p)
        todo += child_pids(p)
    return out


def _stop_spark(spark) -> None:
    """Stop the session and the JVM; wait until it and its workers exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    others = _descendants(os.getpid())
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in others:
        while Path(f"/proc/{pid}").exists() and time.monotonic() < deadline:
            time.sleep(0.05)
        if Path(f"/proc/{pid}").exists():
            os.kill(pid, 9)


class Probes:
    """Traced-run hooks around each query call: job group, Catalyst phase
    time and the persisted bytes a call leaves behind."""

    def __init__(self, sc, tracer):
        self.sc, self.tracer = sc, tracer
        self._stored = 0

    def before(self, name: str, i: int) -> dict:
        from perfbench.trace import persisted_bytes

        c0 = time.perf_counter()
        group = f"perfbench:q{i}:{name}"
        self.sc.setJobGroup(group, name)
        self._stored = persisted_bytes(self.sc)
        self.tracer.cost_s += time.perf_counter() - c0
        return {"group": group}

    def after_action(self, df) -> dict:
        from perfbench.trace import catalyst_s

        c0 = time.perf_counter()
        out = {"plan_s": catalyst_s(df)}
        self.tracer.cost_s += time.perf_counter() - c0
        return out

    def after_release(self) -> dict:
        from perfbench.trace import persisted_bytes

        c0 = time.perf_counter()
        out = {"leaked_bytes": max(0, persisted_bytes(self.sc) - self._stored)}
        self.tracer.cost_s += time.perf_counter() - c0
        return out


def _warm_up(spark, data_dir: Path) -> None:
    """Warm-up for the query loop: a scan, a shuffle aggregate, a join and
    a window, so the first query calls do not pay for the JVM's cold
    planner and codegen. The pipeline gets none: its day 1 starts from the
    cold engine, as a daily job does."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    li = spark.read.parquet(str(data_dir / "lineitem.parquet"))
    li.groupBy("l_returnflag").agg(F.sum("l_quantity")).collect()
    orders = spark.read.parquet(str(data_dir / "orders.parquet"))
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("l_extendedprice"))
    (joined.withColumn("r", F.row_number().over(w)).filter("r <= 3")
     .groupBy("o_orderpriority").agg(F.count("*"), F.avg("l_discount")).collect())


def main() -> int:
    args = _parse()
    root = Path.cwd()
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = root / ".perfbench_work" / f"{run_id}-{os.getpid()}"
    out_dir = root / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)  # before the program's imports: its session defaults read the environment
    sys.path.insert(0, str(root))
    # fail fast, before any process is started, when the program is absent
    try:
        import bench
        import __spark_entry__ as entry
        from end_to_end_azure_data_engineering_spark.engine import get_spark
        from end_to_end_azure_data_engineering_spark.operators.neardup import release_checkpoints
        from end_to_end_azure_data_engineering_spark.plans.bench_bronze import tpch_bronze_frames
    except ImportError:
        shutil.rmtree(work, ignore_errors=True)
        raise

    from perfbench import inputs, layers, stats
    from perfbench.pipeline_day import PipelineRun
    from perfbench.query_loop import QueryLoop, mix, oracle_check
    from perfbench.trace import RssSampler, Tracer

    is_pipeline = args.workload == "pipeline_daily"
    rss = RssSampler().start()
    tracer = Tracer(run_id, enabled=bool(args.trace))
    traced_conf = {
        "spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000",
        "spark.sql.ui.retainedExecutions": "1000000",
    } if args.trace else None
    log = lambda msg: print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)  # noqa: E731

    # ---- set-up: session, registry, inputs, warm-up ----------------------
    spark = pipe = loop = None
    try:
        with tracer.span("setup"):
            with tracer.span("engine.session"):
                spark = get_spark("perfbench", traced_conf)
            sc = spark.sparkContext
            sc.setJobGroup("perfbench:setup", "set-up")
            if not is_pipeline:
                with tracer.span("queries.registry"):
                    queries, oracles = entry.queries(), entry.oracle_sql()
                    names = mix(bench.HEADLINE, queries)
            t_session = time.perf_counter()
            # the pipeline reads the bronze-scale tables, the queries the query-scale ones
            data_dir = work / "inputs" / ("bronze" if is_pipeline else "queries")
            sf = BRONZE_SF if is_pipeline else QUERY_SF
            reps = []
            for _ in range(SETUP_REPS):
                r0 = time.perf_counter()
                with tracer.span("setup.inputs"):
                    tables = inputs.write_tables(data_dir, sf, args.seed)
                if not is_pipeline:
                    with tracer.span("setup.warm_up"):
                        _warm_up(spark, data_dir)
                reps.append(time.perf_counter() - r0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        setup_s = (t_session - T_START) + statistics.median(reps)
        log(f"ready: setup_s={setup_s:.2f}")

        if is_pipeline:
            # ---- two days: day 1 on an empty warehouse, day 2 merges -------
            status = list(tables["orders"]["o_orderstatus"])
            plan = inputs.plan_delta(len(tables["customer"]["c_custkey"]), len(status), status, args.seed)
            pipe = PipelineRun(spark, work / "warehouse", tracer)
            day1_bronze = tpch_bronze_frames(spark, str(data_dir))
            log("day-1 bronze frames built")
            day1 = pipe.run_day(1, inputs.business_day(1), day1_bronze)
            log(f"day 1: {day1['wall']:.2f}s")
            day2_bronze = inputs.day2_bronze(day1_bronze, plan)
            log("day-2 bronze frames built")
            day2 = pipe.run_day(2, inputs.business_day(2), day2_bronze)
            work_wall = day1["wall"] + day2["wall"]
            log(f"pipeline: day1 {day1['wall']:.2f}s day2 {day2['wall']:.2f}s")
        else:
            # ---- closed query loop -------------------------------------------
            probes = Probes(sc, tracer) if args.trace else None
            loop = QueryLoop(spark, queries, str(data_dir), release_checkpoints, tracer, probes)
            with tracer.span("queries.loop"):
                work_wall = loop.run(names, args.seed, args.seconds, T_START + HARD_STOP_S)
            log(f"loop: {len(loop.calls)} calls of {len(names)} queries in {work_wall:.2f}s")
        store = None
        if args.trace:
            from perfbench.trace import read_status_store

            store = read_status_store(sc)
        exec_facts = {
            "nproc": len(os.sched_getaffinity(0)),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "driver_memory": spark.conf.get("spark.driver.memory", None),
            "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
            "spark_version": spark.version,
            "input_sf": sf,
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
    peak_rss_mb = rss.stop()
    log("session stopped")

    # ---- checks (no Spark; outside every timed region) ---------------------
    out_dir.mkdir(parents=True, exist_ok=True)
    record: dict = {"run": run_id, "workload": args.workload, "seed": args.seed,
                    "trace": args.trace, "seconds": args.seconds, "exec": exec_facts}
    checks: list[tuple[str, bool, str]] = []
    calls, profiles, expired, inserted, wrong = [], [], {}, {}, set()
    if is_pipeline:
        import duckdb
        from tools.check_oracle import _norm_rows

        con = duckdb.connect()
        profiles = [pipe.day_profile(con, d) for d in pipe.days]
        expected_settlements = status.count("F") + inputs.new_settlement_count(plan, status)
        checks = pipe.check_day(con, plan, expected_settlements, day2["at"])
        digest = pipe.gold_digest(con, _norm_rows)
        digests_path = out_dir / "gold_digests.json"
        known = json.loads(digests_path.read_text()) if digests_path.exists() else {}
        key = f"seed={args.seed} bronze_sf={BRONZE_SF}"
        checks.append(("gold_digest_stable", known.get(key, digest) == digest,
                       f"{digest} vs recorded {known.get(key)}"))
        known.setdefault(key, digest)
        digests_path.write_text(json.dumps(known, indent=1, sort_keys=True))
        expired = pipe.expired_on(con, day2["at"])
        inserted = pipe.inserted_on(con, day2["at"])
        con.close()
        # an op is one audited stage attempt; its latency is the stage wall
        op_walls = [w for p in profiles for phase in p["stage_walls"].values() for w in phase.values()]
        attempted_ops = sum(p["stage_attempts"] for p in profiles)
        failed_ops = sum(p["failed_attempts"] for p in profiles)
        record.update(
            days=[{k: v for k, v in d.items() if not k.startswith("audit_")} for d in pipe.days],
            day_profiles=profiles, expired=expired, inserted=inserted,
            seeded_expired=plan.expired, gold_digest=digest,
        )
    else:
        oracle = oracle_check(loop.results, oracles, data_dir, out_dir / "oracle")
        wrong = {q for q, why in oracle.items() if why is not None}
        calls = loop.calls
        # an op is one query call; its latency is call to full materialisation
        op_walls = [c["wall_s"] for c in calls if c["ok"] and c["query"] not in wrong]
        attempted_ops = len(calls)
        failed_ops = attempted_ops - len(op_walls)
        record.update(
            queries=names, loop_wall_s=work_wall,
            passes_complete=len(calls) % len(names) == 0,
            oracle=oracle, failed_calls=[c for c in calls if not c["ok"]],
            call_walls=[(c["query"], c["wall_s"]) for c in calls],
        )
    log("checks done")

    failed_checks = [c for c in checks if not c[1]]
    attempted = attempted_ops + len(checks)
    failed = failed_ops + len(failed_checks)
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_mean_s": (statistics.fmean(op_walls), "s"),
        "ops_per_min": (len(op_walls) / work_wall * 60.0, "1/min"),
    }
    record.update(
        end_to_end={k: v for k, (v, _) in e2e.items()},
        failed_ops_ratio=failed / attempted, peak_rss_mb=peak_rss_mb,
        op_samples=len(op_walls), op_p50_s=stats.percentile(op_walls, 50),
        p50_supported=stats.supported(len(op_walls), 50),
        work_wall_s=work_wall, setup_reps_s=reps,
        checks=[{"check": n, "ok": ok, "detail": d} for n, ok, d in checks],
    )
    if args.trace:
        per_layer, detail = layers.per_layer(
            tracer=tracer, store=store, calls=calls, pipe=pipe, profiles=profiles,
            expired=expired, inserted=inserted, failed_ops_ratio=failed / attempted,
            peak_rss_mb=peak_rss_mb,
        )
        record["per_layer"] = per_layer
        record["layer_detail"] = detail
        record["reconcile"] = layers.reconcile(calls, tracer.spans, RECONCILE_TOL_S)
        untraced = out_dir / f"{args.workload}-s{args.seed}-t0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())["end_to_end"]
            record["tracing_overhead"] = {k: record["end_to_end"][k] - base[k] for k in base}
        tracer.write(out_dir / f"spans-{run_id}.jsonl")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in per_layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    (out_dir / f"{run_id}.json").write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    for n, ok, d in checks:
        log(f"check {'PASS' if ok else 'FAIL'} {n}: {d}")
    for q in sorted(wrong):
        log(f"oracle FAIL {q}: {record['oracle'][q]}")
    print(json.dumps({
        "record": record["run"], "exec": exec_facts, "failed_ops_ratio": record["failed_ops_ratio"],
        "op_samples": len(op_walls),
        **{k: record[k] for k in ("passes_complete", "reconcile", "tracing_overhead") if k in record},
    }))
    for k, (v, u) in e2e.items():
        print(f"{k} = {v:.4f} {u}")
    print(json.dumps({
        "correct": not failed_checks and not wrong and all(c["ok"] for c in calls),
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
