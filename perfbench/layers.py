"""Per-layer metrics of a traced run, from the benchmark's spans, Spark's
status store and the pipeline's own audit rows.

Query-layer numbers are totals over the run's query calls; pipeline-layer
numbers cover both days, except the day-2 ones README.md lists. A layer
the workload does not reach reports 0: queries in ``pipeline_daily``, the
pipeline in ``query_mix``.
"""

from __future__ import annotations

from . import stats
from .pipeline_day import APPEND, SCD2

PIN_JOB_PREFIXES = ("localCheckpoint at", "checkpoint at")


def _stage_sum(stages: dict, keys, field: str) -> float:
    return sum(stages[k][field] for k in keys)


def per_layer(*, tracer, store, calls, pipe, profiles, expired, inserted, failed_ops_ratio, peak_rss_mb):
    """Returns ({metric: (value, unit)}, detail dict)."""
    jobs, stages = store
    measured = [j for j in jobs if j["group"] != "perfbench:setup"]
    by_group: dict[str, list[dict]] = {}
    for j in measured:
        by_group.setdefault(j["group"], []).append(j)

    def stage_keys(js):
        ids = {sid for j in js for sid in j["stages"]}
        return [k for k in stages if k[0] in ids and stages[k]["submitted"] is not None]

    all_keys = stage_keys(measured)
    ok = [c for c in calls if c["ok"]]
    build_jobs = gaps = 0.0
    per_query = []
    for c in ok:
        js = by_group.get(c["group"], [])
        e1, e2 = c["action_epoch"]
        n_build = sum(1 for j in js if j["submitted"] is not None and j["submitted"] < e1)
        act = stage_keys([j for j in js if j["submitted"] is not None and j["submitted"] >= e1])
        busy = stats.union_length(stats.clip(
            [(stages[k]["submitted"], stages[k]["completed"] or e2) for k in act], e1, e2))
        gap = max(0.0, (e2 - e1) - busy)
        build_jobs += n_build
        gaps += gap
        per_query.append({"query": c["query"], "wall_s": c["wall_s"], "build_s": c["build_s"],
                          "action_s": c["action_s"], "plan_s": c["plan_s"],
                          "sched_gap_s": gap, "jobs": len(js), "build_jobs": n_build,
                          "leaked_bytes": c["leaked_bytes"]})

    m = {
        "queries.build_s": (sum(c["build_s"] for c in ok), "s"),
        "queries.build_jobs": (build_jobs, "count"),
        "queries.action_s": (sum(c["action_s"] for c in ok), "s"),
        "queries.plan_s": (sum(c["plan_s"] for c in ok), "s"),
        "queries.sched_gap_s": (gaps, "s"),
        "operators.jobs": (len(measured), "count"),
        "operators.exec_run_s": (_stage_sum(stages, all_keys, "exec_run_s"), "s"),
        "operators.exec_cpu_s": (_stage_sum(stages, all_keys, "exec_cpu_s"), "s"),
        "operators.tasks": (_stage_sum(stages, all_keys, "tasks"), "count"),
        "operators.input_bytes": (_stage_sum(stages, all_keys, "input_bytes"), "bytes"),
        "operators.shuffle_read_bytes": (_stage_sum(stages, all_keys, "shuffle_read_bytes"), "bytes"),
        "operators.shuffle_write_bytes": (_stage_sum(stages, all_keys, "shuffle_write_bytes"), "bytes"),
        "operators.spill_bytes": (_stage_sum(stages, all_keys, "spill_bytes"), "bytes"),
        "operators.gc_s": (_stage_sum(stages, all_keys, "gc_s"), "s"),
        "engine.pin.count": (sum(1 for j in measured if j["name"].startswith(PIN_JOB_PREFIXES)), "count"),
        "engine.pin.leaked_bytes": (sum(c.get("leaked_bytes", 0) for c in calls), "bytes"),
        "engine.session.start_s": (tracer.busy("engine.session"), "s"),
        "memory.peak_rss_mb": (peak_rss_mb, "MB"),
        "failed_ops_ratio": (failed_ops_ratio, "ratio"),
        "trace.overhead_s": (tracer.cost_s, "s"),
    }
    m.update(_pipeline_layers(tracer, pipe, profiles, expired, inserted))
    detail = {"per_query": per_query}
    if pipe is not None:
        detail["day2_silver_writes"] = _day2_merged(pipe)
        detail["rows_changed_day2"] = sum(expired.values()) + sum(inserted.values())

    self_t = stats.self_times(tracer.spans)
    self_by_name: dict[str, float] = {}
    for s in tracer.spans:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + self_t[s["id"]]
    detail["self_time_s"] = self_by_name
    return m, detail


def _day2_merged(pipe) -> list[dict]:
    """Day-2 writes of the SCD2 and append silver tables."""
    silver = {f"silver.{t}" for t in SCD2 + APPEND}
    return [w for w in pipe.wh.written[pipe.day_write_counts[0]:] if w["table"] in silver]


def _pipeline_layers(tracer, pipe, profiles, expired, inserted) -> dict:
    """The pipeline layers' metrics; all 0 when the run has no pipeline."""
    phases = ("ingestion", "silver", "gold")
    names = {
        "plans.pipeline.full_s": "s", "plans.pipeline.incr_s": "s",
        "plans.ingestion.s": "s", "plans.silver.s": "s", "plans.gold.s": "s",
        "plans.silver.scd2_s": "s", "plans.silver.append_s": "s", "plans.silver.refresh_s": "s",
        "operators.scd2.expired_rows": "count",
        "engine.tableio.overwrite_s": "s", "engine.tableio.archive_s": "s",
        "engine.tableio.rewrite_ratio": "ratio", "engine.tableio.bytes_written": "bytes",
        "engine.tableio.files_written": "count",
        "plans.audit.insert_s": "s", "plans.audit.rows": "count", "plans.runner.stage_retries": "count",
        **{f"plans.runner.overlap.{p}": "ratio" for p in phases},
        **{f"plans.runner.critical_path_s.{p}": "s" for p in phases},
    }
    if pipe is None:
        return {k: (0, u) for k, u in names.items()}
    merged = _day2_merged(pipe)
    changed = sum(expired.values()) + sum(inserted.values())
    d2 = profiles[1]
    v = {
        "plans.pipeline.full_s": pipe.days[0]["wall"],
        "plans.pipeline.incr_s": pipe.days[1]["wall"],
        "plans.ingestion.s": sum(d["ingestion"] for d in pipe.days),
        "plans.silver.s": sum(d["silver"] for d in pipe.days),
        "plans.gold.s": sum(d["gold"] for d in pipe.days),
        "plans.silver.scd2_s": d2["silver_by_load"]["scd2"],
        "plans.silver.append_s": d2["silver_by_load"]["append"],
        # the full-refresh snapshots load on day 1 only
        "plans.silver.refresh_s": profiles[0]["silver_by_load"]["full_refresh"],
        "operators.scd2.expired_rows": sum(expired.values()),
        "engine.tableio.overwrite_s": tracer.busy("engine.tableio.overwrite"),
        "engine.tableio.archive_s": tracer.busy("engine.tableio.archive"),
        "engine.tableio.rewrite_ratio": sum(w["rows"] for w in merged) / max(1, changed),
        "engine.tableio.bytes_written": sum(w["bytes"] for w in pipe.wh.written),
        "engine.tableio.files_written": sum(w["files"] for w in pipe.wh.written),
        "plans.audit.insert_s": tracer.busy("plans.audit.insert"),
        "plans.audit.rows": sum(p["audit_rows"] for p in profiles),
        "plans.runner.stage_retries": sum(p["hidden_retries"] for p in profiles),
    }
    for phase in phases:
        walls = sum(sum(p["stage_walls"][phase].values()) for p in profiles)
        v[f"plans.runner.overlap.{phase}"] = walls / sum(d[phase] for d in pipe.days)
        v[f"plans.runner.critical_path_s.{phase}"] = sum(p["critical_path_s"][phase] for p in profiles)
    return {k: (v[k], u) for k, u in names.items()}


def reconcile(calls, spans, tol_s: float) -> dict:
    """Per query call: the ``queries.build`` + ``queries.action`` span
    durations against the enclosing ``queries.call`` span, and the call's
    own perf-counter wall against that span."""
    kids: dict[int, float] = {}
    for s in spans:
        if s["name"] in ("queries.build", "queries.action"):
            kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
    outer = [s for s in spans if s["name"] == "queries.call"]
    worst = max((abs((s["end"] - s["start"]) - kids.get(s["id"], 0.0)) for s in outer), default=0.0)
    ok_calls = [c for c in calls if c["ok"]]
    walls = sorted(s["end"] - s["start"] for s in outer)
    mine = sorted(c["wall_s"] for c in ok_calls)
    worst_wall = max((abs(a - b) for a, b in zip(walls, mine)), default=0.0)
    return {"tolerance_s": tol_s, "worst_build_plus_action_s": worst,
            "worst_wall_s": worst_wall, "ok": max(worst, worst_wall) <= tol_s}
