"""Unit tests for the benchmark's pure parts: no Spark session.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt

import pytest

from perfbench import inputs, query_loop, stats
from tools.check_oracle import TABLES


# ---- the percentile rule -----------------------------------------------------


def test_percentile_is_nearest_rank():
    xs = [float(i) for i in range(1, 101)]
    assert stats.percentile(xs, 50) == 50.0
    assert stats.percentile(xs, 90) == 90.0
    assert stats.percentile(list(reversed(xs)), 66) == 66.0
    assert stats.percentile([3.0], 90) == 3.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_tail_needs_ten_samples_beyond():
    assert stats.beyond(100, 90) == 10
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)
    # a pass of 30 queries supports p66 and nothing higher
    assert stats.supported(30, 66)
    assert not stats.supported(30, 67)
    assert stats.supported(20, 50)
    assert not stats.supported(19, 50)


# ---- span self time ------------------------------------------------------------


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([]) == 0
    assert stats.union_length([(2, 1)]) == 0
    assert stats.clip([(0, 5), (6, 9)], 1, 7) == [(1, 5), (6, 7)]


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        # two parallel children overlap on [2, 4]: their union is 5, not 7
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 2.0, "end": 6.0},
        {"id": 4, "parent": 3, "start": 2.5, "end": 3.0},
    ]
    self_t = stats.self_times(spans)
    assert self_t[1] == pytest.approx(5.0)
    assert self_t[2] == pytest.approx(3.0)
    assert self_t[3] == pytest.approx(3.5)
    assert self_t[4] == pytest.approx(0.5)


def test_self_time_ignores_child_time_outside_parent():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 2.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 5.0},
    ]
    assert stats.self_times(spans)[1] == pytest.approx(1.0)


# ---- the day-2 delta generator --------------------------------------------------


def _plan(seed: int) -> inputs.DeltaPlan:
    t = inputs.make_tables(0.002, 1)
    status = list(t["orders"]["o_orderstatus"])
    return inputs.plan_delta(len(t["customer"]["c_custkey"]), len(status), status, seed)


def test_delta_is_a_function_of_the_seed():
    assert _plan(7) == _plan(7)
    assert _plan(7) != _plan(8)


def test_delta_changes_about_five_percent_and_keeps_sets_disjoint():
    p = _plan(3)
    assert p.expired == {"customers": 15, "accounts": 30, "transactions": 150, "disputes": 0}
    assert not set(p.changed_customers) & set(p.resent_customers)
    assert not set(p.changed_accounts) & set(p.resent_accounts)
    assert not set(p.changed_txns) & set(p.resent_txns)
    assert p.new_key_offset > 3000  # new transaction keys never collide with day 1


def test_tables_are_a_function_of_the_seed():
    a, b, c = inputs.make_tables(0.001, 5), inputs.make_tables(0.001, 5), inputs.make_tables(0.001, 6)
    assert list(a["orders"]["o_totalprice"]) == list(b["orders"]["o_totalprice"])
    assert a["documents"]["text"] == b["documents"]["text"]
    assert list(a["orders"]["o_totalprice"]) != list(c["orders"]["o_totalprice"])
    assert set(a) == set(TABLES)


# ---- audit-row windowing ---------------------------------------------------------


def _row(system, obj, status, start, end):
    t0 = dt.datetime(2024, 3, 1, 6)
    return {
        "source_system": system, "source_object": obj, "status": status,
        "start_time": t0 + dt.timedelta(seconds=start),
        "end_time": None if end is None else t0 + dt.timedelta(seconds=end),
    }


def test_window_keeps_only_this_runs_rows():
    t0 = dt.datetime(2024, 3, 1, 6)
    earlier = [_row("silver", "customers", "SUCCESS", -86400, -86300)]  # a reused warehouse
    mine = [
        _row("silver", "customers", "STARTED", 1, None),
        _row("silver", "customers", "SUCCESS", 1, 3),
    ]
    rows = stats.window_audit(earlier + mine, t0, t0 + dt.timedelta(seconds=60))
    assert rows == mine
    # without windowing the earlier run's 100 s stage would win
    assert stats.stage_walls(earlier + mine)[("silver", "customers")] == pytest.approx(2.0)
    assert stats.stage_walls(earlier)[("silver", "customers")] == pytest.approx(100.0)
    assert stats.stage_walls(rows) == {("silver", "customers"): pytest.approx(2.0)}


def test_retried_stage_counts_its_last_success_and_one_hidden_retry():
    rows = [
        _row("gold", "fact_transaction", "FAILED", 0, 1),
        _row("gold", "fact_transaction", "SUCCESS", 1.5, 4),
        _row("gold", "dim_account", "FAILED", 0, 2),
    ]
    assert stats.stage_walls(rows) == {("gold", "fact_transaction"): pytest.approx(2.5)}
    assert stats.hidden_retries(rows) == 1


def test_critical_path_follows_dependencies():
    walls = {"a": 1.0, "b": 2.0, "c": 3.0, "d": 0.5}
    deps = {"c": ["a", "b"], "d": ["c"]}
    assert stats.critical_path(walls, deps) == pytest.approx(5.5)
    assert stats.critical_path({}, deps) == 0.0


# ---- the query_mix list ------------------------------------------------------------


def _registered(module: str):
    def q(spark, data_dir):
        return None

    q.__module__ = f"end_to_end_azure_data_engineering_spark.queries.{module}"
    return q


def test_mix_strides_each_family_in_headline_order():
    headline = [f"a{i}" for i in range(31)] + [f"c{i}" for i in range(25)] + ["pagerank_copurchase"]
    queries = {n: _registered("relational" if n.startswith("a") else "text_ops") for n in headline}
    queries["pagerank_copurchase"] = _registered("relational_ext")  # graph family: corpus side
    assert query_loop.mix(headline, queries) == ["a0", "a15", "a30", "c0", "c24"]
    assert query_loop.family("corpus_curation", headline, queries)[-1] == "pagerank_copurchase"
    assert "pagerank_copurchase" not in query_loop.family("analyst_sql", headline, queries)
