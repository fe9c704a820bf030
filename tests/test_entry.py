"""Driver-contract smoke tests: entry() runs, queries()/oracle_sql() align."""

import __spark_entry__ as ent


def test_entry_returns_rows(spark):
    df = ent.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns


def test_queries_registry_nonempty(spark):
    qs = ent.queries()
    assert len(qs) >= 20


def test_oracles_subset_of_queries():
    qs, os_ = ent.queries(), ent.oracle_sql()
    assert set(os_) <= set(qs)


def test_every_query_runs_sf0001(executed):
    """Every registered query collects in full at sf0.001 (the shared
    executed pass in conftest) and has columns."""
    assert set(executed.default) == set(ent.queries())
    failed = {n: r.error for n, r in executed.default.items() if r.error}
    assert not failed, "; ".join(f"{k}: {v}" for k, v in sorted(failed.items()))
    no_cols = [n for n, r in executed.default.items() if not r.columns]
    assert not no_cols, no_cols


def test_verification_order_rotation(tmp_path):
    """Self-rotating registration: never-green and regressed queries come
    first; green ones rotate by oldest verification round; order is stable
    within categories; no record ⇒ input order unchanged."""
    import json

    from end_to_end_azure_data_engineering_spark.queries import _verification_order

    names = ["a", "b", "c", "d", "e"]
    # no record at all → unchanged
    assert _verification_order(names, root=tmp_path) == names

    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    bad = {"rows_match": True, "schema_match": True, "hash_match": False, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": ok, "b": bad, "c": ok})
    )
    # b failed, d/e never checked → first; greens a, c follow in input order
    assert _verification_order(names, root=tmp_path) == ["b", "d", "e", "a", "c"]

    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"b": ok, "d": ok, "a": bad})
    )
    # a regressed after its r1 green, e never checked → first;
    # c (green r1) rotates ahead of b/d (green r2)
    assert _verification_order(names, root=tmp_path) == ["a", "e", "c", "b", "d"]
