"""The closed query loop and its DuckDB oracle check.

One client on one session: the next query is called only after the
previous one has been fully materialised (``collect``). The workload's
query list (``mix``) is drawn from ``bench.HEADLINE`` by the module each
callable was registered from; its order within a pass is a shuffle drawn
from the seed.
"""

from __future__ import annotations

import hashlib
import json
import random
import time
import traceback
from pathlib import Path

#: queries of relational_ext.py that form the copurchase graph family
GRAPH = (
    "copurchase_pairs", "copurchase_degree_histogram", "copurchase_jaccard",
    "copurchase_triangles", "pagerank_copurchase",
)
ANALYST_MODULES = ("relational", "relational_tpch2", "relational_ext", "pipeline_ops", "streaming_batch_ops")
CORPUS_MODULES = ("dedup_ops", "similarity_ops", "text_ops", "training_ops", "multimodal_ops")
#: ``mix`` takes every n-th query of each family, in ``bench.HEADLINE`` order
ANALYST_STRIDE = 15
CORPUS_STRIDE = 24


def family(workload: str, headline: list[str], queries: dict) -> list[str]:
    """The workload's queries, in ``bench.HEADLINE`` order."""
    def module(name: str) -> str:
        return queries[name].__module__.rsplit(".", 1)[-1]

    if workload == "analyst_sql":
        return [n for n in headline if module(n) in ANALYST_MODULES and n not in GRAPH]
    if workload == "corpus_curation":
        return [n for n in headline if module(n) in CORPUS_MODULES or n in GRAPH]
    raise ValueError(f"unknown workload {workload!r}")


def mix(headline: list[str], queries: dict) -> list[str]:
    """The ``query_mix`` list: every ``ANALYST_STRIDE``-th analyst query and
    every ``CORPUS_STRIDE``-th corpus query (the corpus calls are about twice
    as long)."""
    return (family("analyst_sql", headline, queries)[::ANALYST_STRIDE]
            + family("corpus_curation", headline, queries)[::CORPUS_STRIDE])


def seeded_passes(names: list[str], seed: int):
    """Endless passes over ``names``, each in its own seeded order."""
    rng = random.Random(seed)
    while True:
        order = list(names)
        rng.shuffle(order)
        yield order


class QueryLoop:
    def __init__(self, spark, queries: dict, data_dir: str, release, tracer, probes=None):
        self.spark, self.queries, self.data_dir = spark, queries, data_dir
        self.release, self.tracer, self.probes = release, tracer, probes
        self.calls: list[dict] = []
        self.results: dict[str, tuple[list[str], list[tuple]]] = {}

    def call(self, name: str) -> dict:
        """One call, timed from the call to full materialisation."""
        rec: dict = {"query": name, "ok": False}
        tr, probes = self.tracer, self.probes
        if probes:
            rec.update(probes.before(name, len(self.calls)))
        t0 = time.perf_counter()
        try:
            with tr.span("queries.call", query=name):
                with tr.span("queries.build"):
                    df = self.queries[name](self.spark, self.data_dir)
                t1, e1 = time.perf_counter(), time.time()
                with tr.span("queries.action"):
                    rows = df.collect()
            t2, e2 = time.perf_counter(), time.time()
            rec.update(ok=True, wall_s=t2 - t0, build_s=t1 - t0, action_s=t2 - t1,
                       action_epoch=(e1, e2))
            if name not in self.results:
                self.results[name] = (list(df.columns), [tuple(r) for r in rows])
            if probes:
                rec.update(probes.after_action(df))
            self.release(df)
        except Exception as exc:  # noqa: BLE001 - a failed call is a counted failed op
            rec.update(wall_s=time.perf_counter() - t0, error=repr(exc)[:300],
                       traceback=traceback.format_exc(limit=8))
            df = None
        del df
        if probes:
            rec.update(probes.after_release())
        self.calls.append(rec)
        return rec

    def run(self, names: list[str], seed: int, seconds: float, deadline: float) -> float:
        """Whole passes until ``seconds`` have gone by (at least one pass).
        Stops early only past ``deadline`` (perf-counter), so a pathological
        run still ends in time. Returns the loop wall."""
        t0 = time.perf_counter()
        for order in seeded_passes(names, seed):
            for name in order:
                if time.perf_counter() > deadline:
                    return time.perf_counter() - t0
                self.call(name)
            if time.perf_counter() - t0 >= seconds:
                return time.perf_counter() - t0
        return time.perf_counter() - t0


def _oracle_answer(con, sql: str) -> dict:
    """The oracle's columns, types and normalised rows, or its error."""
    import duckdb
    from tools.check_oracle import _norm_rows

    try:
        rel = con.sql(sql)
        cols, types, rows = list(rel.columns), [str(t) for t in rel.types], rel.fetchall()
    except duckdb.Error as exc:
        return {"error": str(exc)}
    return {"cols": cols, "types": types, "rows": _norm_rows(cols, rows)}


def oracle_check(results: dict, oracles: dict, data_dir: Path, cache_dir: Path) -> dict[str, str | None]:
    """Compare each query's first result with its DuckDB oracle at the same
    inputs, using tools/check_oracle.py's normalisation. Returns
    {query: None when it matches, else the reason}.

    An oracle's answer is a pure function of its SQL and the input files,
    so answers are kept in ``cache_dir`` under the SHA-256 of both: a seed
    run again in the same checkout skips the DuckDB work (several seconds
    for the corpus family's pair-mining oracles)."""
    import duckdb
    from tools.check_oracle import _HAZARD_TYPES, TABLES, _norm_rows

    inputs_hash = hashlib.sha256()
    for t in TABLES:
        inputs_hash.update((data_dir / f"{t}.parquet").read_bytes())
    cache_dir.mkdir(parents=True, exist_ok=True)
    con = None
    out: dict[str, str | None] = {}
    for name, (scols, srows) in results.items():
        if name not in oracles:
            out[name] = "no oracle"
            continue
        key = hashlib.sha256(inputs_hash.digest() + oracles[name].encode()).hexdigest()
        cached = cache_dir / f"{key}.json"
        if cached.exists():
            ans = json.loads(cached.read_text())
        else:
            if con is None:
                con = duckdb.connect()
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            ans = _oracle_answer(con, oracles[name])
            cached.write_text(json.dumps(ans))
        if "error" in ans:
            out[name] = f"oracle error: {ans['error']}"
        elif any(t.startswith(h) for t in ans["types"] for h in _HAZARD_TYPES):
            out[name] = f"oracle dtype hazard {ans['types']}"
        elif sorted(scols) != sorted(ans["cols"]):
            out[name] = f"columns {sorted(scols)} vs {sorted(ans['cols'])}"
        elif len(srows) != len(ans["rows"]):
            out[name] = f"rows {len(srows)} vs {len(ans['rows'])}"
        elif _norm_rows(scols, srows) != ans["rows"]:
            out[name] = "values differ"
        else:
            out[name] = None
    if con is not None:
        con.close()
    return out
