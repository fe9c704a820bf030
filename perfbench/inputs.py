"""Seeded inputs: the TPC-H-like query tables and the day-2 bronze delta.

The program sees only what this module writes. ``write_tables`` produces
the ten parquet tables the registered queries read (same names, columns
and types as the project's reference test data, with the same value
ranges). ``DeltaPlan`` picks, from the seed alone, which keys the day-2
feed changes, which day-1 rows it re-sends and which transactions are new;
``day2_bronze`` applies that plan to the program's own day-1 bronze frames.

Everything here is a pure function of (seed, scale) except the Spark
expressions in ``day2_bronze``, which are deterministic plans over the
deterministic day-1 frames.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass
from pathlib import Path

import numpy as np

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "rod", "plate", "nut", "pipe"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.43, 0.15, 0.14, 0.14, 0.14]


def _rows(base: int, sf: float, floor: int = 1) -> int:
    return max(floor, int(round(base * sf)))


def _ts(days: np.ndarray, start: str) -> np.ndarray:
    return np.datetime64(start, "us") + days.astype("timedelta64[D]").astype("timedelta64[us]")


def make_tables(sf: float, seed: int) -> dict[str, dict[str, np.ndarray | list]]:
    """Column arrays for every table, keyed by table name."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = _rows(150_000, sf), _rows(10_000, sf)
    n_part, n_ord = _rows(200_000, sf), _rows(1_500_000, sf)
    n_line, n_ev = 4 * n_ord, _rows(1_000_000, sf)
    n_users = _rows(15_000, sf)
    n_docs, n_vec = _rows(20_000, sf, 200), _rows(20_000, sf, 500)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": list(rng.choice(_SEGMENTS, n_cust)),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    }
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = {
        "p_partkey": pk,
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": list(rng.choice(_PART_TYPES, n_part)),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": money(1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, 2405, n_ord), "1995-01-01"),
        "o_orderpriority": list(rng.choice(_PRIORITIES, n_ord)),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": list(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": list(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(rng.integers(0, 2499, n_line), "1995-01-02"),
    }
    # an append log over 30 days, strictly increasing microsecond stamps
    gaps = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64) + 1
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": list(rng.choice(_EVENT_TYPES, n_ev)),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(_LANGS, n_docs, p=_LANG_P)),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n_vec)
    vecs = 0.15 * centroids[labels] + rng.normal(scale=0.125, size=(n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": [row for row in vecs.astype(np.float32)],
        "label": labels.astype(np.int32),
    }
    return t


def write_tables(out_dir: Path, sf: float, seed: int) -> dict[str, dict]:
    """Write every table as ``<out_dir>/<name>.parquet``; return the arrays
    (the day-2 delta plan and the checks read them)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    tables = make_tables(sf, seed)
    for name, cols in tables.items():
        arrays = {}
        for c, v in cols.items():
            if c == "embedding":
                arrays[c] = pa.array([list(x) for x in v], type=pa.list_(pa.float32()))
            else:
                arrays[c] = pa.array(v)
        pq.write_table(pa.table(arrays), out_dir / f"{name}.parquet")
    return tables


@dataclass(frozen=True)
class DeltaPlan:
    """Which keys the day-2 feed touches. Changed and re-sent key sets are
    disjoint per entity, so every day-2 batch stays unique per key."""

    changed_customers: tuple[int, ...]
    resent_customers: tuple[int, ...]
    changed_accounts: tuple[int, ...]
    resent_accounts: tuple[int, ...]
    changed_txns: tuple[int, ...]
    resent_txns: tuple[int, ...]
    new_txn_bases: tuple[int, ...]  # day-1 order keys cloned as new transactions
    resent_settlements: tuple[int, ...]  # order keys of re-sent settlements
    resent_disputes: tuple[int, ...]
    new_key_offset: int  # new transaction key = base key + offset

    @property
    def expired(self) -> dict[str, int]:
        """Rows the day-2 SCD2 merge must expire, per silver entity."""
        return {
            "customers": len(self.changed_customers),
            "accounts": len(self.changed_accounts),
            "transactions": len(self.changed_txns),
            "disputes": 0,
        }


def _pick(rng, pool: np.ndarray, share: float, exclude=()) -> tuple[int, ...]:
    pool = np.setdiff1d(pool, np.asarray(exclude, dtype=pool.dtype))
    n = max(1, int(round(share * pool.size)))
    return tuple(int(x) for x in np.sort(rng.choice(pool, n, replace=False)))


def plan_delta(n_customers: int, n_orders: int, order_status: list, seed: int) -> DeltaPlan:
    """Seeded day-2 delta over a bronze derived from ``n_customers``
    customers (two accounts each) and ``n_orders`` orders; ``order_status``
    is the orders' o_orderstatus ('F' orders carry a settlement)."""
    rng = np.random.default_rng([seed, 2])
    cust = np.arange(n_customers)
    acct = np.arange(2 * n_customers)
    orders = np.arange(n_orders)
    settled = orders[np.asarray(order_status) == "F"]
    disputed = orders[orders % 97 == 0]
    changed_c = _pick(rng, cust, 0.05)
    changed_a = _pick(rng, acct, 0.05)
    changed_t = _pick(rng, orders, 0.05)
    return DeltaPlan(
        changed_customers=changed_c,
        resent_customers=_pick(rng, cust, 0.05, changed_c),
        changed_accounts=changed_a,
        resent_accounts=_pick(rng, acct, 0.05, changed_a),
        changed_txns=changed_t,
        resent_txns=_pick(rng, orders, 0.05, changed_t),
        new_txn_bases=_pick(rng, orders, 0.03),
        resent_settlements=_pick(rng, settled, 0.10),
        resent_disputes=_pick(rng, disputed, 0.5),
        new_key_offset=10 ** (len(str(n_orders)) + 1),
    )


def new_settlement_count(plan: DeltaPlan, order_status: list) -> int:
    return sum(1 for k in plan.new_txn_bases if order_status[k] == "F")


def day2_bronze(day1: dict, plan: DeltaPlan) -> dict:
    """The day-2 bronze feeds, derived from the program's day-1 frames:
    changed rows (one compare column edited), re-sent unchanged rows, new
    transactions and their settlements. Only these five entities arrive on
    day 2; the reference dims (full-refresh snapshots) keep their day-1
    silver tables, so day 2 is the incremental path alone."""
    from pyspark.sql import functions as F

    def num(col: str, prefix: str):
        return F.substring(F.col(col), len(prefix) + 1, 64).cast("long")

    def shifted(col: str, prefix: str, width: int):
        return F.concat(
            F.lit(prefix),
            F.lpad((num(col, prefix) + F.lit(plan.new_key_offset)).cast("string"), width, "0"),
        )

    def feed(ent: str, fn) -> list:
        return [(fn(df), tag) for df, tag in day1[ent]]

    def edit(df, key, changed, resent, col, new_value):
        keep = df.filter(key.isin(list(changed) + list(resent)))
        return keep.withColumn(col, F.when(key.isin(list(changed)), new_value).otherwise(F.col(col)))

    out = {"customers": feed("customers", lambda df: edit(
        df, num("customer_id", "CUST"), plan.changed_customers, plan.resent_customers,
        "last_name", F.concat(F.col("last_name"), F.lit("-v2")),
    ))}
    out["accounts"] = feed("accounts", lambda df: edit(
        df, num("account_id", "ACC"), plan.changed_accounts, plan.resent_accounts,
        "branch_id", F.concat(F.lit("BR"), F.lpad(((num("account_id", "ACC") + 1) % 10).cast("string"), 3, "0")),
    ))

    def txns(df):
        k = num("transaction_id", "TXN")
        changed = edit(
            df, k, plan.changed_txns, plan.resent_txns, "channel",
            F.when(F.col("channel") == "ATM", F.lit("ONLINE")).otherwise(F.lit("ATM")),
        )
        new = df.filter(k.isin(list(plan.new_txn_bases))).withColumn(
            "transaction_id", shifted("transaction_id", "TXN", 12)
        ).withColumn("booking_ts", F.col("booking_ts") + F.expr("INTERVAL 1 DAY"))
        return changed.unionByName(new)

    out["transactions"] = feed("transactions", txns)

    def settlements(df):
        k = num("transaction_id", "TXN")
        resent = df.filter(k.isin(list(plan.resent_settlements)))
        new = (
            df.filter(k.isin(list(plan.new_txn_bases)))
            .withColumn("settlement_id", shifted("settlement_id", "SET", 12))
            .withColumn("transaction_id", shifted("transaction_id", "TXN", 12))
        )
        return resent.unionByName(new)

    out["settlements"] = feed("settlements", settlements)
    out["disputes"] = feed(
        "disputes",
        lambda df: df.filter(num("transaction_id", "TXN").isin(list(plan.resent_disputes))),
    )
    return out


def business_day(n: int) -> dt.datetime:
    """The FixedClock instant of business day ``n`` (1-based)."""
    return dt.datetime(2024, 3, 1, 6, 0, 0) + dt.timedelta(days=n - 1)
