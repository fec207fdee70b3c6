"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the query catalog reads (``session.TABLES``) as one
parquet file each, with the column names, types and value distributions of
the engine's TPC-H-ish test data: uniform keys, two-decimal money, date-only
TPC-H timestamps, a 30-day microsecond ``events`` stream, a 30-word
document vocabulary with 5 % near-duplicates (``<base text> dup``) and a few
exact copies, and unit-norm 64-d embeddings.

The tables depend only on ``(scale, DATA_SEED)``: every run of the benchmark
reads the same rows, so expected results can be computed once
(``make_expected.py``).  The run's ``--seed`` drives the workload (query
order, pipeline requests), never the tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")


def _sizes(scale: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * scale),
        "supplier": int(10_000 * scale),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "users": int(15_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    d0 = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - d0).astype(np.int64))
    days = d0 + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.asarray(WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i >= 20 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, n, replace=False))
    ts = np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
        }
    )


def make_tables(scale: float) -> dict[str, pa.Table]:
    """All ten tables at ``scale`` (1.0 = TPC-H SF1 row counts)."""
    n = _sizes(scale)
    rng = np.random.default_rng(DATA_SEED)
    i32 = lambda a: pa.array(a, pa.int32())  # noqa: E731
    i64 = lambda a: pa.array(a, pa.int64())  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table(
        {
            "n_nationkey": i32(np.arange(25)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": i32(np.arange(25) % 5),
        }
    )
    c = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": i64(np.arange(c)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": i32(rng.integers(0, 25, c)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": _pick(rng, SEGMENTS, c),
        }
    )
    s = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": i64(np.arange(s)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": i32(rng.integers(0, 25, s)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
        }
    )
    p = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": i64(np.arange(p)),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
                ]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": _pick(rng, PART_TYPES, p),
            "p_size": i32(rng.integers(1, 51, p)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) / 10.0, 1)),
        }
    )
    o = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": i64(np.arange(o)),
            "o_custkey": i64(rng.integers(0, c, o)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), o),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, o)),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": _pick(rng, PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": i64(rng.integers(0, o, li)),
            "l_partkey": i64(rng.integers(0, p, li)),
            "l_suppkey": i64(rng.integers(0, s, li)),
            "l_linenumber": i32(rng.integers(1, 8, li)),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, li)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), li),
            "l_linestatus": _pick(rng, ("F", "O"), li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li),
        }
    )
    t["events"] = _events(rng, n["events"], n["users"])
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write_tables(out_dir: str, scale: float) -> None:
    """Write every table to ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(scale).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    import sys
    import time

    t0 = time.perf_counter()
    write_tables(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.01)
    print(f"wrote tables in {time.perf_counter() - t0:.2f} s")
