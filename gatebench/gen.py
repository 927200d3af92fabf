"""Seeded input generator for the gate benchmark.

Writes the parquet tables the benchmark's query lanes read (`region
nation customer orders lineitem events documents`), with the same
column names, types and value domains as the project's synthetic
TPC-H-style test tables. Every value comes from the seed, so the same
seed always gives byte-identical files; the engine only ever sees the
files. The seed also shapes the layout: every table's row order is a
seeded permutation, and `documents.doc_id` is a seeded bijection of
0..n-1.

Usage: python3 gen.py <out_dir> <seed> <sf> [tables,...]
"""
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

US_PER_DAY = 86_400_000_000
DAY_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
DAY_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)

# each table's random stream; fixed, so the set of tables generated
# never changes another table's data
STREAM = {"region": 0, "nation": 1, "customer": 2, "orders": 5,
          "lineitem": 6, "events": 7, "documents": 8}
ALL = list(STREAM)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def ts(micros):
    return pa.array(micros, pa.timestamp("us"))


def days(rng, start_us, n_days, n):
    return ts(start_us + rng.integers(0, n_days, n) * US_PER_DAY)


def keys(n):
    return pa.array(np.arange(n, dtype=np.int64))


def documents(rng, n):
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # 5% near-duplicates (an earlier doc plus one marker word) and a few
    # exact copies, so every dedup stage has real work to do
    for i in np.nonzero(rng.random(n) < 0.05)[0]:
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in np.nonzero(rng.random(n) < 0.002)[0]:
        if i > 0:
            texts[i] = texts[rng.integers(0, i)]
    return {
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def build(name, rng, sf):
    # supplier and part key domains, as lineitem references them
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    if name == "region":
        return {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": pa.array(REGIONS, pa.string())}
    if name == "nation":
        k = np.arange(25, dtype=np.int32)
        return {"n_nationkey": pa.array(k),
                "n_name": pa.array([f"NATION_{i}" for i in k], pa.string()),
                "n_regionkey": pa.array(k % 5)}
    if name == "customer":
        return {"c_custkey": keys(n_cust),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
                "c_mktsegment": pick(rng, SEGMENTS, n_cust)}
    if name == "orders":
        return {"o_orderkey": keys(n_ord),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
                "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
                "o_orderdate": days(rng, DAY_1995, 2404, n_ord),
                "o_orderpriority": pick(rng, PRIORITIES, n_ord)}
    if name == "lineitem":
        return {"l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_li)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": pick(rng, ["F", "O"], n_li),
                "l_shipdate": days(rng, DAY_1995 + US_PER_DAY, 2499, n_li)}
    if name == "events":
        n = int(1_000_000 * sf)
        return {"event_id": keys(n),
                "ts": ts(np.sort(DAY_2024 + rng.integers(0, 30 * US_PER_DAY, n))),
                "user_id": pa.array(rng.integers(0, 1500, n)),
                "event_type": pick(rng, EVENT_TYPES, n),
                "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)])}
    if name == "documents":
        n = int(50_000 * sf)
        return {"doc_id": keys(n), **documents(rng, n)}
    raise ValueError(f"unknown table {name}")


def generate(out_dir, seed, sf, tables=ALL):
    """Write the tables; returns {table: (rows, bytes)}."""
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    stats = {}
    for name in tables:
        rng = np.random.default_rng([seed, 100 + STREAM[name]])
        table = pa.table(build(name, rng, sf))
        if name == "documents":
            remap = np.random.default_rng([seed, 1]).permutation(table.num_rows)
            ids = remap.astype(np.int64)[table.column("doc_id").to_numpy()]
            table = table.set_column(0, "doc_id", pa.array(ids))
        # seeded row order, so no lane can lean on the physical layout
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        path = out / f"{name}.parquet"
        pq.write_table(table, path)
        stats[name] = (table.num_rows, path.stat().st_size)
    return stats


if __name__ == "__main__":
    want = sys.argv[4].split(",") if len(sys.argv) > 4 else ALL
    for t, (rows, size) in generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]), want).items():
        print(f"{t} rows={rows} bytes={size}")
