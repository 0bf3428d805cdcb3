"""Seeded input generator for the benchmark.

Writes the ten fixture tables (the six GoSales sources lineitem, orders,
part, supplier, nation and region, plus customer, events, documents and
embeddings for the query catalog) with the fixture schemas, domains and
sf0.002 row counts (a fifth of the sf0.01 fixture; lineitem has 12,000
rows). The same seed gives byte-identical parquet files.

Usage: python3 perfbench/gen.py SEED OUT_DIR
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "region": 5, "nation": 25, "customer": 300, "supplier": 20,
    "part": 400, "orders": 3000, "lineitem": 12000, "events": 2000,
    "documents": 100, "embeddings": 100,
}
GOSALES_SOURCES = ("lineitem", "orders", "part", "supplier", "nation", "region")

VOCAB = (
    "key agg row scan slow fast table value part hash a the b big small "
    "merge join filter column window batch spark order data line customer "
    "query stream group vector"
).split()
MKTSEG = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["STANDARD", "LARGE", "MEDIUM", "SMALL", "PROMO", "ECONOMY"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "zh", "fr", "es"]
PCOLORS = ["small", "red", "blue", "green", "large", "shiny", "dull", "old"]
PNOUNS = ["ring", "widget", "bolt", "gear", "cog", "pin", "cap", "rod"]


def _pick(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[idx], pa.string())


def _days(base: str, days: np.ndarray) -> pa.Array:
    ts = np.datetime64(base, "us") + days.astype("timedelta64[D]")
    return pa.array(ts, pa.timestamp("us"))


def tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    })

    n = ROWS["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n), 2),
        "c_mktsegment": _pick(MKTSEG, rng.integers(0, 5, n)),
    })

    n = ROWS["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(0, 10000, n), 2),
    })

    n = ROWS["part"]
    colors = np.asarray(PCOLORS, dtype=object)[rng.integers(0, 8, n)]
    nouns = np.asarray(PNOUNS, dtype=object)[rng.integers(0, 8, n)]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": pa.array(colors + " " + nouns, pa.string()),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n)],
        "p_type": _pick(PTYPES, rng.integers(0, 6, n)),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n) * 0.1, 2),
    })

    n = ROWS["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": _pick(["O", "F", "P"], rng.integers(0, 3, n)),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2405, n)),
        "o_orderpriority": _pick(PRIOS, rng.integers(0, 5, n)),
    })

    n = ROWS["lineitem"]
    lok = np.sort(rng.integers(0, ROWS["orders"], n))
    # l_linenumber counts 1..k within each order (keys are sorted)
    first = np.r_[True, lok[1:] != lok[:-1]]
    group_start = np.maximum.accumulate(np.where(first, np.arange(n), 0))
    linenumber = np.arange(n) - group_start + 1
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(np.minimum(linenumber, 7), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n)),
        "l_linestatus": _pick(["O", "F"], rng.integers(0, 2, n)),
        "l_shipdate": _days("1995-01-01", rng.integers(1, 2500, n)),
    })

    n = ROWS["events"]
    micros = np.sort(rng.uniform(0, 30 * 86400, n)) * 1e6
    ts = np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": _pick(ETYPES, rng.integers(0, 5, n)),
        "value": np.round(rng.uniform(0.01, 500.0, n), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
    })

    n = ROWS["documents"]
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))])
        for _ in range(n)
    ]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _pick(LANGS, rng.choice(5, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    n = ROWS["embeddings"]
    emb = rng.uniform(-0.53, 0.46, (n, 64)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })
    return out


def write(seed: int, out_dir: str) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; returns the bytes
    written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(seed).items():
        path = f"{out_dir}/{name}.parquet"
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    print(write(int(sys.argv[1]), sys.argv[2]))
