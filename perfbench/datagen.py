"""Deterministic fixture generator for the benchmark.

Writes the ten parquet tables the engine reads (``region`` ... ``embeddings``)
with the same schemas and value distributions as the TPC-H-ish test
fixtures (see FIXTURES.md): independent uniform columns, ts-ordered events,
a 30-word template corpus with ~5% ``<copy> dup`` near-duplicates, and unit
64-d embeddings. The data seed is fixed, so output digests can be pinned;
the workload seed never reaches this module.

    python3 perfbench/datagen.py OUT_DIR [--sf 0.01]
"""

from __future__ import annotations

import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["widget", "bolt", "ring", "plate", "gear", "rod", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(sf: float) -> dict[str, pa.Table]:
    """All fixture tables at scale ``sf`` (sf=0.01: 60k lineitem rows)."""
    rng = np.random.default_rng(DATA_SEED)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1000, int(1_000_000 * sf))
    n_user = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_vec = max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * 86_400_000_000, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": rng.choice(EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    return out


def generate(out_dir: str, sf: float) -> str:
    """Write every table under ``out_dir`` unless a finished copy is there;
    return ``out_dir``. A ``_SUCCESS`` marker is written last, so an
    interrupted generation is redone rather than read half-written."""
    marker = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"sf={sf} seed={DATA_SEED}\n")
    return out_dir


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.01)
    args = ap.parse_args()
    print(generate(args.out_dir, args.sf))
