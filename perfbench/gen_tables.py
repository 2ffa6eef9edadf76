"""Seeded generator of the engine's synthetic star schema: the ten tables
of ``schemas.TESTDATA_SCHEMAS`` (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) as one Parquet
file each, in the layout ``sources.readers.load_tables`` reads.

Shapes follow the engine's usual test tables: TPC-H-like keys and
categorical domains scaled by ``sf`` (lineitem has 6,000,000 x sf rows);
an events stream over January 2024 with ``{"k": n}`` JSON props; 500
documents over a 30-word vocabulary with 5% near-duplicates (another
document's text plus `` dup``); 500 unit-norm 64-d float embeddings in
10 weakly separated labels. The same (seed, sf) gives the same files.

    python3 perfbench/gen_tables.py --seed 1 --sf 0.01 --out .perfbench_work/inputs/example
"""

from __future__ import annotations

import argparse
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["big", "blue", "cold", "green", "hot", "large", "old", "red", "small", "new"]
PART_NOUN = ["bolt", "gizmo", "plate", "ring", "rod", "widget", "gear"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
N_DOCS = 500
N_VECS = 500
EMB_DIM = 64

TS = pa.timestamp("us")
SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    "customer": [
        ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string()),
    ],
    "supplier": [
        ("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64()),
    ],
    "part": [
        ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ],
    "orders": [
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", TS), ("o_orderpriority", pa.string()),
    ],
    "lineitem": [
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()), ("l_shipdate", TS),
    ],
    "events": [
        ("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
    ],
    "documents": [
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ],
    "embeddings": [
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32()),
    ],
}


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo, hi = np.datetime64(first, "D"), np.datetime64(last, "D")
    days = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, dict]:
    """Column lists per table, deterministic in (seed, sf)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 10)
    n_part, n_ord = max(int(200_000 * sf), 10), max(int(1_500_000 * sf), 10)
    n_line, n_ev = max(int(6_000_000 * sf), 10), max(int(1_000_000 * sf), 10)
    n_users = max(int(15_000 * sf), 5)
    pick = lambda xs, n: np.asarray(xs, dtype=object)[rng.integers(0, len(xs), n)]  # noqa: E731

    out: dict[str, dict] = {}
    out["region"] = {"r_regionkey": np.arange(5), "r_name": REGIONS}
    out["nation"] = {
        "n_nationkey": np.arange(25),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": np.arange(25) % 5,
    }
    out["customer"] = {
        "c_custkey": np.arange(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": pick(SEGMENTS, n_cust),
    }
    out["supplier"] = {
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    }
    out["part"] = {
        "p_partkey": np.arange(n_part),
        "p_name": [f"{a} {b}" for a, b in zip(pick(PART_ADJ, n_part), pick(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pick(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    }
    out["orders"] = {
        "o_orderkey": np.arange(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pick(PRIORITIES, n_ord),
    }
    out["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line),
        "l_quantity": rng.integers(1, 51, n_line).astype(float),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0, 0.10, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    }
    month_us = 30 * 86_400 * 10**6
    out["events"] = {
        "event_id": np.arange(n_ev),
        "ts": np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, month_us, n_ev)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }

    texts = [
        " ".join(pick(WORDS, int(n))) for n in rng.integers(10, 100, N_DOCS)
    ]
    for i in rng.choice(np.arange(1, N_DOCS), N_DOCS // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    out["documents"] = {
        "doc_id": np.arange(N_DOCS),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": [len(t) for t in texts],
    }

    labels = rng.integers(0, 10, N_VECS)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    vecs = 0.15 * centroids[labels] + rng.normal(0.0, 1.0, (N_VECS, EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = {"vec_id": np.arange(N_VECS), "embedding": list(vecs), "label": labels}
    return out


def generate(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables under ``out_dir`` once per (seed, sf); returns it."""
    done = os.path.join(out_dir, "_SUCCESS")
    if os.path.exists(done):
        return out_dir
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, cols in tables(seed, sf).items():
        schema = pa.schema(SCHEMAS[name])
        arrays = [pa.array(cols[f.name], type=f.type) for f in schema]
        pq.write_table(pa.Table.from_arrays(arrays, schema=schema), f"{tmp}/{name}.parquet")
    with open(os.path.join(tmp, "_SUCCESS"), "w") as f:
        json.dump({"seed": seed, "sf": sf}, f)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    print(generate(args.out, args.seed, args.sf))


if __name__ == "__main__":
    main()
