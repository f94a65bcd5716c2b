"""Seeded generator for the star schema, documents and embeddings.

Writes one parquet file per table in the FIXTURES.md section B schemas
(``region nation customer supplier part orders lineitem events documents
embeddings``) at scale factor ``sf``.  Row counts follow sf0.1 = 15,000
customers, 150,000 orders, 600,000 lineitems, 5,000 documents and 2,000
embeddings, scaled linearly.  The shapes follow
``scripts/gen_scale_fixtures.py``, with the literal values the registered
queries filter on (two-word part names such as ``red widget``,
``NATION_4``, order dates from 1995): about four lineitems per order (the
co-purchase wedge shape), ~80-character zipf term-soup documents with a
planted 5 % near-duplicate tail (one term perturbed), and 64-d embeddings
drawn around 10 cluster centres.  The same ``(seed, sf)`` gives
byte-identical files.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed> <sf>
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECI", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["de", "en", "es", "fr", "zh"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["small", "red", "blue", "hot", "green", "big", "cold", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
DATE_DAYS = 2404  # order and ship dates span 1995-01-01 .. mid-2001
NEAR_DUP_SHARE = 20  # one document in 20 is a planted near-duplicate


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def _days_ms(days: np.ndarray, base: str) -> pa.Array:
    base_ms = np.datetime64(base, "ms").astype("int64")
    return pa.array(base_ms + days.astype("int64") * 86_400_000, pa.timestamp("ms"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables, generated in a fixed order from one seeded stream."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(10, int(200_000 * sf))
    n_ord = max(20, int(1_500_000 * sf))
    n_li = max(80, int(6_000_000 * sf))
    n_ev = max(20, int(1_000_000 * sf))
    n_doc = max(40, int(50_000 * sf))
    n_emb = max(20, int(20_000 * sf))
    n_user = max(1, int(15_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(1, n_supp + 1)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, n_supp),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(1, n_part + 1), pa.int64()),
        "p_name": pa.array(np.char.add(
            np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, n_part)], " "),
            np.array(PART_NOUN)[rng.integers(0, 8, n_part)],
        )),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": _money(rng, 900, 2100, n_part),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_ord + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 400_000, n_ord),
        "o_orderdate": _days_ms(rng.integers(0, DATE_DAYS, n_ord), "1995-01-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    # ~4 lineitems per order; linenumber = rank within the order
    li_order = np.sort(rng.integers(1, n_ord + 1, n_li))
    _, first = np.unique(li_order, return_index=True)
    linenumber = np.arange(n_li) - np.repeat(first, np.diff(np.append(first, n_li))) + 1
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, n_part + 1, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105_000, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days_ms(rng.integers(1, DATE_DAYS + 95, n_li), "1995-01-01"),
    })
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype("int64")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(1, n_ev + 1), pa.int64()),
        "ts": pa.array(ts0 + rng.integers(0, n_ev, n_ev) * 60_000_000, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(1, n_user + 1, n_ev), pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES)[
            rng.choice(5, n_ev, p=[0.5, 0.2, 0.15, 0.1, 0.05])]),
        "value": np.round(rng.uniform(0, 500, n_ev), 6),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
    })
    out["documents"] = _documents(rng, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = (centers[labels] + rng.normal(0, 0.6, (n_emb, 64))).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(1, n_emb + 1), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def _documents(rng: np.random.Generator, n_doc: int) -> pa.Table:
    """12 zipf-drawn vocabulary terms per document; the last 1/20 of the
    rows are near-duplicates of earlier rows with one term replaced."""
    vocab = np.array([f"term{i:04d}" for i in range(1000)])
    zipf = 1.0 / np.arange(1, 1001)
    terms = rng.choice(1000, (n_doc, 12), p=zipf / zipf.sum())
    n_dup = n_doc // NEAR_DUP_SHARE
    src = rng.integers(0, n_doc - n_dup, n_dup)
    slot = rng.integers(0, 12, n_dup)
    repl = rng.integers(0, 1000, n_dup)
    dup_rows = np.arange(n_doc - n_dup, n_doc)
    terms[dup_rows] = terms[src]
    terms[dup_rows, slot] = repl
    texts = [" ".join(row) for row in vocab[terms]]
    return pa.table({
        "doc_id": pa.array(np.arange(1, n_doc + 1), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit(__doc__)
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
