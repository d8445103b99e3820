"""Seeded generator for the benchmark's input tables.

Writes the ten tables the query registry reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas of ``sources.registry.TABLES`` and the
value distributions of the TPC-H-ish test data the oracle gates use:
uniform keys, 1995-2001 order and ship dates, a 30-word document
vocabulary with 5 % near-duplicates (an earlier document plus " dup"),
unit-norm 64-d embeddings and one month of events.

Row counts scale linearly with ``sf`` (lineitem = 6M x sf). The same
``(seed, sf)`` always gives byte-identical tables.

Usage: python3 perfbench/gen.py OUT_DIR SF SEED
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "old", "red", "small", "tiny"]
PART_NOUN = ["bolt", "gear", "nut", "pipe", "plate", "ring", "screw", "spring"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in epoch micros
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), values).cast(pa.string())


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Build every table in memory; independent streams per table."""
    root = np.random.SeedSequence(seed)
    rngs = dict(
        zip(
            ["customer", "supplier", "part", "orders", "lineitem", "events",
             "documents", "embeddings"],
            (np.random.default_rng(s) for s in root.spawn(8)),
        )
    )
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 40)
    n_ev = max(int(1_000_000 * sf), 10)
    n_doc = max(int(50_000 * sf), 20)
    n_emb = max(int(20_000 * sf), 10)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )

    r = rngs["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(r, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(r, SEGMENTS, n_cust),
        }
    )

    r = rngs["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(r, -999.99, 9999.99, n_supp),
        }
    )

    r = rngs["part"]
    keys = np.arange(n_part)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(r, names, n_part),
            "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(r, PART_TYPES, n_part),
            "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
        }
    )

    r = rngs["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(r, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + r.integers(0, 2404, n_ord) * _DAY_US),
            "o_orderpriority": _pick(r, PRIORITIES, n_ord),
        }
    )

    r = rngs["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
            "l_quantity": r.integers(1, 51, n_line).astype("float64"),
            "l_extendedprice": _money(r, 900.0, 105_000.0, n_line),
            "l_discount": r.integers(0, 11, n_line) / 100.0,
            "l_tax": r.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(r, ["F", "O"], n_line),
            "l_shipdate": _ts(_EPOCH_1995 + r.integers(1, 2499, n_line) * _DAY_US),
        }
    )

    r = rngs["events"]
    span = 30 * _DAY_US
    ts = np.sort(r.integers(0, span, n_ev)) + _EPOCH_2024
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ts),
            "user_id": pa.array(r.integers(0, 1500, n_ev), pa.int64()),
            "event_type": _pick(r, EVENT_TYPES, n_ev),
            "value": np.round(r.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)],
        }
    )

    r = rngs["documents"]
    lengths = r.integers(10, 101, n_doc)
    words = r.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB)
    texts: list[str] = []
    offset = 0
    is_dup = r.random(n_doc) < 0.05
    dup_of = r.integers(0, np.maximum(np.arange(n_doc), 1))
    for i in range(n_doc):
        n = lengths[i]
        if is_dup[i] and i > 0:
            texts.append(texts[dup_of[i]] + " dup")
        else:
            texts.append(" ".join(vocab[words[offset : offset + n]]))
        offset += n
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": _pick(r, LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )

    r = rngs["embeddings"]
    vecs = r.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype("float32").ravel(), pa.float32())
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, 64 * n_emb + 1, 64), pa.int32()), flat
            ),
            "label": pa.array(r.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def write(out_dir: str, sf: float, seed: int) -> int:
    """Write every table under ``out_dir``; return the bytes written.

    Row groups hold 256k rows so a large table splits across tasks the
    way a multi-file dataset would.
    """
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in tables(sf, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, row_group_size=262_144)
        total += os.path.getsize(path)
    return total


if __name__ == "__main__":
    size = write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
    print(f"{size / 1e6:.1f} MB")
