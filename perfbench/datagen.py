"""Seeded generator for the benchmark's input tables.

The engine reads ten parquet tables (schemas in FIXTURES.md).  This
module draws them from a seed, so the benchmark never depends on data
outside its checkout and the same seed always gives byte-identical
files.  Row counts, key ranges and value sets follow the sf0.1 shape
the queries were written for:

- dimension tables (region, nation, supplier, customer, part) and the
  text/vector tables (documents, embeddings) come from one random
  stream, the fact tables (orders, lineitem, events) from a second one;
- every foreign key points into its dimension table.

Run ``python3 perfbench/datagen.py DST --seed N`` to write one
directory by hand.
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SUPPLIER = 1_000
N_CUSTOMER = 15_000
N_PART = 20_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_EVENTS = 100_000
N_USERS = 1_500
N_DOCUMENTS = 5_000
N_NEAR_DUPS = 250
N_EXACT_DUPS = 8
N_EMBEDDINGS = 2_000
EMBED_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

DIM_TABLES = ("region", "nation", "supplier", "customer", "part", "documents", "embeddings")
FACT_TABLES = ("orders", "lineitem", "events")
TABLES = DIM_TABLES + FACT_TABLES

_TS_US = pa.timestamp("us")
_DAY_US = 86_400_000_000


def _epoch_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo = _epoch_us(first) // _DAY_US
    hi = _epoch_us(last) // _DAY_US
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, _TS_US)


def _labels(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}{i:09d}" for i in range(n)], pa.string())


def gen_dims(rng: np.random.Generator) -> dict[str, pa.Table]:
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(N_SUPPLIER), pa.int64()),
                "s_name": _labels("Supplier#", N_SUPPLIER),
                "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(N_CUSTOMER), pa.int64()),
                "c_name": _labels("Customer#", N_CUSTOMER),
                "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
                "c_mktsegment": _pick(rng, SEGMENTS, N_CUSTOMER),
            }
        ),
    }
    adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, N_PART)]
    noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, N_PART)]
    keys = np.arange(N_PART)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(adj + " " + noun, pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, N_PART)]),
            "p_type": _pick(rng, PART_TYPES, N_PART),
            "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    out["documents"] = gen_documents(rng)
    vecs = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(N_EMBEDDINGS), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(vecs.ravel(), pa.float32()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32()),
        }
    )
    return out


def gen_documents(rng: np.random.Generator) -> pa.Table:
    """Documents over a fixed 30-word vocabulary.  ``N_NEAR_DUPS`` rows
    copy an earlier row and append the token ``dup`` (near duplicates
    for the MinHash/all-pairs operators); ``N_EXACT_DUPS`` rows copy an
    earlier row verbatim (exact duplicates)."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(VOCAB), k)])
        for k in rng.integers(10, 101, N_DOCUMENTS)
    ]
    copies = rng.choice(np.arange(N_DOCUMENTS // 2, N_DOCUMENTS), N_NEAR_DUPS + N_EXACT_DUPS, replace=False)
    for j, dst in enumerate(copies):
        src = int(rng.integers(0, N_DOCUMENTS // 2))
        texts[dst] = texts[src] + (" dup" if j < N_NEAR_DUPS else "")
    return pa.table(
        {
            "doc_id": pa.array(np.arange(N_DOCUMENTS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, N_DOCUMENTS, p=LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(N_DOCUMENTS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_facts(rng: np.random.Generator) -> dict[str, pa.Table]:
    orders = pa.table(
        {
            "o_orderkey": pa.array(np.arange(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], N_ORDERS),
            "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
            "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
        }
    )
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
            "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, N_LINEITEM),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], N_LINEITEM),
            "l_linestatus": _pick(rng, ["F", "O"], N_LINEITEM),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", N_LINEITEM),
        }
    )
    t0 = _epoch_us("2024-01-01")
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, N_EVENTS))
    events = pa.table(
        {
            "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, _TS_US),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": _pick(rng, EVENT_TYPES, N_EVENTS),
            "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
        }
    )
    return {"orders": orders, "lineitem": lineitem, "events": events}


def _dict_columns(schema: pa.Schema) -> list[str]:
    # dictionary-encode strings only: trying it on high-cardinality
    # numeric columns doubles the write time for no size gain
    return [f.name for f in schema if f.type == pa.string()]


def generate(dst: str, seed: int) -> None:
    """Write all ten tables for ``seed`` into ``dst``.  The write goes to
    a sibling directory that is renamed into place last, so an
    interrupted run never leaves a half-written ``dst`` behind."""
    dims, facts = np.random.SeedSequence([seed, 0x5EED]).spawn(2)
    tmp = f"{dst}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = {**gen_dims(np.random.default_rng(dims)), **gen_facts(np.random.default_rng(facts))}
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"), use_dictionary=_dict_columns(tbl.schema))
    shutil.rmtree(dst, ignore_errors=True)
    os.replace(tmp, dst)


def ensure(cache_root: str, seed: int, keep: int = 2) -> str:
    """Return the data directory for ``seed``, generating it on a cache
    miss.  At most ``keep`` directories stay cached."""
    dst = os.path.join(cache_root, f"seed{seed}")
    if not os.path.exists(os.path.join(dst, "lineitem.parquet")):
        os.makedirs(cache_root, exist_ok=True)
        generate(dst, seed)
    older = sorted(
        (os.path.join(cache_root, d) for d in os.listdir(cache_root) if d != os.path.basename(dst)),
        key=os.path.getmtime,
    )
    for stale in older[: max(0, len(older) - (keep - 1))]:
        shutil.rmtree(stale, ignore_errors=True)
    os.utime(dst)
    return dst


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("dst")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    generate(a.dst, a.seed)


if __name__ == "__main__":
    main()
