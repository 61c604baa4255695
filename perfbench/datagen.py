"""Deterministic synthetic tables for the benchmark.

Writes the ten tables that ``__spark_entry__.queries()`` reads (a TPC-H-style
star schema plus ``events``, ``documents`` and ``embeddings``) as one parquet
file each. With seed 42 it reproduces the repository's test data: at sf0.001,
sf0.01 and sf0.1 each file is byte for byte the test data's file
(``perfbench/datacheck.py`` checks this against a copy). Row counts scale
with ``sf``: sf0.1 gives 600k lineitem rows.

Usage: python3 perfbench/datagen.py <out_dir> [sf] [seed]
"""

from __future__ import annotations

import os
import shutil
import sys

import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")

# Category lists are in the order the test data's generator indexes them.
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
_PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
_ORDER_STATUS = ["O", "F", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_RETURN_FLAGS = ["R", "A", "N"]
_LINE_STATUS = ["O", "F"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_VOCAB = ("the a spark query table join group filter window data order customer "
          "part line fast slow big small hash sort merge scan agg stream batch "
          "vector key value row column").split()
# English three times in seven, the other four once each
_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]


def _dates(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[s]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    """All ten tables. Every column draws from one generator in a fixed
    order, so each table depends on the ones made before it."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32
    out: dict[str, pd.DataFrame] = {}

    out["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS})
    nk = np.arange(25, dtype=i32)
    out["nation"] = pd.DataFrame({"n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk],
                              "n_regionkey": nk % 5})

    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })

    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{k:09d}" for k in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })

    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = _pick(rng, _ADJ, n_part), _pick(rng, _NOUN, n_part)
    out["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })

    out["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, _ORDER_STATUS, n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })

    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        # rounded uniforms: the end values 0.00 and 0.10 get half weight
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
        "l_returnflag": _pick(rng, _RETURN_FLAGS, n_li),
        "l_linestatus": _pick(rng, _LINE_STATUS, n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
    })

    # 30 days of events in time order, in nanoseconds (stored truncated to
    # microseconds)
    secs = np.sort(rng.uniform(0, 30 * 86_400, n_ev))
    ts = np.datetime64("2024-01-01", "ns") + (secs * 1e9).astype("timedelta64[ns]")
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })

    # 10-99 words per document; then 5% of the documents are overwritten, in
    # turn, with another document's current text plus " dup": the
    # near-duplicates the MinHash dedup must collapse
    texts = []
    for _ in range(n_doc):
        words = _pick(rng, _VOCAB, int(rng.integers(10, 100)))
        texts.append(" ".join(words))
    n_dup = int(0.05 * n_doc)
    dst = rng.choice(n_doc, n_dup, replace=False)
    for d, s in zip(dst, rng.integers(0, n_doc, n_dup)):
        texts[d] = texts[s] + " dup"
    did = np.arange(n_doc, dtype=np.int64)
    out["documents"] = pd.DataFrame({
        "doc_id": did,
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc),
        "source": [f"src{k % 20}" for k in did],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(i32),
    })
    return out


def ensure(out_dir: str, sf: float, seed: int) -> str:
    """Write the tables under ``out_dir`` unless a complete copy is there.
    Writes into a temporary sibling and renames it, so an interrupted run
    never leaves a partial data set behind."""
    if all(os.path.exists(os.path.join(out_dir, f"{t}.parquet")) for t in TABLES):
        return out_dir
    tmp = f"{out_dir}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, df in tables(sf, seed).items():
        # as the test data was written: microsecond timestamps, pandas
        # metadata, no index column
        df.to_parquet(os.path.join(tmp, f"{name}.parquet"), index=False,
                      coerce_timestamps="us", allow_truncated_timestamps=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.replace(tmp, out_dir)
    return out_dir


if __name__ == "__main__":
    ensure(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1,
           int(sys.argv[3]) if len(sys.argv) > 3 else 42)
