"""Build the ADVERSARIAL SKEW rung: sf0.1-volume-equivalent data whose key
distributions are zipfian/hot instead of uniform — 100-TB corpora are
zipfian, and the uniform sf1 rung cannot exercise AQE skew handling, the
LSH hot-bucket cap, or partial-aggregation behavior on hot groupby keys.

Planted shapes (all deterministic, hash-seeded — no RNG):

- orders.o_custkey: ~20% of orders belong to ONE hot customer (key 7) —
  a hot PROBE key for the broadcast customer joins and a mega-group for
  q13's per-customer count.
- lineitem.l_orderkey: ~20% of lineitems point to ONE hot order — the hot
  join key in the big-big orders⋈lineitem shuffle join (AQE skew-join
  territory) and a mega-group for q18's per-order sum.
- lineitem.l_suppkey: ~20% hot supplier (q21's groupby).
- lineitem.l_partkey: zipf-1.2 redistribution over the full part range
  (inverse-CDF of the continuous zipf, hash-seeded).
- events.user_id: zipf-1.2 (window/groupby family).
- documents: 50% of docs (2500) form ONE boilerplate mega-cluster with
  IDENTICAL text — 5x the 500-doc bucket cap the skew rung used to prove
  minhash_candidate_pairs' hot-bucket star path end-to-end (the tests keep
  that proof at small N); the other 2500 docs are a 90%-duplicate corpus
  (250 unique texts x 10 exact copies).
- region/nation/customer/supplier/part/embeddings: copied unchanged
  (dimension tables stay uniform; the skew lives in the fact keys).

Volume is IDENTICAL to sf0.1 per table, so per-query wall times are
directly comparable to the uniform rung (BASELINE_LOCAL_r07.json).

Output: /root/repo/.localdata/skew/*.parquet (gitignored).
Usage:  python tools/make_skew.py
"""

from __future__ import annotations

import math
import os

import duckdb

SRC = "/root/testdata/sf0.1"
DST = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".localdata", "skew"
)

HOT_FRAC_PCT = 20  # hash(key) % 100 < 20 -> ~20% of rows on the hot key
ZIPF_S = 1.2
MEGA_CLUSTER = 2500  # boilerplate docs with identical text (5x the 500 cap)
DUP_UNIQUES = 250  # the other 2500 docs = 250 uniques x 10 copies (90% dup)


def zipf_expr(ukey: str, n: int, s: float = ZIPF_S) -> str:
    """Inverse-CDF of the continuous zipf on [1, n]:
    x = (1 + u*(n^(1-s) - 1))^(1/(1-s)), u uniform from a hash."""
    a = 1.0 - s  # negative
    c = n**a - 1.0  # in (-1, 0)
    u = f"((hash({ukey}) % 1000003 + 1000003) % 1000003 + 0.5) / 1000003.0"
    return (
        f"least({n}, greatest(1, CAST(pow(1.0 + ({u}) * ({c!r}), {1.0 / a!r}) AS BIGINT)))"
    )


def hot_expr(ukey: str, salt: int, hot_val: str, keep: str) -> str:
    return (
        f"CASE WHEN (hash({ukey} + {salt}) % 100 + 100) % 100 < {HOT_FRAC_PCT} "
        f"THEN {hot_val} ELSE {keep} END"
    )


def main() -> None:
    os.makedirs(DST, exist_ok=True)
    con = duckdb.connect()
    rp = lambda t: f"read_parquet('{SRC}/{t}.parquet')"

    for t in ("region", "nation", "customer", "supplier", "part", "embeddings"):
        con.sql(f"COPY (SELECT * FROM {rp(t)}) TO '{DST}/{t}.parquet' (FORMAT PARQUET)")

    n_part = con.sql(f"SELECT MAX(p_partkey) FROM {rp('part')}").fetchone()[0]
    n_user = con.sql(f"SELECT MAX(user_id) FROM {rp('events')}").fetchone()[0]
    hot_order = con.sql(f"SELECT MIN(o_orderkey) FROM {rp('orders')}").fetchone()[0]

    def emit(t: str, select: str, src: str | None = None) -> None:
        con.sql(
            f"COPY (SELECT {select} FROM {src or rp(t)}) TO '{DST}/{t}.parquet' (FORMAT PARQUET)"
        )
        n = con.sql(f"SELECT COUNT(*) FROM read_parquet('{DST}/{t}.parquet')").fetchone()[0]
        print(f"{t}: {n} rows")

    emit(
        "orders",
        "o_orderkey, "
        + hot_expr("o_orderkey", 11, "7", "o_custkey")
        + " AS o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority",
    )
    emit(
        "lineitem",
        hot_expr("l_orderkey * 7 + l_linenumber", 23, str(hot_order), "l_orderkey")
        + " AS l_orderkey, "
        + zipf_expr("l_partkey * 13 + l_linenumber", n_part)
        + " AS l_partkey, "
        + hot_expr("l_orderkey * 3 + l_linenumber", 37, "7", "l_suppkey")
        + " AS l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate",
    )
    emit(
        "events",
        "event_id, ts, "
        + zipf_expr("event_id * 17", n_user)
        + " AS user_id, event_type, value, props",
    )
    # documents: mega-cluster + 90%-dup corpus. Boilerplate text is long
    # enough (60 words) that every 5-shingle window is shared -> identical
    # minhash signatures -> ONE 2500-doc bucket in every band.
    boiler = " ".join(
        f"boilerplate legal footer clause w{i} shared across every scraped page"
        for i in range(10)
    )
    emit(
        "documents",
        f"""doc_id,
            CASE
              WHEN doc_id < {MEGA_CLUSTER} THEN '{boiler}'
              ELSE base.btext
            END AS text,
            lang, source,
            CASE
              WHEN doc_id < {MEGA_CLUSTER} THEN {len(boiler)}
              ELSE length(base.btext)
            END AS n_chars""",
        src=(
            f"{rp('documents')} d LEFT JOIN ("
            f"  SELECT doc_id AS bid, text AS btext FROM {rp('documents')}"
            f"  WHERE doc_id >= {MEGA_CLUSTER} AND doc_id < {MEGA_CLUSTER + DUP_UNIQUES}"
            f") base ON base.bid = {MEGA_CLUSTER} + (d.doc_id % {DUP_UNIQUES})"
        ),
    )
    print(f"skew rung written to {DST}")


if __name__ == "__main__":
    main()
