"""Deterministic synthetic fixture in the schema of the graft test tables
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings; FIXTURES.md), one single-row-group parquet file
per table.

Usage: python3 perfbench/gen_data.py <out_dir> <scale_factor> [table,...]

Row counts follow the TPC-H ratios (lineitem = 6,000,000 x sf); the
value domains are the ones the declared queries and their oracles
assume: lineitem is unique on (l_orderkey, l_linenumber,
l_extendedprice), events are ordered by event_id with distinct
microsecond timestamps inside January 2024, 5 % of the documents repeat
an earlier document's text plus the token "dup", and embeddings are
64-dimensional unit vectors.  Two of these depart from FIXTURES.md,
whose documents all have distinct texts and whose embedding values are
about N(0, 0.15): the repeated texts give the dedup queries clusters to
find, and unit vectors make cosine equal to the dot product.  The
generator seed is fixed: the same scale factor always gives the same
rows.
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20240101
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()


def _days(rng, lo, hi, n):
    """n midnight timestamps (µs) drawn uniformly from [lo, hi]."""
    lo_d = (lo - dt.date(1970, 1, 1)).days
    hi_d = (hi - dt.date(1970, 1, 1)).days
    d = rng.integers(lo_d, hi_d + 1, n).astype("int64")
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def tables(sf):
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    ok = rng.integers(0, n_ord, n_li).astype("int64")
    ln = rng.integers(1, 8, n_li).astype("int32")
    ep = _money(rng, 900.0, 105000.0, n_li)
    # the row key (l_orderkey, l_linenumber, l_extendedprice) must be unique
    _, first = np.unique(np.stack([ok, ln, np.round(ep * 100).astype("int64")]),
                         axis=1, return_index=True)
    keep = np.sort(first)
    n_li = len(keep)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(ok[keep]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
        "l_linenumber": pa.array(ln[keep]),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": ep[keep],
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_li)})
    t0 = int(dt.datetime(2024, 1, 1).timestamp()) * 1_000_000
    ts = np.unique(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev + n_ev // 100))
    ts = np.sort(rng.choice(ts, n_ev, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev).astype("int64")),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    texts = []
    is_dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if is_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_tok = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok)))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype="int64")),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, ["de", "en", "es", "fr", "zh"], n_doc,
                      p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    v = rng.standard_normal((n_vec, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype="int64")),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, 64 * n_vec + 1, 64, dtype="int32")),
            pa.array(v.reshape(-1))),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32())})
    return out


def main(out_dir, sf, only=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        if only is not None and name not in only:
            continue
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]),
         sys.argv[3].split(",") if len(sys.argv) > 3 else None)
