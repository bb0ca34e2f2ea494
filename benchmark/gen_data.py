"""Deterministic sf0.1 input tables for the benchmark.

Writes the ten tables graft's queries read (`region` … `embeddings`), one
single-row-group parquet file each, with the column names and types of
the TPC-H-shaped star schema plus the `events`, `documents` and
`embeddings` tables. Row counts and value ranges follow the sf0.1
envelopes (600k lineitem, 150k orders over 80 months, 100k events over
30 days, 5k documents over a 31-word vocabulary with ~0.2% exact
duplicates, 2k 64-dim embeddings in 10 label clusters).

The generator seed is fixed: every benchmark run reads the same tables,
and `--seed` only chooses the operation order and the rows a lakehouse
round touches. Usage: gen_data.py <outDir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
SF = 0.1
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]


def _write(out, name, cols):
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, tbl.num_rows))


def _ts(base, offsets, unit):
    """TIMESTAMP(us) column: `base` (numpy datetime64) + integer offsets."""
    v = (np.datetime64(base, "us") + offsets.astype(f"timedelta64[{unit}]")
         ).astype("datetime64[us]")
    return pa.array(v, type=pa.timestamp("us"))


def _pick(rng, vals, n):
    return pa.array(np.asarray(vals, dtype=object)[rng.integers(0, len(vals), n)],
                    type=pa.string())


def generate(out):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(GEN_SEED)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_orders, n_events, n_users = int(1500000 * SF), int(1000000 * SF), int(15000 * SF)
    n_docs, n_vecs = int(50000 * SF), int(20000 * SF)

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    ck = np.arange(n_cust, dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array([f"Customer#{i:09d}" for i in ck]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.random(n_cust) * 10999.65 - 999.85, 2)),
        "c_mktsegment": _pick(rng, ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                    "BUILDING", "FURNITURE"], n_cust)})

    sk = np.arange(n_supp, dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in sk]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.random(n_supp) * 9000.0 + 1000.0, 2))})

    adjs = ["large", "hot", "blue", "old", "red", "dim", "new", "cold"]
    nouns = ["ring", "bolt", "plate", "cog", "gear", "pipe", "tube", "rod"]
    pk = np.arange(n_part, dtype=np.int64)
    a, b = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{adjs[i]} {nouns[j]}" for i, j in zip(a, b)]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})

    # orders span 1995-01-01 .. 2001-08-01: 2,404 days = 80 calendar months
    ok = np.arange(n_orders, dtype=np.int64)
    odays = rng.integers(0, 2404, n_orders)
    _write(out, "orders", {
        "o_orderkey": pa.array(ok),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": _pick(rng, ["O", "P", "F"], n_orders),
        "o_totalprice": pa.array(np.round(rng.random(n_orders) * 499000.0 + 1000.0, 2)),
        "o_orderdate": _ts("1995-01-01", odays, "D"),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_orders)})

    # 0..7 lines per order (mean 4), rows shuffled like the reference file
    nl = np.minimum(rng.poisson(4.0, n_orders), 7)
    l_ok = np.repeat(ok, nl)
    l_ln = (np.arange(l_ok.size) - np.repeat(np.cumsum(nl) - nl, nl) + 1).astype(np.int32)
    n_li = l_ok.size
    perm = rng.permutation(n_li)
    l_ok, l_ln = l_ok[perm], l_ln[perm]
    _write(out, "lineitem", {
        "l_orderkey": pa.array(l_ok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_ln),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.random(n_li) * 104099.23 + 900.68, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["N", "A", "R"], n_li),
        "l_linestatus": _pick(rng, ["O", "F"], n_li),
        "l_shipdate": _ts("1995-01-01", odays[l_ok] + rng.integers(1, 96, n_li), "D")})

    # events: 30 days from 2024-01-01 at microsecond resolution, time-ordered
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts("2024-01-01", ev_us, "us"),
        "user_id": pa.array(rng.integers(0, n_users, n_events).astype(np.int64)),
        "event_type": _pick(rng, ["click", "view", "purchase", "signup", "error"],
                            n_events),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)])})

    # documents: 8..98 words each; every 500th doc copies its predecessor
    words = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n_docs):
        if i % 500 == 499:
            texts.append(texts[-1])
        else:
            texts.append(" ".join(words[rng.integers(0, len(VOCAB), rng.integers(8, 99))]))
    langs = np.where(rng.random(n_docs) < 0.41, "en",
                     np.asarray(["zh", "es", "fr", "de"], dtype=object)[
                         rng.integers(0, 4, n_docs)])
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.astype(object), type=pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    # embeddings: label centre + per-vector noise, 64 dims, float32
    labels = np.arange(n_vecs) % 10
    centres = rng.uniform(-1.0, 1.0, (10, 64)) * 0.3
    vecs = (centres[labels] + rng.normal(0.0, 0.1, (n_vecs, 64))).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})


if __name__ == "__main__":
    generate(sys.argv[1])
