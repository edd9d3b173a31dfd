"""Seeded benchmark corpus in the ten-table layout the library reads.

A uniform TPC-H-style star schema plus `events`, `documents` and
`embeddings`, one parquet file per table (`<dir>/<table>.parquet`), so
Spark's `sources.Tables` and a plain DuckDB path read the same files. Row
counts scale with `sf` like the fixture corpora: sf 0.01 gives 15k orders,
~60k lineitems, 10k events, 500 documents and 500 vectors. A tenth of the
documents near-duplicate an earlier one (one or two words changed) and a
fiftieth copy one exactly, so the dedup and clustering paths have
clusters to find. The same seed gives byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("key agg row scan slow fast table value part hash merge batch line sort "
         "window spark order data column join small customer query big group "
         "stream filter vector the a").split()


def _write(out_dir, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), os.path.join(out_dir, f"{name}.parquet"))


def _round2(x):
    return np.round(x, 2)


def generate(out_dir, seed, sf=0.01):
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)

    def n(base):
        return max(1, int(round(base * sf)))

    n_cust, n_supp, n_part, n_ord = n(150000), n(10000), n(200000), n(1500000)
    n_events, n_users, n_docs, n_vecs = n(1000000), n(15000), n(50000), n(50000)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(out_dir, "region", [list(range(5)), regions],
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(out_dir, "nation", [list(range(25)), [f"NATION_{i}" for i in range(25)],
                               [i % 5 for i in range(25)]],
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(out_dir, "customer", [
        np.arange(n_cust), [f"Customer#{i:09d}" for i in range(n_cust)],
        rng.integers(0, 25, n_cust), _round2(rng.random(n_cust) * 10999.98 - 999.99),
        segments[rng.integers(0, 5, n_cust)]],
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(out_dir, "supplier", [
        np.arange(n_supp), [f"Supplier#{i:09d}" for i in range(n_supp)],
        rng.integers(0, 25, n_supp), _round2(rng.random(n_supp) * 10999.98 - 999.99)],
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))

    adjs = np.array(["small", "red", "blue", "green", "large", "tiny", "dark", "pale"])
    nouns = np.array(["ring", "widget", "bolt", "gear", "cog", "plate", "nut", "pin"])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    retail = _round2(900.0 + (np.arange(n_part) % 1000) / 10.0)
    _write(out_dir, "part", [
        np.arange(n_part),
        np.char.add(np.char.add(adjs[rng.integers(0, 8, n_part)], " "), nouns[rng.integers(0, 8, n_part)]),
        np.char.add("Brand#", (1 + rng.integers(0, 25, n_part)).astype(str)),
        ptypes[rng.integers(0, 6, n_part)], 1 + rng.integers(0, 50, n_part), retail],
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s),
                   ("p_size", i32), ("p_retailprice", f64)]))

    day0 = np.datetime64("1995-01-01T00:00:00", "us")
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(out_dir, "orders", [
        np.arange(n_ord), rng.integers(0, n_cust, n_ord), np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        _round2(1000.0 + rng.random(n_ord) * 499000.0), odate, prios[rng.integers(0, 5, n_ord)]],
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))

    lines = 1 + rng.integers(0, 7, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    n_li = len(okey)
    linenum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    pk = rng.integers(0, n_part, n_li)
    qty = (1 + rng.integers(0, 50, n_li)).astype(np.float64)
    _write(out_dir, "lineitem", [
        okey, pk, rng.integers(0, n_supp, n_li), linenum, qty, _round2(qty * retail[pk]),
        rng.integers(0, 11, n_li) / 100.0, rng.integers(0, 9, n_li) / 100.0,
        np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        np.repeat(odate, lines) + (1 + rng.integers(0, 121, n_li)).astype("timedelta64[D]")],
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32),
                   ("l_quantity", f64), ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))

    ev0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = ev0 + np.sort(rng.integers(0, 30 * 24 * 3600 * 10**6, n_events)).astype("timedelta64[us]")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(out_dir, "events", [
        np.arange(n_events), ev_ts, rng.integers(0, n_users, n_events), etypes[rng.integers(0, 5, n_events)],
        _round2(0.01 + rng.random(n_events) * 490.0), [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]],
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s),
                   ("value", f64), ("props", s)]))

    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.02:
            texts.append(texts[rng.integers(0, i)])
        elif i > 0 and r < 0.12:
            w = texts[rng.integers(0, i)].split(" ")
            for _ in range(1 + rng.integers(0, 2)):
                w[rng.integers(0, len(w))] = words[rng.integers(0, len(words))]
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), 8 + rng.integers(0, 90))]))
    langs = np.array(["de", "en", "en", "es", "fr", "zh"])
    _write(out_dir, "documents", [
        np.arange(n_docs), texts, langs[rng.integers(0, len(langs), n_docs)],
        [f"src{i % 20}" for i in range(n_docs)], [len(t) for t in texts]],
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))

    dim = 64
    centroids = rng.standard_normal((10, dim))
    label = rng.integers(0, 10, n_vecs)
    v = centroids[label] + rng.standard_normal((n_vecs, dim)) * 0.6
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(np.arange(0, (n_vecs + 1) * dim, dim, dtype=np.int32),
                                   pa.array(v.reshape(-1), pa.float32()))
    _write(out_dir, "embeddings", [np.arange(n_vecs), emb, label],
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
