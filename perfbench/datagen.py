"""Seeded generator of graft's input tables and of each workload's requests.

The tables follow the schema graft's `sources.Tables` reads (a TPC-H-like
star schema plus `events`, `documents` and `embeddings`), with the value
domains the bound queries expect: `Brand#N` brands, `{"k": n}` props,
64-dim unit embeddings, word-bag documents of which some are exact copies
and some near copies (`<text> dup`).  The same seed gives the same bytes.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
ADJ = "blue cold hot large new old red small".split()
NOUN = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Row counts at scale 1.0; a workload passes its own scale per table group.
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
             "documents": 50_000, "embeddings": 20_000}

EPOCH_1995 = int(dt.datetime(1995, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000


def _cents(rng, lo, hi, n):
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _docs(rng, n):
    lens = rng.integers(10, 91, n)
    texts = [" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)) for k in lens]
    # 5% near copies of an earlier document, and a few exact copies.
    for i in rng.choice(np.arange(1, n), size=n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(1, n), size=max(1, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return texts


def generate_tables(out, seed, scale, doc_scale=None):
    """Write the ten tables under `out`. `scale` sizes the relational
    tables, `doc_scale` (default `scale`) the documents and embeddings."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {k: max(1, int(v * scale)) for k, v in BASE_ROWS.items()}
    ds = scale if doc_scale is None else doc_scale
    n["documents"] = int(BASE_ROWS["documents"] * ds)
    n["embeddings"] = int(BASE_ROWS["embeddings"] * ds)

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": [f"NATION_{i}" for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    _write(out, "customer", {
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    _write(out, "supplier", {
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, s)})
    p = n["part"]
    _write(out, "part", {
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PTYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": rng.integers(9000, 10000, p) / 10.0})
    o = n["orders"]
    odate = EPOCH_1995 + rng.integers(0, 2404, o) * DAY_US
    _write(out, "orders", {
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, o),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    m = n["lineitem"]
    qty = rng.integers(1, 51, m).astype(np.float64)
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, o, m),
        "l_partkey": rng.integers(0, p, m),
        "l_suppkey": rng.integers(0, s, m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90000, 210000, m) / 100.0, 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": pa.array(EPOCH_1995 + DAY_US + rng.integers(0, 2499, m) * DAY_US,
                               pa.timestamp("us"))})
    e = n["events"]
    t0 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    _write(out, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array(np.sort(t0 + rng.integers(0, 30 * DAY_US, e)), pa.timestamp("us")),
        "user_id": rng.integers(0, max(2, e // 66), e),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = _docs(rng, d)
    _write(out, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), d)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    v = n["embeddings"]
    vec = rng.standard_normal((v, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32())})
    return {k: n[k] for k in ("customer", "part", "orders", "lineitem", "events",
                              "documents", "embeddings")}


def serve_requests(seed, kinds, n_requests, pool=8):
    """The serve request stream: a seeded mix over `kinds` (the bound
    query names) plus `page` and `search`, which draw from a seeded pool
    of `pool` parameter sets each."""
    rng = np.random.default_rng([seed, 2])
    pages = [{"id": f"page{i}", "kind": "page",
              "page": int(rng.integers(1, 200)),
              "size": int(rng.choice([10, 20, 50]))} for i in range(pool)]
    searches = []
    for i in range(pool):
        # Same selectivity whatever the seed: a 25.0-wide price band and
        # two brands.
        lo = int(rng.integers(9000, 9750))
        brands = [f"Brand#{b}" for b in sorted(rng.choice(np.arange(1, 26), 2, replace=False))]
        searches.append({"id": f"search{i}", "kind": "search",
                         "keyword": str(rng.choice(ADJ + NOUN)),
                         "lo": lo / 10.0, "hi": (lo + 250) / 10.0,
                         "brands": brands})
    distinct = [{"id": k, "kind": "query", "name": k} for k in kinds] + pages + searches
    types = list(kinds) + ["page", "search"]
    stream = []
    # Rounds of a seeded permutation of every request type: any stretch
    # of the stream holds a near-uniform mix, whatever the seed.
    while len(stream) < n_requests:
        for t in rng.permutation(len(types)):
            kind = types[t]
            if kind == "page":
                stream.append(pages[int(rng.integers(0, pool))]["id"])
            elif kind == "search":
                stream.append(searches[int(rng.integers(0, pool))]["id"])
            else:
                stream.append(kind)
    return {"distinct": distinct, "stream": stream}


def change_set(out, seed, n_orders, n_changes, update_share):
    """Write `changes.parquet`: `n_changes` order-price changes, a seeded
    `update_share` of them on existing order keys, the rest new keys;
    several versions per key so the latest-version pick matters."""
    rng = np.random.default_rng([seed, 3])
    n_upd = int(round(n_changes * update_share))
    keys = np.concatenate([rng.integers(0, n_orders, n_upd),
                           n_orders + rng.integers(0, max(1, n_changes // 2), n_changes - n_upd)])
    pq.write_table(pa.table({
        "key": keys.astype(np.int64),
        "price_c": rng.integers(100_000, 50_000_000, n_changes),
        "version": rng.integers(0, 5, n_changes),
        "seq": np.arange(n_changes, dtype=np.int64)}),
        os.path.join(out, "changes.parquet"))
    return {"changes": n_changes, "update_share": update_share}
