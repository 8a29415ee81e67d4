"""Seeded input generator for the graft benchmark.

Writes the ten star-schema tables the registry reads (`documents`,
`embeddings`, `events`, `customer`, `orders`, `lineitem`, `part`,
`supplier`, `nation`, `region`) into one directory, with the column names
and parquet types of the repo's testdata fixtures. Everything is drawn from
a numpy generator seeded by (seed, workload), so the same seed gives
byte-identical inputs.

Arriving documents follow the low-duplication regime of
`scripts/make_sf1.py --lowdup` (reimplemented here, the script itself is
not touched): about 10 % of arrivals are near-copies, the rest mutate
every third word with a per-arrival suffix, so shingles diverge and the
vocabulary keeps growing.

Every file is written with at least `nproc` row groups.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = np.array([
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window"])
LANGS = np.array(["en", "fr", "zh", "de", "es"])
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
# doc ids stay below the registry's planted-fixture offsets (2e6, 3e6)
ARRIVAL_ID0 = 1_000_000
EPOCH_2024_US = 1_704_067_200_000_000
EPOCH_1995_US = 788_918_400_000_000
DAY_US = 86_400_000_000

# Sizes per workload. ingest_incremental's `docs` is the initial history,
# and `batches` x `batch_docs` arrive on top of it.
SIZES = {
    "features_analytics": dict(docs=600, customers=1500, orders=15000,
                               events=10000),
    "ingest_incremental": dict(docs=600, words=(40, 60),
                               customers=150, orders=600, events=500,
                               batches=40, batch_docs=40),
}


def nproc():
    return len(os.sched_getaffinity(0))


def _write(table, path, nrow_groups):
    n = table.num_rows
    pq.write_table(table, path,
                   row_group_size=max(1, -(-n // max(1, nrow_groups))))
    return n, os.path.getsize(path)


def _texts(rng, n, words=(10, 100)):
    lens = rng.integers(words[0], words[1] + 1, size=n)
    words = VOCAB[rng.integers(0, len(VOCAB), size=int(lens.sum()))]
    out, i = [], 0
    for ln in lens:
        out.append(" ".join(words[i:i + ln]))
        i += ln
    return out


def _doc_table(ids, texts, langs, sources):
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def low_dup_arrivals(rng, history_texts, n, first_id):
    """make_sf1.py --lowdup regime for arriving docs: every tenth is a
    near-copy of a random earlier doc, the rest mutate every third word of
    one with a per-arrival suffix (low Jaccard, growing vocabulary)."""
    pool = list(history_texts)
    ids, texts = [], []
    for i in range(n):
        k = first_id + i
        src = pool[int(rng.integers(0, len(pool)))]
        if i % 10 == 0:
            t = f"{src} r{k}"
        else:
            ws = src.split(" ")
            t = " ".join(w + f"x{k}" if (j + 1) % 3 == 0 else w
                         for j, w in enumerate(ws))
        ids.append(k)
        texts.append(t)
        pool.append(t)
    langs = rng.choice(LANGS, size=n, p=LANG_P)
    return _doc_table(ids, texts, langs, [f"src{k % 20}" for k in ids])


def embeddings(rng, ids):
    n = len(ids)
    centers = rng.normal(0, 1, size=(10, 64))
    labels = rng.integers(0, 10, size=n)
    v = centers[labels] + rng.normal(0, 0.8, size=(n, 64))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def events(rng, n, n_users):
    ts = np.sort(rng.integers(0, 30 * DAY_US, size=n)) + EPOCH_2024_US
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, size=n), pa.string()),
        "value": pa.array(np.round(rng.gamma(2.0, 25.0, size=n), 2),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, size=n)], pa.string()),
    })


def relational(rng, n_cust, n_orders):
    n_part, n_supp = max(200, n_cust // 2), max(20, n_cust // 40)
    cust = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   size=n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=n_cust)),
    })
    odate = EPOCH_1995_US + rng.integers(0, 2404, size=n_orders) * DAY_US
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders),
                              pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]),
                                             size=n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000,
                                                      size=n_orders), 2)),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, size=n_orders)),
    })
    lines = rng.integers(1, 8, size=n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    lineno = np.concatenate([np.arange(1, c + 1) for c in lines])
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    pkey = rng.integers(0, n_part, size=n_li)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(
            np.round(qty * (900 + (pkey % 1000) / 10.0), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]),
                                            size=n_li)),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), size=n_li)),
        "l_shipdate": pa.array(odate[okey] + rng.integers(1, 122, size=n_li)
                               * DAY_US, pa.timestamp("us")),
    })
    adj = np.array(["blue", "hot", "large", "small", "green", "red"])
    noun = np.array(["bolt", "ring", "nut", "gear", "pipe", "spring"])
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(adj, size=n_part), rng.choice(noun, size=n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, size=n_part)]),
        "p_type": pa.array(rng.choice(np.array(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]),
            size=n_part)),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(900 + (np.arange(n_part) % 1000) / 10.0),
    })
    supp = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99,
                                                   size=n_supp), 2)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                            "MIDDLE EAST"]),
    })
    return dict(customer=cust, orders=orders, lineitem=lineitem, part=part,
                supplier=supp, nation=nation, region=region)


def generate(workload, seed, out, scale=1):
    """Write `workload`'s inputs (SIZES[workload], counts divided by `scale`)
    into `out` and return {table: [rows, bytes]}. Ingest sizes also write
    `arrivals/b_<i>.parquet`, one file per arriving batch, in order."""
    sz = {k: v if k == "words" else max(2, v // scale)
          for k, v in SIZES[workload].items()}
    ss = np.random.SeedSequence([seed, sum(map(ord, workload))])
    rng = np.random.default_rng(ss)
    os.makedirs(out, exist_ok=True)
    groups = nproc()
    tables = relational(rng, sz["customers"], sz["orders"])
    tables["events"] = events(rng, sz["events"],
                              max(20, sz["events"] // 66))
    texts = _texts(rng, sz["docs"], sz.get("words", (10, 100)))
    ids = np.arange(sz["docs"])
    docs = _doc_table(ids, texts, rng.choice(LANGS, size=len(ids), p=LANG_P),
                      [f"src{i % 20}" for i in ids])
    tables["documents"], tables["embeddings"] = docs, embeddings(rng, ids)
    info = {name: list(_write(t, f"{out}/{name}.parquet", groups))
            for name, t in tables.items()}
    if "batches" in sz:
        n, b = sz["batches"] * sz["batch_docs"], sz["batch_docs"]
        arr = low_dup_arrivals(rng, docs.column("text").to_pylist(), n,
                               first_id=ARRIVAL_ID0)
        os.makedirs(f"{out}/arrivals", exist_ok=True)
        sizes = [_write(arr.slice(i * b, b),
                        f"{out}/arrivals/b_{i:05d}.parquet", groups)
                 for i in range(sz["batches"])]
        info["arrivals"] = [sum(x[0] for x in sizes), sum(x[1] for x in sizes)]
    return info
