"""Seeded input generator for the graft benchmark.

Writes the ten tables graft reads (`graft.Tables.names`) as one parquet
file each, with the same schemas as the project's test data: a TPC-H-like
star schema, an `events` stream, a text corpus and an embedding table.

Row counts depend only on the size table below, never on the seed, so two
seeds give the same per-table row counts; the seed picks every value and
the row order. The same seed writes the same bytes.

The corpus carries the structure graft's LLM-data operators look for:
exact copies and near-duplicate families (a base document and edited
copies of it, never chains, so duplicate components stay shallow), and
stopwords for the quality rules.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table. The star schema and events are 1/10 of the project's
# sf0.1 test data; there etl_star's steps spend 23-42% of their wall time
# in task CPU, the rest in planning and job scheduling. The corpus is 3/5
# of sf0.1's documents and all of its embeddings, sized so that a
# corpus_dedup run (a cold checking pass, one timed pass and the DuckDB
# oracles) takes about 70 s on 4 cores, which the benchmark's time budget
# allows. There q52 (MinHash) and q124 (image hash) spend over 75% of their
# wall time in task CPU, the clusters() fixpoints (q55, q65) 34-39%. At 2000 embeddings the text+embedding pair graph stays
# shallow enough for Dedup.clusters' 20 rounds (run.py's DEFECTS has the
# size where it does not).
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 3000,
    "embeddings": 2000,
}

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

WORDS = ["a", "the", "spark", "window", "merge", "table", "column", "vector",
         "stream", "value", "data", "small", "join", "filter", "big", "group",
         "hash", "customer", "sort", "order", "slow", "line", "part", "fast",
         "row", "agg", "key", "query", "scan", "batch", "shard", "index",
         "graph", "token", "page", "cache", "frame", "store", "plan", "node"]
# The vocabulary: the words above and their two-word compounds. With 1600
# words, a 3-word shingle recurs in unrelated documents only by chance, so
# every near-duplicate pair comes from the generator's families.
VOCAB = [a + b for a in WORDS for b in [""] + WORDS[2:]]

# Data files per stream source; each lands as one micro-batch.
STREAM_FILES = 2

EPOCH = datetime.datetime(1970, 1, 1)


def _us(dt):
    return int((dt - EPOCH).total_seconds()) * 1_000_000


def _ts(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n):
    """Documents: base texts, near-duplicates and exact copies. Which
    document is which, its length and the base it copies depend on its id
    only, so every seed has the same duplicate structure; the seed picks
    the words. A near-duplicate replaces one word of its own base of 85
    words or more, so its 3-gram Jaccard similarity to the base is 0.93 or
    higher, where MinHash LSH misses a pair with odds under 1e-5."""
    vocab = np.array(VOCAB)
    texts, bases, long_bases = [], [], []
    for i in range(n):
        if i >= 10 and i % 25 == 12:
            texts.append(bases[(i * 7919) % len(bases)])
        elif i % 10 == 3 and long_bases:
            words = long_bases.pop(0).split(" ")
            pos = int(rng.integers(0, len(words)))
            words[pos] = str(rng.choice(vocab[vocab != words[pos]]))
            texts.append(" ".join(words))
        else:
            k = 10 + (i * 37) % 91
            bases.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
            if k >= 85:
                long_bases.append(bases[-1])
            texts.append(bases[-1])
    return texts


def tables(seed, sizes=SIZES):
    """The generated tables as pyarrow Tables, keyed by name."""
    rng = np.random.default_rng(seed)
    n = sizes
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    np_ = n["part"]
    adj = np.array(["blue", "old", "red", "small", "new", "large", "hot", "cold"])
    noun = np.array(["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"])
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": np.char.add(np.char.add(rng.choice(adj, np_), " "),
                              rng.choice(noun, np_)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, np_).astype(str)),
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1)})

    no = n["orders"]
    day = 86_400_000_000
    d0 = _us(datetime.datetime(1995, 1, 1))
    odays = rng.integers(0, 2404, no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(d0 + odays * day),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    lorder = rng.integers(0, no, nl)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lorder, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts(d0 + (odays[lorder] + rng.integers(0, 122, nl)) * day)})

    ne = n["events"]
    e0 = _us(datetime.datetime(2024, 1, 1))
    span = 30 * day
    gaps = rng.exponential(span / ne, ne)
    ts = e0 + np.minimum(np.cumsum(gaps), span - 1).astype(np.int64)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    texts = _texts(rng, nd)
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], nd),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = n["embeddings"]
    v = rng.standard_normal((nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})

    # The seed also picks the row order of every fact table.
    for name in ("customer", "part", "orders", "lineitem", "documents",
                 "embeddings"):
        t = out[name]
        out[name] = t.take(pa.array(rng.permutation(t.num_rows)))
    return out


def stream_files(tabs, files=STREAM_FILES):
    """The documents in doc_id order, cut into `files` micro-batch files
    that land in that order, with an event time one second apart."""
    docs = tabs["documents"].sort_by("doc_id")
    docs = docs.append_column("ts", _ts(_us(datetime.datetime(2024, 1, 1)) +
                                        docs["doc_id"].to_numpy() * 1_000_000))
    cut = np.linspace(0, docs.num_rows, files + 1).astype(int)
    return {"documents": [docs.slice(a, b - a) for a, b in zip(cut[:-1], cut[1:])]}


def write(seed, out_dir, stream=False, sizes=SIZES):
    """Writes every table to `<out_dir>/<name>.parquet`, and with `stream`
    the micro-batch files to `<out_dir>/stream/<source>/<i>.parquet`.
    Returns {name: (rows, bytes)}."""
    os.makedirs(out_dir, exist_ok=True)
    info = {}
    tabs = tables(seed, sizes)
    for name, t in tabs.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy")
        info[name] = (t.num_rows, os.path.getsize(path))
    if stream:
        for source, parts in stream_files(tabs).items():
            d = os.path.join(out_dir, "stream", source)
            os.makedirs(d)
            for i, t in enumerate(parts):
                path = os.path.join(d, f"{i:03d}.parquet")
                pq.write_table(t, path, compression="snappy")
                rows, size = info.get(f"stream/{source}", (0, 0))
                info[f"stream/{source}"] = (rows + t.num_rows,
                                            size + os.path.getsize(path))
    return info
