"""Seeded input generator for the benchmark workloads.

Writes the tables a workload reads, with the schemas of the harness
tables (`documents`, `embeddings`, `region`, `nation`, `customer`,
`supplier`, `events`, `orders`), as one single-row-group parquet file
each.  The same seed and workload give byte-identical files; `digest()`
hashes them so a run can show it.

The properties that drive the program's behaviour are explicit
parameters in `WORKLOADS`.  Their values are the ones measured on the
harness tables at sf0.1 (`documents`: 5,000 rows; see DESIGN.md, "Input
properties"); only the table sizes are smaller, to fit the time budget:

- `docs`, `words`: corpus size and the document length range;
- `zipf_s`: Zipf exponent over the non-lexicon words (0 is uniform);
- `keyword_rate`: share of tokens drawn from the classifier lexicon;
- `long_word_rate`: share of tokens that are non-lexicon words of six
  or more letters, which the scrape operators turn into links (links
  per page; lexicon words of six letters add to it);
- `the_rate`: share of ` the ` tokens, which separate paragraphs
  (elements per page);
- `near_dup_share`: share of documents that copy an earlier one with
  ` dup` appended, as the harness's near-duplicates do;
- `sources`: number of distinct `source` values;
- `hub_s`: Zipf exponent of customers and suppliers over nations
  (hub skew of the graph tables; 0 is uniform);
- `vectors`: embedding count (unit vectors, no cluster structure);
- `events`, `users`, `orders`: size of the activity tables and the
  number of per-user event streams.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64  # AnnIndex and the similarity operators expect 64-dim vectors

LEXICON = ["spark", "join", "stream", "vector", "agg", "window", "hash",
           "sort", "scan", "merge", "filter", "batch"]
# the harness documents' other words, by length: 6+ letters form links
SHORT_WORDS = ["a", "big", "data", "fast", "group", "key", "line", "order",
               "part", "query", "row", "slow", "small", "table", "value"]
LONG_WORDS = ["column", "customer"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]

# the harness tables at sf0.1, as measured
SF01 = dict(words=(10, 100), zipf_s=0.0, keyword_rate=0.401,
            long_word_rate=0.067, the_rate=0.033, near_dup_share=0.049,
            sources=20, hub_s=0.0, customers=15000, suppliers=1000,
            vectors=2000, events=100000, users=1500, orders=150000)

WORKLOADS = {
    # the paper's operator chain: documents, plus the tables its union,
    # fill-forward and keep-first operators read
    "hicsa_etl": dict(SF01, docs=600, vectors=0,
                      events=10000, users=150, orders=15000),
    # LLM-corpus preparation: near-duplicates, embeddings, graph tables
    "corpus_prep": dict(SF01, docs=800, customers=1500, suppliers=100,
                        vectors=600),
}

TABLES = {
    "hicsa_etl": ["documents", "customer", "supplier", "events", "orders"],
    "corpus_prep": ["documents", "embeddings", "region", "nation",
                    "customer", "supplier"],
}


def _zipf_probs(n, s):
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _docs(rng, p, n):
    lex, short, long_ = (np.array(w) for w in (LEXICON, SHORT_WORDS, LONG_WORDS))
    short_p = _zipf_probs(len(short), p["zipf_s"])
    long_p = _zipf_probs(len(long_), p["zipf_s"])
    k, lw, th = p["keyword_rate"], p["long_word_rate"], p["the_rate"]
    lo, hi = p["words"]
    texts = []
    for i in range(n):
        if texts and rng.random() < p["near_dup_share"]:
            texts.append(texts[rng.integers(len(texts))] + " dup")
            continue
        m = int(rng.integers(lo, hi + 1))
        kind = rng.random(m)
        toks = np.where(kind < k, lex[rng.integers(len(lex), size=m)],
               np.where(kind < k + lw, long_[rng.choice(len(long_), size=m, p=long_p)],
               np.where(kind < k + lw + th, "the",
                        short[rng.choice(len(short), size=m, p=short_p)])))
        texts.append(" ".join(toks))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % p['sources']}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, p, n):
    vecs = rng.normal(size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(10, size=n).astype(np.int32), pa.int32()),
    })


def _graph(rng, p):
    nk = np.arange(25, dtype=np.int32)
    hub = _zipf_probs(25, p["hub_s"])
    nc, ns = p["customers"], p["suppliers"]
    return {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(nk),
                            "n_name": pa.array([f"NATION{i:02d}" for i in nk]),
                            "n_regionkey": pa.array(nk % 5)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, nc + 1, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, nc + 1)]),
            "c_nationkey": pa.array(rng.choice(nk, size=nc, p=hub).astype(np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, nc), 2)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, size=nc))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(1, ns + 1, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, ns + 1)]),
            "s_nationkey": pa.array(rng.choice(nk, size=ns, p=hub).astype(np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, ns), 2))}),
    }


def _activity(rng, p):
    """`events` (per-user streams for the fill-forward window) and
    `orders` (for the keep-first dedup)."""
    ne, no = p["events"], p["orders"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    # the harness's events span 30 days
    step_us = 2 * 30 * 86400 * 10**6 // ne
    ts = t0 + np.cumsum(rng.integers(1, step_us, ne)).astype("timedelta64[us]")
    days = rng.integers(0, 7 * 365, no).astype("timedelta64[D]")
    return {
        "events": pa.table({
            "event_id": pa.array(np.arange(ne, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, p["users"], ne).astype(np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)])}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(1, p["customers"] // 10 + 1, no).astype(np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no)),
            "o_totalprice": pa.array(np.round(rng.uniform(900, 500000, no), 2)),
            "o_orderdate": pa.array(np.datetime64("1992-01-01", "us") + days.astype("timedelta64[us]"),
                                    pa.timestamp("us")),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no))}),
    }


def _write(table, path):
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   compression="snappy")


def generate(workload, seed, out_dir):
    """Write the workload's inputs into `out_dir`; return
    {file: (rows, bytes)}."""
    p = WORKLOADS[workload]
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    tables["documents"] = _docs(rng, p, p["docs"])
    if p["vectors"]:
        tables["embeddings"] = _embeddings(rng, p, p["vectors"])
    tables.update(_graph(rng, p))
    tables.update(_activity(rng, p))
    sizes = {}
    for name in TABLES[workload]:
        path = os.path.join(out_dir, f"{name}.parquet")
        _write(tables[name], path)
        sizes[name] = (tables[name].num_rows, os.path.getsize(path))
    return sizes


def digest(out_dir):
    """SHA-256 over every generated file, in name order."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if os.path.isfile(path):
            h.update(name.encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()
