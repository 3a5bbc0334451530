#!/usr/bin/env python3
"""Seeded input generator for the layered benchmark.

Writes a complete table directory (the ten parquet tables every
`SparkEntry` query and its DuckDB oracle twin read) for one workload,
drawn only from `--seed`: the same seed gives identical tables.

The workloads differ in the `documents` table:

  curation        the engine's test-corpus shape: 1200 snippets of 10-100
                  words over a 31-word vocabulary, 5 languages, 20
                  round-robin sources, with a few planted exact and near
                  duplicates (the dedup family's positives);
  urlcount_large  the reference job's input: about 393k space-separated
                  `https://xxx.com/p/N` URLs in 16384 documents, drawn
                  from a Zipf distribution (exponent 1.05) over 80k
                  distinct keys. Hosts are the reference's 3-letter `.com`
                  domains; the `/p/N` path lifts the key space past its
                  17,576-domain cap.

The relational, event and embedding tables keep the harness schemas and
key layouts (dense 0-based ids, 64-dim unit embeddings, one month of
events), at fixed sizes.

Usage: gen_data.py --workload urlcount_large|curation --seed N --out DIR
"""
import argparse
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
SEGMENTS = np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"])
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "shiny"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ROW_GROUP = 2048
ZIPF_EXPONENT = 1.05

# the documents table per workload: text shape, documents, and for URL
# text the distinct keys and mean URLs per document
WORKLOADS = {
    "urlcount_large": {"text": "urls", "docs": 16384, "urls": 80_000, "tokens_per_doc": 24},
    "curation": {"text": "harness", "docs": 1200},
}
EMBEDDINGS = 1000
EVENTS = 10_000
USERS = 300
CUSTOMERS = 1500
SUPPLIERS = 100
PARTS = 2000
ORDERS = 15_000


def write(out, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"),
                   row_group_size=ROW_GROUP)


def harness_texts(rng, n):
    lengths = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), lengths.sum())
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    # plant duplicates among the later docs: every 40th is an exact copy
    # of an earlier doc, every 25th a near copy (two words swapped out,
    # the marker word "dup" appended)
    for i in range(1, n):
        if i % 40 == 0:
            texts[i] = texts[int(rng.integers(0, i))]
        elif i % 25 == 0:
            ws = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(ws), 2):
                ws[j] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(ws + ["dup"])
    return texts


def zipf_ranks(rng, n_keys, n_draws, exponent):
    """Draws from a Zipf law bounded to `n_keys` ranks (1-based)."""
    cdf = np.cumsum(np.arange(1, n_keys + 1, dtype=np.float64) ** -exponent)
    cdf /= cdf[-1]
    return np.minimum(np.searchsorted(cdf, rng.random(n_draws)), n_keys - 1)


def url_texts(rng, n_docs, n_urls, tokens_per_doc):
    hosts = np.array(["https://" + a + b + c + ".com"
                      for a in string.ascii_lowercase
                      for b in string.ascii_lowercase
                      for c in string.ascii_lowercase])
    # a seeded permutation decouples a key's frequency rank from its name
    keys = rng.permutation(n_urls)
    lengths = rng.integers(tokens_per_doc // 2, tokens_per_doc * 3 // 2 + 1, n_docs)
    ids = keys[zipf_ranks(rng, n_urls, int(lengths.sum()), ZIPF_EXPONENT)]
    urls = np.char.add(np.char.add(hosts[ids % len(hosts)], "/p/"),
                       (ids // len(hosts)).astype(str))
    texts, pos = [], 0
    for k in lengths:
        texts.append(" ".join(urls[pos:pos + k]))
        pos += k
    return texts


def documents(rng, shape):
    n = shape["docs"]
    if shape["text"] == "urls":
        texts = url_texts(rng, n, shape["urls"], shape["tokens_per_doc"])
    else:
        texts = harness_texts(rng, n)
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.char.add("src", (ids % 20).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def events(rng, n):
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, USERS, n).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def relational(rng, out):
    write(out, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc, ns, npart, no = CUSTOMERS, SUPPLIERS, PARTS, ORDERS
    write(out, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, nc)]})
    write(out, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})
    write(out, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": PART_TYPES[rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)})
    day0 = np.datetime64("1995-01-01", "us")
    odate = day0 + (rng.integers(0, 2404, no) * 86400 * 10**6).astype("timedelta64[us]")
    write(out, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": pa.array(odate, type=pa.timestamp("us")),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, no)]})
    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    lineno = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    ship = np.repeat(odate, lines) + (rng.integers(1, 122, nl) * 86400 * 10**6).astype("timedelta64[us]")
    perm = rng.permutation(nl)
    write(out, "lineitem", {
        "l_orderkey": okey[perm],
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": lineno[perm].astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["N", "A", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship[perm], type=pa.timestamp("us"))})


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args()
    os.makedirs(args.out, exist_ok=True)
    # one independent stream per table, so resizing one table leaves
    # every other table's rows unchanged
    streams = np.random.SeedSequence(args.seed % 2**64).spawn(4)
    rng = [np.random.default_rng(s) for s in streams]
    write(args.out, "documents", documents(rng[0], WORKLOADS[args.workload]))
    write(args.out, "embeddings", embeddings(rng[1], EMBEDDINGS))
    write(args.out, "events", events(rng[2], EVENTS))
    relational(rng[3], args.out)


if __name__ == "__main__":
    main()
