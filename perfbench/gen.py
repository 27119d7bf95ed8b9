#!/usr/bin/env python3
"""Seeded input generator: fixture-shaped directories, one parquet file per
table (`<dir>/<table>.parquet`), with the schemas of the engine's fixtures
(FIXTURE_SCHEMAS.md). The same seed gives the same files.

    python3 perfbench/gen.py --workload ingest|curate --seed N --seconds S --out DIR

Writes DIR/<workload>-<i>/ input dirs and DIR/inputs.json: the input
properties (sizes, shares, laws) the run reports, and `gen_s`, the median
time to generate one dir. `ingest` gets SETUP_REPS identical dirs (the run
sets up once per dir); `curate` gets a warm-up corpus then one corpus per
possible timed pass (at least two), each with docs.txt (its document count)
and planted.txt (the planted near-duplicate pairs, one "original copy" pair
per line).
"""
import argparse
import datetime
import json
import os
import shutil
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
POISON_ABOVE = 250.0
EPOCH = datetime.datetime(2024, 1, 1)

# Shapes measured on the engine's sf0.1 fixture tables (perfbench/README.md,
# "Input shapes"); the generator draws from the same laws, at its own sizes.
# events: user_id uniform over 1500 users; value exponential with mean 50.2
# (median 34.8, 0.65% above 250: the poison share follows from the law);
# ts strictly increasing with exponential gaps of mean 25.9 s; event_type
# uniform over five; props '{"k": k}', k uniform in 0..99.
EVENTS = dict(messages=9000, users=1500, user_id_law="uniform", value_mean=50.2,
              ts_gap_mean_s=25.9, props_k=100)
# documents: 30 words, each equally likely, 10..100 words per doc (uniform);
# lang en 41%, zh/es/fr/de 15% each; source src<doc_id % 20>; 5% planted
# near-duplicates, each a copy of another doc with the word "dup" appended;
# no PII and no 3-gram in more than 1% of the docs (no boilerplate).
VOCAB = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan "
         "batch").split()
LANGS = (["en"] * 41 + ["zh", "es", "fr", "de"] * 15)[:100]
CURATE = dict(docs=4000, warmup_docs=200, near_dup_share=0.05, min_words=10, max_words=100,
              sources=20)
# at least two timed passes; more when the window allows
PASS_EVERY_S = 5
SETUP_REPS = 3

TS = pa.timestamp("us")
SCHEMAS = {
    "region": [("r_regionkey", pa.int32()), ("r_name", pa.string())],
    "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    "customer": [("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
                 ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())],
    "supplier": [("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
                 ("s_acctbal", pa.float64())],
    "part": [("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
             ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())],
    "orders": [("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
               ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
               ("o_orderdate", TS), ("o_orderpriority", pa.string())],
    "lineitem": [("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                 ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                 ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                 ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                 ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                 ("l_shipdate", TS)],
    "events": [("event_id", pa.int64()), ("ts", TS), ("user_id", pa.int64()),
               ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())],
    "documents": [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                  ("source", pa.string()), ("n_chars", pa.int64())],
    "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                   ("label", pa.int32())],
}


def write(dir_, table, columns):
    schema = pa.schema(SCHEMAS[table])
    pq.write_table(pa.table(columns, schema=schema), os.path.join(dir_, f"{table}.parquet"))


def tiny_tables(dir_):
    """The tables no workload reads, a few rows each, so a tool that opens
    every fixture table (the DuckDB oracle) can open the dir."""
    day = [EPOCH + datetime.timedelta(days=i) for i in range(40)]
    r20 = range(1, 21)
    write(dir_, "region", [list(range(5)), [f"R{i}" for i in range(5)]])
    write(dir_, "nation", [list(range(25)), [f"N{i}" for i in range(25)],
                           [i % 5 for i in range(25)]])
    write(dir_, "customer", [list(r20), [f"C{i}" for i in r20], [i % 25 for i in r20],
                             [i * 10.5 for i in r20], [f"SEG{i % 5}" for i in r20]])
    write(dir_, "supplier", [list(range(1, 11)), [f"S{i}" for i in range(1, 11)],
                             [i % 25 for i in range(1, 11)], [i * 3.5 for i in range(1, 11)]])
    write(dir_, "part", [list(r20), [f"P{i}" for i in r20], [f"B{i % 5}" for i in r20],
                         [f"T{i % 7}" for i in r20], [1 + i % 50 for i in r20],
                         [900.0 + i for i in r20]])
    write(dir_, "orders", [list(r20), [1 + i % 20 for i in r20], ["O"] * 20,
                           [1000.0 + i for i in r20], day[:20],
                           [f"{1 + i % 5}-P" for i in r20]])
    r40 = range(1, 41)
    write(dir_, "lineitem", [[1 + i % 20 for i in r40], [1 + i % 20 for i in r40],
                             [1 + i % 10 for i in r40], [1 + i % 4 for i in r40],
                             [float(1 + i % 50) for i in r40], [100.0 * i for i in r40],
                             [0.01 * (i % 10) for i in r40], [0.02] * 40, ["N"] * 40,
                             ["O"] * 40, day])
    write(dir_, "events", [list(range(20)), day[:20], [i % 7 for i in range(20)],
                           [EVENT_TYPES[i % 5] for i in range(20)],
                           [float(i * 7 % 250) for i in range(20)],
                           [f'{{"k": {i}}}' for i in range(20)]])
    write(dir_, "documents", [list(range(20)), [f"tiny doc {i}" for i in range(20)],
                              ["en"] * 20, ["src0"] * 20, [len(f"tiny doc {i}") for i in range(20)]])
    write(dir_, "embeddings", [list(range(20)),
                               [[float((i * 31 + j * 7) % 13 - 6) for j in range(8)]
                                for i in range(20)], [i % 10 for i in range(20)]])


def events(dir_, rng, p):
    """`events` rows in send order; poison rows are the ones valued above 250."""
    n = p["messages"]
    value = np.round(rng.exponential(p["value_mean"], n), 2)
    gaps = rng.exponential(p["ts_gap_mean_s"] * 1e6, n).astype(np.int64) + 1
    ts = [EPOCH + datetime.timedelta(microseconds=int(u)) for u in np.cumsum(gaps)]
    write(dir_, "events", [np.arange(n), ts, rng.integers(0, p["users"], n),
                           [EVENT_TYPES[i] for i in rng.integers(0, 5, n)], value,
                           [f'{{"k": {k}}}' for k in rng.integers(0, p["props_k"], n)]])
    return int((value > POISON_ABOVE).sum())


def documents(dir_, rng, p, docs):
    """A fixture-shaped corpus; a near-dup share of the docs copy another
    doc and append "dup"."""
    texts, planted = [], []
    n_dups = int(round(docs * p["near_dup_share"]))
    for i in range(docs - n_dups):
        n = int(rng.integers(p["min_words"], p["max_words"] + 1))
        texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    for _ in range(n_dups):
        src = int(rng.integers(0, len(texts)))
        planted.append((src, len(texts)))
        texts.append(texts[src] + " dup")
    # the copies sit at random places in the corpus, as in the fixture
    perm = rng.permutation(docs)
    text = [None] * docs
    for old, new in enumerate(perm):
        text[new] = texts[old]
    planted = [(int(perm[a]), int(perm[b])) for a, b in planted]
    write(dir_, "documents", [np.arange(docs), text,
                              [LANGS[k] for k in rng.integers(0, 100, docs)],
                              [f"src{i % p['sources']}" for i in range(docs)],
                              [len(t) for t in text]])
    with open(os.path.join(dir_, "planted.txt"), "w") as fh:
        fh.writelines(f"{a} {b}\n" for a, b in planted)
    with open(os.path.join(dir_, "docs.txt"), "w") as fh:
        fh.write(f"{docs}\n")
    return len(planted)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    shutil.rmtree(args.out, ignore_errors=True)
    os.makedirs(args.out)
    times = []
    if args.workload == "ingest":
        for i in range(SETUP_REPS):
            t0 = time.time()
            d = os.path.join(args.out, f"ingest-{i}")
            os.makedirs(d)
            poison = events(d, np.random.default_rng(args.seed), EVENTS)
            times.append(time.time() - t0)
        props = dict(EVENTS, poison_msgs_in_table=poison)
    elif args.workload == "curate":
        rng = np.random.default_rng(args.seed)
        timed = max(2, args.seconds // PASS_EVERY_S)
        props = dict(CURATE, timed_corpora=timed, vocab=len(VOCAB), planted_near_dups=[])
        tiny = os.path.join(args.out, "common")
        os.makedirs(tiny)
        tiny_tables(tiny)
        for i in range(timed + 1):
            t0 = time.time()
            d = os.path.join(args.out, f"curate-{i}")
            shutil.copytree(tiny, d)
            docs = CURATE["warmup_docs"] if i == 0 else CURATE["docs"]
            props["planted_near_dups"].append(documents(d, rng, CURATE, docs))
            times.append(time.time() - t0)
        shutil.rmtree(tiny)
    else:
        raise SystemExit(f"unknown workload {args.workload}")
    props["gen_s"] = statistics.median(times)
    with open(os.path.join(args.out, "inputs.json"), "w") as fh:
        json.dump(props, fh)


if __name__ == "__main__":
    main()
