"""Seeded input generator for the benchmark workloads.

Every table is a single-row-group parquet file with the schema of the
engine's test tables (TPC-H-like star schema plus `events` and
`documents`). The same seed and scale give byte-identical files.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
EPOCH_DAY_1995 = 9131  # 1995-01-01 as days since the epoch
ID_STRIDE = 1_000_000


def load_spec():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def write(out, name, cols):
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                   row_group_size=max(1, table.num_rows), compression="snappy")


def days_to_ts(days):
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def shuffled(rng, n):
    """A seeded row order: tables arrive in no key order."""
    return rng.permutation(n)


def gen_dims(rng, out, sf):
    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_cust = int(150_000 * sf)
    o = shuffled(rng, n_cust)
    write(out, "customer", {
        "c_custkey": pa.array(o, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in o],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -1000, 10000, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    n_part = int(200_000 * sf)
    o = shuffled(rng, n_part)
    adj = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
    noun = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
    write(out, "part", {
        "p_partkey": pa.array(o, pa.int64()),
        "p_name": [f"{adj[rng.integers(8)]} {noun[rng.integers(8)]}" for _ in o],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (o % 1000) * 0.1, 1)})
    n_supp = int(10_000 * sf)
    o = shuffled(rng, n_supp)
    write(out, "supplier", {
        "s_suppkey": pa.array(o, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in o],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -1000, 10000, n_supp)})
    return n_cust, n_part, n_supp


def gen_warehouse(rng, out, sf):
    n_cust, n_part, n_supp = gen_dims(rng, out, sf)
    n_ord = int(1_500_000 * sf)
    o = shuffled(rng, n_ord)
    write(out, "orders", {
        "o_orderkey": pa.array(o, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": days_to_ts(EPOCH_DAY_1995 + rng.integers(0, 2404, n_ord)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    n_li = int(6_000_000 * sf)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": days_to_ts(EPOCH_DAY_1995 + 1 + rng.integers(0, 2499, n_li))})
    gen_events(rng, out, sf)


def gen_events(rng, out, sf):
    n = int(1_000_000 * sf)
    users = max(10, int(15_000 * sf))
    # thirty days from 2024-01-01, ordered by event_id as an event log is
    start = 1704067200 * 1_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start
    o = shuffled(rng, n)
    write(out, "events", {
        "event_id": pa.array(o, pa.int64()),
        "ts": pa.array(ts[o], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], n),
        "value": np.round(rng.exponential(12.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def gen_texts(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return texts


def gen_corpus(rng, out, sf, copies):
    """Base documents plus `copies - 1` near-duplicate replicas: each
    replica appends one seed-chosen token to the text."""
    n_docs = int(50_000 * sf)
    texts = gen_texts(rng, n_docs)
    langs = rng.choice(LANGS, n_docs, p=LANG_P)
    ids, all_texts, all_langs, sources = [], [], [], []
    for rep in range(copies):
        token = "" if rep == 0 else " r" + "".join(
            chr(97 + c) for c in rng.integers(0, 26, 4))
        for i in range(n_docs):
            ids.append(i + rep * ID_STRIDE)
            all_texts.append(texts[i] + token)
            all_langs.append(langs[i])
            sources.append(f"src{i % 20}")
    o = shuffled(rng, len(ids))
    write(out, "documents", {
        "doc_id": pa.array(np.array(ids)[o], pa.int64()),
        "text": [all_texts[i] for i in o],
        "lang": [all_langs[i] for i in o],
        "source": [sources[i] for i in o],
        "n_chars": pa.array([len(all_texts[i]) for i in o], pa.int64())})


def gen_runner(rng, out, scripts_dir, spec):
    """Tables for the runner's jobs, the script files, and a pre-seeded
    journal: one parquet file per record, the layout `Journal.save`
    leaves behind."""
    gen_dims(rng, out, spec["sf"])
    n_li = int(6_000_000 * spec["sf"])
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_li // 4, n_li), pa.int64()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": money(rng, 900, 105000, n_li),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li)})
    os.makedirs(scripts_dir, exist_ok=True)
    work = os.path.dirname(scripts_dir)
    subst = {"__DATA__": out, "__OUT__": os.path.join(work, "out"),
             "__MOD__": str(int(rng.integers(3, 10)))}
    for name in ("http.scala", "kvkafka.scala", "report.sql", "hot.scala.tmpl"):
        with open(os.path.join(HERE, "scripts", name)) as f:
            text = f.read()
        for k, v in subst.items():
            text = text.replace(k, v)
        dest = os.path.join(work if name.endswith(".tmpl") else scripts_dir, name)
        with open(dest, "w") as f:
            f.write(text)
    with open(os.path.join(work, "runner.json"), "w") as f:
        json.dump(subst, f)

    journal = os.path.join(scripts_dir, ".journal")
    os.makedirs(journal, exist_ok=True)
    paths = ["file:" + os.path.join(scripts_dir, n)
             for n in ("http.scala", "kvkafka.scala", "report.sql", "hot.scala")]
    t = 1704067200000 + int(rng.integers(0, 86_400_000))
    schema = pa.schema([("path", pa.string()), ("startedAt", pa.int64()),
                        ("finishedAt", pa.int64()), ("result", pa.string()),
                        ("status", pa.string())])
    for i in range(spec["journal_records"]):
        p = paths[i % len(paths)]
        dur = int(rng.integers(50, 5000))
        rec = pa.table({"path": [p], "startedAt": [t], "finishedAt": [t + dur],
                        "result": [str(int(rng.integers(0, 1000)))], "status": ["SUCCEED"]},
                       schema=schema)
        pq.write_table(rec, os.path.join(
            journal, f"part-00000-{i:08d}-seed-c000.snappy.parquet"), compression="snappy")
        t += 60_000 + int(rng.integers(0, 60_000))


def generate(workload, seed, out):
    workloads = load_spec()["workloads"]
    spec = workloads[workload]
    rng = np.random.default_rng([seed, sorted(workloads).index(workload)])
    data = os.path.join(out, "data")
    os.makedirs(data, exist_ok=True)
    if workload == "corpus_dedup":
        gen_corpus(rng, data, spec["sf"], spec["copies"])
    elif workload == "events_warehouse":
        gen_warehouse(rng, data, spec["sf"])
    else:
        gen_runner(rng, data, os.path.join(out, "scripts"), spec)
    return data


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), os.path.abspath(sys.argv[3]))
