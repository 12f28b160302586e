"""Deterministic generator for the benchmark's input tables.

Writes the ten-table star schema graft reads (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
single-row-group parquet file per table, with the column names, types and
value distributions of graft's test fixtures, at scale factor SF (150
customers, 6000 lineitems) with DOCS documents and VECTORS embeddings.
Everything is drawn from a fixed generator seed, so the tables are always
byte-identical: the benchmark's pinned output digests depend on it.

The dataset directory carries a manifest.json of per-table row counts; it is
reused while the manifest matches the files on disk.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_SEED = 42
SF = 0.001
DOCS = 500
VECTORS = 500
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORDS = ("a the join hash row batch scan customer column filter small slow "
         "merge order vector line data table agg value key stream window "
         "spark group part big sort query fast").split()


def _rng(table):
    return np.random.default_rng([GEN_SEED, TABLES.index(table)])


def _days(rng, n, start, end):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    span = int((hi - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables():
    n_cust, n_supp = int(150_000 * SF), max(10, int(10_000 * SF))
    n_part, n_ord = int(200_000 * SF), int(1_500_000 * SF)
    n_line, n_ev = int(6_000_000 * SF), int(1_000_000 * SF)
    n_users = max(15, int(15_000 * SF))
    n_docs, n_vecs = DOCS, VECTORS

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng("customer")
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    yield "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(r, n_cust, -999.99, 9999.99),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})

    r = _rng("supplier")
    yield "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(r, n_supp, -999.99, 9999.99)})

    r = _rng("part")
    adj = np.array("small large red blue hot cold old new".split())
    noun = np.array("bolt gear ring rod plate anvil widget gizmo".split())
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    keys = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                              noun[r.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": types[r.integers(0, 6, n_part)],
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})

    r = _rng("orders")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    yield "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": _money(r, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(r, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]})

    r = _rng("lineitem")
    yield "lineitem", pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(r, n_line, 900.0, 105_000.0),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_line)],
        "l_shipdate": _days(r, n_line, "1995-01-02", "2001-11-04")})

    r = _rng("events")
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(r.integers(0, span_us, n_ev)) + np.datetime64("2024-01-01", "us")
    yield "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            r.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(r.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    # ~5% of documents are another document's text plus " dup": the
    # planted near-duplicate pairs the dedup operators must find
    r = _rng("documents")
    words = np.array(WORDS)
    texts = [" ".join(words[r.integers(0, len(WORDS), n)])
             for n in r.integers(10, 100, n_docs)]
    for i in np.flatnonzero(r.random(n_docs) < 0.05):
        j = int(r.integers(0, n_docs))
        if j != i:
            texts[i] = texts[j] + " dup"
    langs = np.array(["en", "de", "es", "fr", "zh"])[
        r.choice(5, n_docs, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    yield "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng("embeddings")
    v = r.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    yield "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32())})


def _on_disk(out_dir):
    counts = {}
    for t in TABLES:
        p = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.isfile(p):
            return None
        counts[t] = pq.ParquetFile(p).metadata.num_rows
    return counts


def ensure(out_dir):
    """Generate the dataset into `out_dir` unless a complete one is already
    there. Returns True when it had to generate."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    try:
        with open(manifest_path) as f:
            manifest = json.load(f)
        if manifest["rows"] == _on_disk(out_dir):
            return False
    except (OSError, ValueError, KeyError):
        pass
    shutil.rmtree(out_dir, ignore_errors=True)
    tmp = out_dir + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rows = {}
    for name, table in _tables():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
        rows[name] = table.num_rows
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump({"rows": rows}, f, indent=1, sort_keys=True)
    os.replace(tmp, out_dir)
    return True
