"""Seeded input generator for the benchmark.

Writes the ten tables graft reads (the star schema, `events`, `documents`,
`embeddings`) as single parquet files, with the schemas and value domains of
the repository's reference test data, so every input of a run comes from the
seed and nothing outside the checkout is read.

`scale` is the TPC-H-style scale factor of the retail tables (0.01 gives
about 60k lineitem rows). The corpus is `docs` base documents and `vecs`
base vectors, each replicated `replicas` times with distinct content per
replica: replica r > 0 appends the token `r<r>` to the text and shifts every
embedding dimension by r * 1e-5, so replicas are near-duplicates rather than
verbatim twins.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark stream batch window join agg filter scan sort hash merge group "
         "key value row column table query vector order line part customer fast slow big "
         "small").split()
LANGS, LANG_P = ["en", "zh", "es", "fr", "de"], [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
SOURCES = 20
DIM = 64
DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us")
EPOCH_2024 = np.datetime64("2024-01-01", "us")


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, options, n):
    return np.asarray(options, dtype=object)[rng.integers(0, len(options), n)]


def _write(out, name, columns):
    table = pa.table(columns)
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return table.num_rows


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    langs = rng.choice(LANGS, n, p=LANG_P)
    sources = rng.integers(0, SOURCES, n)
    return texts, langs, sources


def generate(out, seed, scale, docs, vecs, replicas):
    """Writes every table under `out`; returns {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rngs = iter(np.random.default_rng(seed).spawn(16))
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = n_cust * 10
    n_events = max(500, int(1_000_000 * scale))
    n_users = max(10, n_cust // 10)
    rows = {}

    rows["region"] = _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    rows["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = next(rngs)
    rows["customer"] = _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust)})

    r = next(rngs)
    rows["supplier"] = _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(r, -999.99, 9999.99, n_supp)})

    r = next(rngs)
    rows["part"] = _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(r, PART_ADJ, n_part) + " " + _pick(r, PART_NOUN, n_part),
        "p_brand": ["Brand#%d" % b for b in r.integers(1, 26, n_part)],
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})

    r = next(rngs)
    order_day = r.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    order_date = EPOCH_1995 + order_day * np.timedelta64(1, "D")
    rows["orders"] = _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(r, ["O", "F", "P"], n_ord),
        "o_totalprice": _cents(r, 1000, 500000, n_ord),
        "o_orderdate": pa.array(order_date, pa.timestamp("us")),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord)})

    r = next(rngs)
    lines = r.integers(1, 8, n_ord)
    n_line = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    rows["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": (np.arange(n_line) - first + 1).astype(np.int32),
        "l_quantity": r.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(r, 900, 105000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": pa.array(order_date[okey] + r.integers(1, 122, n_line) * np.timedelta64(1, "D"),
                               pa.timestamp("us"))})

    r = next(rngs)
    etype = _pick(r, EVENT_TYPES, n_events)
    value = np.where(etype == "purchase", _cents(r, 5, 560, n_events), _cents(r, 0, 120, n_events))
    rows["events"] = _write(out, "events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + (r.random(n_events) * 30 * DAY_US).astype(np.int64)
                       * np.timedelta64(1, "us"), pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_events),
        "event_type": etype,
        "value": value,
        "props": ['{"k": %d}' % k for k in r.integers(0, 100, n_events)]})

    texts, langs, sources = _documents(next(rngs), docs)
    all_texts = [t if rep == 0 else f"{t} r{rep}" for rep in range(replicas) for t in texts]
    rows["documents"] = _write(out, "documents", {
        "doc_id": np.arange(docs * replicas, dtype=np.int64),
        "text": all_texts,
        "lang": np.tile(langs, replicas),
        "source": [f"src{s}" for s in np.tile(sources, replicas)],
        "n_chars": np.array([len(t) for t in all_texts], dtype=np.int64)})

    r = next(rngs)
    g = r.standard_normal((vecs, DIM))
    base = (g / np.linalg.norm(g, axis=1, keepdims=True)).astype(np.float32)
    labels = r.integers(0, 10, vecs).astype(np.int32)
    emb = np.concatenate([(base.astype(np.float64) + rep * 1e-5).astype(np.float32)
                          for rep in range(replicas)])
    rows["embeddings"] = _write(out, "embeddings", {
        "vec_id": np.arange(vecs * replicas, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": np.tile(labels, replicas)})
    return rows
