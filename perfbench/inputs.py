"""Seeded input generator: every table the benchmark hands to the program.

The program only ever sees what this module writes. Everything is derived
from numpy generators: the corpus *shape* (texts, lengths, table contents)
comes from a fixed base seed, and the run's ``--seed`` salts or permutes the
document ids on top of it. Because the extraction engine derives media spans
and the OCR decision from ``md5(doc_id:i)``, a new seed changes which docs
carry media and go through OCR while the length distribution stays put.

Shapes follow the repository's synthetic test corpora (TESTDATA.md):
documents are 10-99 words (44-577 chars, median ~295) drawn from a 30-word
vocabulary, 5% of them exact copies of another doc plus a trailing ``dup``;
the TPC-H-style tables, events and embeddings follow the same columns and
value ranges at the sf0.01 size.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: corpus-shape seed shared by every run; ``--seed`` only re-keys doc ids
BASE_SEED = 20240101

VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
DUP_SHARE = 0.05
N_SOURCES = 20

#: giant docs: enough words to exceed the 256-span fanout threshold
#: (2 spans per 8 words at most, so > 1024 words always crosses it)
GIANT_WORDS = (1100, 2500)


def _texts(rng: np.random.Generator, n: int, lo: int = 10, hi: int = 100) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)[words]
    ends = np.cumsum(lens)
    texts = [" ".join(vocab[e - k:e]) for e, k in zip(ends, lens)]
    n_dup = int(n * DUP_SHARE)
    dups = rng.choice(n, n_dup, replace=False)
    srcs = rng.integers(0, n, n_dup)
    for d, s in zip(dups, srcs):
        if d != s:
            texts[d] = texts[s] + " dup"
    return texts


def _docs_table(texts: list[str], doc_ids: np.ndarray, rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    lang = np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)]
    src = np.array([f"src{i % N_SOURCES}" for i in range(n)], dtype=object)
    return pa.table({
        "doc_id": pa.array(doc_ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang, pa.string()),
        "source": pa.array(src, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _write_parts(table: pa.Table, path: str, n_files: int) -> list[str]:
    """Multi-file parquet dataset (``part-NNNNN.parquet``), the layout a
    Spark job leaves behind; returns the file paths in order."""
    os.makedirs(path, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    files = []
    for i in range(n_files):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), f,
                       compression="zstd")
        files.append(f)
    return files


def extraction_corpus(path: str, seed: int, n_docs: int, n_files: int,
                      giant_share: float = 0.0) -> dict:
    """Documents table for the extraction workloads.

    Texts come from the base seed; ``seed`` salts the doc ids (a seeded
    permutation offset by ``seed * 10**8``) and the row order. ``giant_share``
    of the docs are replaced by giant documents that take the fanout path.
    Returns a description of what was written."""
    base = np.random.default_rng(BASE_SEED)
    texts = _texts(base, n_docs)
    n_giant = int(round(n_docs * giant_share))
    if n_giant:
        for i in base.choice(n_docs, n_giant, replace=False):
            k = int(base.integers(*GIANT_WORDS))
            texts[i] = " ".join(np.array(VOCAB, dtype=object)[base.integers(0, len(VOCAB), k)])
    run = np.random.default_rng(seed)
    order = run.permutation(n_docs)
    texts = [texts[i] for i in order]
    doc_ids = np.int64(seed) * 10**8 + run.permutation(n_docs)
    table = _docs_table(texts, doc_ids, base)
    files = _write_parts(table, path, n_files)
    return {
        "docs": n_docs,
        "bytes": sum(os.path.getsize(f) for f in files),
        "text_bytes": int(sum(len(t.encode()) for t in texts)),
        "giant_docs": n_giant,
        "files": files,
    }


SF = {
    "documents": 500, "embeddings": 500, "events": 10_000, "users": 150,
    "orders": 15_000, "customer": 1_500, "supplier": 100, "part": 2_000,
}
EMB_DIM = 64
EMB_LABELS = 10
_TS0 = np.datetime64("2024-01-01T00:00:00", "us")
_DATE0 = np.datetime64("1995-01-01", "D")


def _ts_col(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), pa.timestamp("us"))


def suite_dir(path: str, seed: int) -> dict:
    """An sf-dir for the curation queries, with one parquet file and one row
    group per table (the layout of the repository's test corpora). All
    tables come from the base seed; ``seed`` permutes the document ids."""
    os.makedirs(path, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED + 1)
    n = SF["documents"]
    texts = _texts(rng, n)
    doc_ids = np.random.default_rng(seed).permutation(n)
    tables = {"documents": _docs_table(texts, doc_ids, rng)}

    centers = rng.normal(size=(EMB_LABELS, EMB_DIM))
    labels = rng.integers(0, EMB_LABELS, SF["embeddings"])
    emb = centers[labels] + 0.8 * rng.normal(size=(SF["embeddings"], EMB_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(SF["embeddings"]), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })

    ne = SF["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, ne))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": _ts_col(_TS0 + (secs * 1e6).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, SF["users"], ne), pa.int64()),
        "event_type": pa.array(rng.choice(
            ["view", "click", "purchase", "signup", "error"], ne), pa.string()),
        "value": pa.array(np.round(rng.exponential(50, ne), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string()),
    })

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    nc, ns, np_ = SF["customer"], SF["supplier"], SF["part"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2),
    })
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (np_, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2),
    })

    no = SF["orders"]
    odate = _DATE0 + rng.integers(0, 2404, no).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _ts_col(odate),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    })
    per_order = rng.integers(1, 8, no)
    nl = int(per_order.sum())
    qty = rng.integers(1, 51, nl).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(no), per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in per_order]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _ts_col(np.repeat(odate, per_order)
                              + rng.integers(1, 122, nl).astype("timedelta64[D]")),
    })

    for name, t in tables.items():
        pq.write_table(t, os.path.join(path, f"{name}.parquet"),
                       row_group_size=1 << 24, compression="zstd")
    return {
        "docs": n,
        "bytes": sum(os.path.getsize(os.path.join(path, f"{t}.parquet")) for t in tables),
        "rows": {name: t.num_rows for name, t in tables.items()},
    }
