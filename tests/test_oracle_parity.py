"""Engine-vs-oracle parity for the curation and ANN queries, each served by
one Arrow/numpy kernel: the Spark output of ``queries()[name]`` must equal
its ``oracle_sql()[name]`` DuckDB twin EXACTLY — string-rendered frame
equality (the check of tests/test_oracle_edge_corpus.py), so floats are
repr-exact, not rounded. The twins are independent SQL formulations of the
same folds and tie-breaks, so a kernel that reorders a float accumulation
or breaks a tie differently fails here."""

from __future__ import annotations

import glob
import os
import tempfile

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entry

SF_QUERIES = [
    "ann_topk", "ann_ivf_topk", "ann_ivf_trained", "ann_pq_topk",
    "ann_pq_rerank", "ann_ivf_pq",
    "tfidf_keywords", "dup_windows", "simhash", "repetition",
]


def _duck(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        if glob.glob(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _parity(spark, sf_dir: str, con, name: str) -> pd.DataFrame:
    """Assert the query equals its twin; returns the Spark frame."""
    q = entry.queries()[name](spark, sf_dir)
    cols = q.columns
    got = q.toPandas()
    sdf = got.sort_values(by=cols).reset_index(drop=True).astype(str)
    odf = (
        con.execute(entry.oracle_sql()[name]).df()[cols]
        .sort_values(by=cols).reset_index(drop=True).astype(str)
    )
    assert len(sdf) == len(odf), f"{name}: {len(sdf)} vs {len(odf)} rows"
    pd.testing.assert_frame_equal(sdf, odf, check_dtype=False)
    return got


@pytest.fixture(scope="module")
def sf_duck(sf_dir):
    con = _duck(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", SF_QUERIES)
def test_sf_query_matches_oracle(spark, sf_dir, sf_duck, name):
    got = _parity(spark, sf_dir, sf_duck, name)
    assert len(got), name
    if name == "repetition":
        # the full Gopher battery is populated: long docs carry every column
        frac = [c for c in got.columns if c.endswith("gram_char_frac")]
        assert got[frac].notna().all(axis=1).any()


def _docs_frame(texts: dict[int, str]) -> pd.DataFrame:
    return pd.DataFrame({
        "doc_id": list(texts),
        "text": list(texts.values()),
        "lang": ["en"] * len(texts),
        "source": ["srcX"] * len(texts),
        "n_chars": [len(t) for t in texts.values()],
    })


def test_repetition_chain_and_counter_paths_match_oracle(spark):
    """One giant doc above NP_CHAIN_MIN_TOKENS (the numpy rolling-key chain
    path) and one below it (the Counter path), both with engineered line
    and n-gram repeats, must match the DuckDB twin column for column."""
    from text_extraction_system_spark.operators import textstats

    words = [f"w{i % 97}" for i in range(5000)] + ["alpha", "beta"] * 40
    small_words = words[:2000] + ["alpha", "beta"] * 40
    texts = {
        1: "line one\nline one\n" + " ".join(words),
        2: "line one\nline one\n" + " ".join(small_words),
    }
    d = tempfile.mkdtemp()
    spark.createDataFrame(_docs_frame(texts)).write.parquet(f"{d}/documents.parquet")
    with _duck(d) as con:
        got = _parity(spark, d, con, "repetition")
    assert len(got) == 2
    # the two docs sit on either side of the path switch after extraction
    from text_extraction_system_spark import pipeline

    plain = {
        int(r["doc_id"]): r["plain_text"]
        for r in pipeline.extract_from_documents(
            spark.read.parquet(f"{d}/documents.parquet"), with_structure=False
        ).collect()
    }
    n_big, n_small = (len(textstats.py_tokens(plain[i])) for i in (1, 2))
    assert (n_big, n_small) == (5084, 2084)
    assert n_big >= textstats.NP_CHAIN_MIN_TOKENS > n_small


def _write_embeddings(spark, d: str, seed: int) -> None:
    rng = np.random.RandomState(seed)
    pdf = pd.DataFrame({
        "vec_id": range(40),
        "embedding": [rng.randn(64).astype("float32").tolist() for _ in range(40)],
        "label": [0] * 40,
    })
    spark.createDataFrame(pdf).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")


def test_regenerated_embeddings_retrain_ann_state(spark, drop_state):
    """The write-once ANN state (IVF centroids, PQ codebooks, SRP buckets)
    derives from embeddings: regenerating embeddings.parquet in place while
    documents stay unchanged must not serve the old corpus's state."""
    d = tempfile.mkdtemp()
    spark.createDataFrame(_docs_frame({1: "a few words of text"})).write.parquet(
        f"{d}/documents.parquet"
    )
    names = ["ann_pq_topk", "ann_ivf_trained", "incremental_ann"]
    try:
        for seed in (11, 12):
            _write_embeddings(spark, d, seed)
            with _duck(d) as con:
                for name in names:
                    _parity(spark, d, con, name)
    finally:
        drop_state(d)
