"""Span-chain expressions are built once per live JVM (operators/exprutil
``per_jvm``): a repeated pipeline build makes no builder calls, and a new
interpreter or a relaunched gateway rebuilds the expressions instead of
reusing dead handles — with results equal to the spec oracle either way."""

from __future__ import annotations

import collections
import json
import os
import subprocess
import sys

import pytest
from conftest import SF_DIR

from text_extraction_system_spark import pipeline
from text_extraction_system_spark.operators import derive_spans as ds
from text_extraction_system_spark.operators import layout, ocr

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: every column builder the span chain calls on a cold build
_BUILDERS = (
    (ds, "derived_spans_col"),
    (ocr, "needs_ocr_col"),
    (ocr, "parse_failures_col"),
    (ocr, "apply_ocr_to_span"),
    (layout, "page_texts_col"),
    (layout, "plain_text_col"),
    (layout, "pages_col"),
)


@pytest.fixture()
def builder_calls(monkeypatch):
    calls = collections.Counter()
    for mod, name in _BUILDERS:
        real = getattr(mod, name)

        def counted(*args, _real=real, _name=name, **kwargs):
            calls[_name] += 1
            return _real(*args, **kwargs)

        monkeypatch.setattr(mod, name, counted)
    return calls


def test_second_build_calls_no_builders(spark, docs_df, builder_calls):
    pipeline.extract_from_spans(ds.derive_spans(docs_df))
    builder_calls.clear()
    pipeline.extract_from_spans(ds.derive_spans(docs_df))
    assert builder_calls == {}

    # the key is the input column names: a new text column builds once
    renamed = docs_df.withColumnRenamed("text", "memo_probe_text")
    for _ in range(2):
        ds.derive_spans(renamed, text_col="memo_probe_text")
    assert builder_calls == {"derived_spans_col": 1}


_SCRIPT = """
import json, sys
from pyspark import SparkContext
from text_extraction_system_spark import pipeline
from text_extraction_system_spark.core import oracle
from text_extraction_system_spark.operators import derive_spans as ds, layout
from text_extraction_system_spark.session import get_spark

builds = []
real_pages_col = layout.pages_col
def counted(*args, **kwargs):
    builds.append(1)
    return real_pages_col(*args, **kwargs)
layout.pages_col = counted

def spans(rows):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in rows]

def mismatches(spark):
    docs = spark.read.parquet(sys.argv[1])
    # a low fanout threshold sends part of the corpus down the fanout path
    got = pipeline.extract_from_spans(ds.derive_spans(docs), fanout_threshold=8,
                                      with_structure=False)
    got = {r["doc_id"]: r.asDict(recursive=True) for r in got.collect()}
    bad = 0
    for r in docs.select("doc_id", "text").collect():
        e, g = oracle.extract(str(r["doc_id"]), r["text"]), got[str(r["doc_id"])]
        want = [(s.kind, s.text, s.media_ref, s.offset) for s in e.out_spans]
        bad += (g["needs_ocr"], spans(g["out_spans"]), g["plain_text"], g["pages"],
                g["parse_failures"]) != (e.needs_ocr, want, e.plain_text, e.pages,
                                         e.parse_failures)
    return len(got), bad

out = []
spark = get_spark(master="local[2]", shuffle_partitions=2)
for _ in range(2):
    out.append((*mismatches(spark), len(builds)))
# relaunch the gateway: a new JVM where the memoized handles do not exist
spark.stop()
SparkContext._gateway.shutdown()
SparkContext._gateway.proc.stdin.close()
SparkContext._gateway.proc.wait(timeout=60)
SparkContext._gateway = SparkContext._jvm = None
spark = get_spark(master="local[2]", shuffle_partitions=2)
out.append((*mismatches(spark), len(builds)))
spark.stop()
print(json.dumps(out))
"""


def test_fresh_interpreter_and_relaunched_gateway_rebuild():
    r = subprocess.run(
        [sys.executable, "-c", _SCRIPT, f"{SF_DIR}/documents.parquet"],
        capture_output=True, text=True, cwd=ROOT, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    phases = json.loads(r.stdout.strip().splitlines()[-1])
    # (docs, oracle mismatches, cumulative pages_col builds) per phase:
    # built once in the first JVM, reused, built again in the new JVM
    assert phases == [[500, 0, 1], [500, 0, 1], [500, 0, 2]]
