"""The Arrow kernel helper (``operators.arrowmap``) and the one-idiom
boundary it enforces: no ``__spark_entry__`` query plans a ``MapInPandas``
node, the package source calls ``.mapInArrow(`` exactly once (inside the
helper) and ``.mapInPandas(`` never, and the helper's batch building keeps
types, nulls and vector shapes exact."""

from __future__ import annotations

import pathlib
import re

import numpy as np
import pyarrow as pa
import pytest
from conftest import SF_DIR
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

import __spark_entry__ as entry
from text_extraction_system_spark.core import spec
from text_extraction_system_spark.operators import arrowmap, dedup, multimodal

PKG = pathlib.Path(__file__).resolve().parents[1] / "text_extraction_system_spark"


def _node_names(plan) -> list[str]:
    """Names of every physical node under ``plan``, through AQE wrappers
    and into subqueries (inner children)."""
    if plan.nodeName() == "AdaptiveSparkPlan":
        return _node_names(plan.executedPlan())
    names = [plan.nodeName()]
    for seq in (plan.children(), plan.innerChildren()):
        for i in range(seq.size()):
            names += _node_names(seq.apply(i))
    return names


def test_no_entry_query_plans_map_in_pandas(spark):
    hits = {}
    for name, build in entry.queries().items():
        plan = build(spark, SF_DIR)._jdf.queryExecution().executedPlan()
        names = _node_names(plan)
        assert "Scan" in " ".join(names) or "LocalTableScan" in names, name
        if "MapInPandas" in names:
            hits[name] = names.count("MapInPandas")
    assert hits == {}


def test_package_calls_map_in_arrow_once_and_map_in_pandas_never():
    calls = {"mapInPandas": [], "mapInArrow": []}
    for path in sorted(PKG.rglob("*.py")):
        src = path.read_text()
        for kind in calls:
            calls[kind] += [path.name] * len(re.findall(rf"\.{kind}\(", src))
    assert calls == {"mapInPandas": [], "mapInArrow": ["arrowmap.py"]}


def test_all_empty_partition_output_is_typed(spark):
    """Every batch yields zero rows (docs shorter than SHINGLE_K words; docs
    with no media spans): the result is empty with the declared schema."""
    short = " ".join(["w"] * (spec.SHINGLE_K - 1))
    docs = spark.createDataFrame(
        [(1, short), (2, ""), (3, None)], "doc_id bigint, text string"
    )
    cases = [
        (dedup.doc_shingles(docs), "doc_id string, shingles array<string>"),
        (multimodal.extract_features(docs), multimodal.FEATURES_SCHEMA),
    ]
    for df, ddl in cases:
        schema = T.StructType.fromDDL(ddl)
        assert df.schema == schema
        got = df.toArrow()
        assert got.num_rows == 0
        assert got.schema.types == to_arrow_schema(schema).types


SCHEMA = pa.schema([
    ("s", pa.string()), ("l", pa.list_(pa.string())), ("i", pa.int32()),
])


def test_record_batch_keeps_nulls_and_declared_types():
    b = arrowmap.record_batch(
        {"s": ["a", None], "l": [None, ["x", None]],
         "i": np.array([1, 2], dtype=np.int64)},
        SCHEMA,
    )
    assert b.schema.types == SCHEMA.types
    assert b.to_pydict() == {"s": ["a", None], "l": [None, ["x", None]], "i": [1, 2]}


def test_record_batch_empty_columns_are_typed():
    b = arrowmap.record_batch({"s": [], "l": [], "i": np.array([], np.int64)}, SCHEMA)
    assert b.num_rows == 0 and b.schema.types == SCHEMA.types


def test_record_batch_rejects_out_of_range_ints_and_wrong_columns():
    with pytest.raises(pa.ArrowInvalid):
        arrowmap.record_batch(
            {"s": ["a"], "l": [[]], "i": np.array([2**40], dtype=np.int64)}, SCHEMA
        )
    with pytest.raises(ValueError, match="columns"):
        arrowmap.record_batch({"s": ["a"], "l": [[]]}, SCHEMA)


def test_record_batch_passes_arrow_arrays_through_zero_copy():
    s = pa.array(["a", "b"])
    b = arrowmap.record_batch({"s": s, "l": [[], []], "i": [1, 2]}, SCHEMA)
    assert b.column(0).buffers()[2].address == s.buffers()[2].address


def test_vectors_reshape_and_reject_ragged_rows():
    col = pa.array([[1.0, 2.0], [3.0, 4.0]], type=pa.list_(pa.float32()))
    x = arrowmap.vectors(col)
    assert x.dtype == np.float64 and x.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    assert arrowmap.vectors(col.slice(1)).tolist() == [[3.0, 4.0]]
    assert arrowmap.vectors(pa.array([[1, 2]]), np.int64).dtype == np.int64
    for bad in ([[1.0, 2.0], [3.0]], [[1.0, 2.0], None]):
        with pytest.raises(ValueError, match="ragged"):
            arrowmap.vectors(pa.array(bad))


def test_map_batches_end_to_end(spark):
    """Nulls, a numpy int64 column into an int field and a zero-copy
    pass-through column survive the JVM round trip; a ragged vector column
    fails the query instead of reshaping."""
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0, 4.0])], "id bigint, v array<double>"
    )

    def kernel(batches):
        for batch in batches:
            x = arrowmap.vectors(batch.column("v"))
            yield {
                "id": batch.column("id"),
                "s": [None if i == 1 else str(i) for i in arrowmap.values(batch, "id")],
                "l": [None] * batch.num_rows,
                "n": x.sum(axis=1).astype(np.int64),
            }

    out = arrowmap.map_batches(
        df, kernel, "id bigint, s string, l array<string>, n int"
    ).orderBy("id").collect()
    assert [tuple(r) for r in out] == [(1, None, None, 3), (2, "2", None, 7)]

    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "id bigint, v array<double>"
    )
    with pytest.raises(Exception, match="ragged"):
        arrowmap.map_batches(
            ragged.coalesce(1), kernel, "id bigint, s string, l array<string>, n int"
        ).collect()
