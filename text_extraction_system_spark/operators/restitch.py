"""Span processing + re-stitch: the fan-out/fan-in core of the engine.

Two physical strategies for the same logical transform (input spans ->
output spans with OCR applied, original order preserved):

* **inline** (default, shuffle-free): per-row array ``transform`` — the whole
  doc is processed where it sits. At 100 TB this is the hot path: documents
  are embarrassingly parallel and never shuffle.
* **fanout** (giant-doc path): ``posexplode`` one row per span, process
  per-span, then ``groupBy(doc_id).agg(array_sort(collect_list(...)))``
  re-stitch. This is the Spark rendition of the reference's per-page Celery
  chord (``tasks.py:259-293`` split, ``tasks.py:365-437`` + ``pdf/pdf.py:327-367``
  ordered merge — SURVEY.md J1/J2/J3). Only docs whose span count exceeds
  ``fanout_threshold`` take it, so the expensive shuffle touches the skewed
  tail only (north-rule skew handling).

``array_sort`` on struct arrays orders by the first field — we sort structs
keyed by ``offset`` first, restoring the exact original sequence: the
span-sequence-equality invariant.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import ocr
from .exprutil import per_jvm

DEFAULT_FANOUT_THRESHOLD = 256


@per_jvm
def _decision_cols() -> tuple[Column, Column]:
    """The doc-level OCR decision and failure codes over ``spans``."""
    return (
        ocr.needs_ocr_col(F.col("spans")).alias("needs_ocr"),
        ocr.parse_failures_col(F.col("spans")).alias("parse_failures"),
    )


@per_jvm
def _inline_out_spans_col() -> Column:
    return F.transform(
        F.col("spans"), lambda s: ocr.apply_ocr_to_span(s, F.col("needs_ocr"))
    ).alias("out_spans")


@per_jvm
def _fanout_cols() -> tuple[Column, Column, Column]:
    """Per-span OCR over the exploded ``s``, the ordered gather of the
    results, and the unkeying of the gathered array."""
    mapped = ocr.apply_ocr_to_span(F.col("s"), F.col("needs_ocr")).alias("o")
    keyed = F.array_sort(
        F.collect_list(F.struct(F.col("o.offset").alias("offset"), F.col("o").alias("s")))
    ).alias("keyed")
    out_spans = F.transform(F.col("keyed"), lambda k: k["s"]).alias("out_spans")
    return mapped, keyed, out_spans


def process_spans_inline(spans_df: DataFrame) -> DataFrame:
    """(doc_id, spans) -> (doc_id, needs_ocr, out_spans, parse_failures);
    no shuffle."""
    return spans_df.select("doc_id", *_decision_cols(), "spans").select(
        "doc_id", "needs_ocr", "parse_failures", _inline_out_spans_col()
    )


def process_spans_fanout(spans_df: DataFrame, may_have_empty: bool = True) -> DataFrame:
    """Same result via explode -> per-span map -> ordered gather.

    The groupBy shuffle hashes on doc_id, so all of one giant doc's spans
    land in one reduce task; ``collect_list`` + ``array_sort`` on
    (offset, span) structs is the ordered re-merge.

    ``may_have_empty=False`` skips the zero-span carry-through branch (an
    extra input scan) when the caller guarantees every doc has spans — true
    for the routed path, where empty docs always go inline.
    """
    decided = spans_df.select("doc_id", *_decision_cols(), "spans")
    exploded = decided
    empty = None
    if may_have_empty:
        # explode drops zero-span docs; carry them through explicitly so the
        # two physical strategies agree on empty docs (out_spans = []).
        empty = decided.where(F.size("spans") == 0).select(
            "doc_id", "needs_ocr", "parse_failures", F.col("spans").alias("out_spans")
        )
        exploded = decided.where(F.size("spans") > 0)
    exploded = exploded.select(
        "doc_id", "needs_ocr", "parse_failures", F.explode("spans").alias("s")
    )
    mapped_col, keyed_col, out_spans_col = _fanout_cols()
    mapped = exploded.select("doc_id", "needs_ocr", "parse_failures", mapped_col)
    gathered = mapped.groupBy("doc_id", "needs_ocr", "parse_failures").agg(keyed_col)
    out = gathered.select("doc_id", "needs_ocr", "parse_failures", out_spans_col)
    return out.unionByName(empty) if empty is not None else out


def process_spans(
    spans_df: DataFrame, fanout_threshold: int | None = DEFAULT_FANOUT_THRESHOLD
) -> DataFrame:
    """Route small docs through the shuffle-free path and giant docs through
    the fan-out path, then union. ``fanout_threshold=None`` disables the
    fanout branch entirely (fully shuffle-free plan — for corpora known to
    have no giant docs); ``<= 0`` forces fanout everywhere (used by tests to
    prove path equivalence)."""
    if fanout_threshold is None:
        return process_spans_inline(spans_df)
    if fanout_threshold <= 0:
        return process_spans_fanout(spans_df)
    small = spans_df.where(F.size("spans") <= fanout_threshold)
    giant = spans_df.where(F.size("spans") > fanout_threshold)
    # giant docs have > threshold >= 1 spans, never zero — skip the
    # empty-doc carry-through scan in the fanout branch
    return process_spans_inline(small).unionByName(
        process_spans_fanout(giant, may_have_empty=False)
    )
