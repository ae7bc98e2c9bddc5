"""``segment_structure`` — the one Arrow-vectorized UDF of the core pipeline.

Everything upstream (derive, OCR decide, OCR stub, re-stitch, page assembly)
is Catalyst expressions; paragraph/sentence offset segmentation, language
scoring, title and section detection need regex + offset arithmetic, which is
where the reference leaned on lexnlp (``data_extract.py:149-186``). Here it
is ONE ``pandas_udf`` over the assembled plain-text column: one Arrow batch
in, one struct column out, no per-row Python in the Spark plan
(BASELINE.json input_hint).

The segmentation rules themselves live in ``core.textseg`` / ``core.langid``
so the oracle and the UDF share literally the same code.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .. import schemas
from ..core import langid, textseg
from . import arrowmap


def _structure_of(text: str, force_language: str | None = None) -> dict:
    """``force_language`` mirrors the reference's per-request doc_language
    override: every segment reports the forced language
    (two_langs fixture semantics, test_data_extract.py:44-57).

    Language scoring tokenizes the doc once (langid.LangIndex) and scores
    each paragraph/sentence from token offsets — equivalent to per-slice
    detection (segment boundaries never cut tokens) without re-tokenizing
    the text ~3x and allocating a lowered slice per segment."""
    if force_language:
        def lang(_s: int, _e: int | None = None) -> str:
            return force_language
    else:
        lang = langid.LangIndex(text).lang

    paragraphs = [
        {"start": s, "end": e, "language": lang(s, e)}
        for s, e in textseg.paragraph_spans(text)
    ]
    sentences = [
        {"start": s, "end": e, "language": lang(s, e)}
        for s, e in textseg.sentence_spans(text)
    ]
    return {
        "title": textseg.detect_title(text),
        "language": lang(0, None),
        "paragraphs": paragraphs,
        "sentences": sentences,
        "sections": textseg.detect_sections(text),
    }


def make_segment_structure(force_language: str | None = None):
    @pandas_udf(schemas.STRUCTURE)
    def segment_structure(texts: pd.Series) -> pd.DataFrame:
        rows = [
            _structure_of(t if t is not None else "", force_language) for t in texts
        ]
        return pd.DataFrame(rows)

    return segment_structure


segment_structure = make_segment_structure()


def with_structure(
    assembled: DataFrame,
    text_col: str = "plain_text",
    force_language: str | None = None,
) -> DataFrame:
    udf = segment_structure if force_language is None else make_segment_structure(force_language)
    return assembled.withColumn("structure", udf(F.col(text_col)))


_PARAGRAPH_ROWS_SCHEMA = (
    "doc_id string, par_start long, par_end long, language string"
)


def paragraph_rows(assembled: DataFrame, text_col: str = "plain_text") -> DataFrame:
    """Row-per-paragraph segmentation via an Arrow kernel (``arrowmap``).

    A generator (``explode``) cannot host a pandas-UDF result in its input
    expression tree, so queries that need exploded structure use this plan
    node instead: one Arrow batch in, paragraph rows out — still zero
    per-row Python.
    """

    def gen(batches):
        for batch in batches:
            out = {"doc_id": [], "par_start": [], "par_end": [], "language": []}
            for doc_id, text in arrowmap.rows(batch, "doc_id", text_col):
                t = text if text is not None else ""
                lang = langid.LangIndex(t).lang
                for s, e in textseg.paragraph_spans(t):
                    out["doc_id"].append(doc_id)
                    out["par_start"].append(s)
                    out["par_end"].append(e)
                    out["language"].append(lang(s, e))
            yield out

    return arrowmap.map_batches(
        assembled.select("doc_id", text_col), gen, _PARAGRAPH_ROWS_SCHEMA
    )


_SENTENCE_ROWS_SCHEMA = (
    "doc_id string, sent_start long, sent_end long, language string"
)


def sentence_rows(assembled: DataFrame, text_col: str = "plain_text") -> DataFrame:
    """Row-per-sentence segmentation (W1) via an Arrow kernel."""

    def gen(batches):
        for batch in batches:
            out = {"doc_id": [], "sent_start": [], "sent_end": [], "language": []}
            for doc_id, text in arrowmap.rows(batch, "doc_id", text_col):
                t = text if text is not None else ""
                lang = langid.LangIndex(t).lang
                for s, e in textseg.sentence_spans(t):
                    out["doc_id"].append(doc_id)
                    out["sent_start"].append(s)
                    out["sent_end"].append(e)
                    out["language"].append(lang(s, e))
            yield out

    return arrowmap.map_batches(
        assembled.select("doc_id", text_col), gen, _SENTENCE_ROWS_SCHEMA
    )


_SECTION_ROWS_SCHEMA = (
    "doc_id string, start long, end long, title string, "
    "title_start long, title_end long, level long"
)


def section_rows(assembled: DataFrame, text_col: str = "plain_text") -> DataFrame:
    """Row-per-section heading detection (W3/J8) via an Arrow kernel."""

    def gen(batches):
        cols = ["doc_id", "start", "end", "title", "title_start", "title_end", "level"]
        for batch in batches:
            out = {k: [] for k in cols}
            for doc_id, text in arrowmap.rows(batch, "doc_id", text_col):
                t = text if text is not None else ""
                for sec in textseg.detect_sections(t):
                    out["doc_id"].append(doc_id)
                    for k in cols[1:]:
                        out[k].append(sec[k])
            yield out

    return arrowmap.map_batches(
        assembled.select("doc_id", text_col), gen, _SECTION_ROWS_SCHEMA
    )
