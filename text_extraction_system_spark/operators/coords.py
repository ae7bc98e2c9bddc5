"""Char-coordinate operators: box construction + coordinate<->text queries.

``with_char_boxes`` produces the reference's PDFCoordinates analog as an
``array<array<float>>`` column via Arrow batches (``dto.py:168-173``); the
``char_coord_stats`` rows feed the oracle-checked query (the full box array
is validated by pytest invariants, the aggregates by DuckDB).

All four operators run the batched kernel (``charboxes.BatchBoxes``): one
numpy pass over the concatenation of the whole Arrow batch's texts instead
of python-per-document / python-per-paragraph loops — the per-paragraph
``line_areas`` calls alone were ~60% of the text_coords query's wall time.
The batched outputs are pinned row-for-row against the per-doc kernels by
pytest (tests/test_charboxes.py, tests/test_geometry.py).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

from ..core import charboxes
from . import arrowmap

CHAR_STATS_SCHEMA = (
    "doc_id string, n_chars long, n_boxes long, n_zero long, sum_x long, sum_y long"
)


def _bounds(pages: list) -> list[tuple[int, int]]:
    return [(p["start"], p["end"]) for p in pages]


def _batch(batch: pa.RecordBatch) -> tuple[list[str], charboxes.BatchBoxes]:
    texts = [t or "" for t in arrowmap.values(batch, "plain_text")]
    pages = arrowmap.values(batch, "pages")
    return texts, charboxes.BatchBoxes(texts, [_bounds(p) for p in pages])


def char_coord_stats(assembled: DataFrame) -> DataFrame:
    """Per-doc char-box aggregates (len(text)==len(boxes) is part of the
    emitted data: n_chars vs n_boxes)."""

    def gen(batches):
        for batch in batches:
            _, bb = _batch(batch)
            n = bb.doc_off[1:] - bb.doc_off[:-1]
            yield {
                "doc_id": batch.column("doc_id"),
                "n_chars": n,
                "n_boxes": n,  # the invariant: one box per char
                "n_zero": bb.doc_sums(~bb.printable),
                # box coords are integral multiples of CHAR_W/H — exact int64
                "sum_x": bb.doc_sums(bb.boxes[:, 0]),
                "sum_y": bb.doc_sums(bb.boxes[:, 1]),
            }

    return arrowmap.map_batches(
        assembled.select("doc_id", "plain_text", "pages"), gen, CHAR_STATS_SCHEMA
    )


#: J5 selection area: everything on page-local lines 1 and 2, any column
#: (y in [CHAR_H, 3*CHAR_H), x unbounded)
SELECTION_AREA = (0.0, charboxes.CHAR_H, 1e9, 2 * charboxes.CHAR_H)

TEXT_COORDS_SCHEMA = (
    "doc_id string, par_start long, par_end long, x long, y long, w long, h long"
)
COORDS_TEXT_SCHEMA = "doc_id string, sel_start long, sel_end long, sel_text string"


def text_to_coords(assembled: DataFrame) -> DataFrame:
    """J6 text->coords: every paragraph's char span -> merged per-line
    rectangles (reference ``text_coord_map.py:41-150``). A paragraph is a
    maximal run containing no '\\n'/'\\f' (textseg.paragraph_spans), so every
    char in it is printable and on ONE line of one page — the merged rect is
    (first x, line y, last x + CHAR_W - first x, CHAR_H), computed for ALL
    paragraphs of the batch by indexing the run endpoints (equality with the
    per-paragraph ``geometry.line_areas`` path is pinned by pytest). Integral
    CHAR_W/CHAR_H keep the emitted coords exact bigints (SQL-oracle-checkable).
    """

    def gen(batches):
        for batch in batches:
            texts, bb = _batch(batch)
            starts, ends, docs = bb.runs(bb.printable)
            x0 = bb.boxes[starts, 0].astype(np.int64)
            y0 = bb.boxes[starts, 1].astype(np.int64)
            x1 = (bb.boxes[ends - 1, 0] + bb.boxes[ends - 1, 2]).astype(np.int64)
            off = bb.doc_off[docs]
            yield {
                "doc_id": batch.column("doc_id").take(docs),
                "par_start": starts - off,
                "par_end": ends - off,
                "x": x0,
                "y": y0,
                "w": x1 - x0,
                "h": np.full(len(starts), int(charboxes.CHAR_H), dtype=np.int64),
            }

    return arrowmap.map_batches(
        assembled.select("doc_id", "plain_text", "pages"), gen, TEXT_COORDS_SCHEMA
    )


def coords_to_text(assembled: DataFrame) -> DataFrame:
    """J5 coords->text: the longest run of consecutive chars overlapping the
    SELECTION_AREA (>= 20% of each char's own box) and its text — reference
    ``coord_text_map.py:96-128`` find_longest_location. Separator chars have
    zero boxes, so runs never cross lines; the area covers page-local lines
    1-2 of every page, and the winner is the longest such run (earliest on
    ties, matching argmax-first semantics). One vectorized overlap pass over
    the whole batch, then a per-doc first-of-group selection."""
    from ..core import geometry

    def gen(batches):
        for batch in batches:
            texts, bb = _batch(batch)
            if len(bb.printable) == 0:
                continue
            mask = geometry.overlaps_enough(bb.boxes, SELECTION_AREA)
            starts, ends, docs = bb.runs(mask)
            if len(starts) == 0:
                continue
            # per doc: longest run, earliest start on ties (argmax-first)
            order = np.lexsort((starts, -(ends - starts), docs))
            _, first = np.unique(docs[order], return_index=True)
            best = order[first]
            off = bb.doc_off[docs[best]]
            ls = starts[best] - off
            le = ends[best] - off
            yield {
                "doc_id": batch.column("doc_id").take(docs[best]),
                "sel_start": ls,
                "sel_end": le,
                "sel_text": [texts[d][s:e] for d, s, e in
                             zip(docs[best], ls, le)],
            }

    return arrowmap.map_batches(
        assembled.select("doc_id", "plain_text", "pages"), gen, COORDS_TEXT_SCHEMA
    )


def with_char_boxes(assembled: DataFrame) -> DataFrame:
    """Append the full char-bbox array column (float32 rows of [x,y,w,h])."""

    def gen(batches):
        for batch in batches:
            _, bb = _batch(batch)
            yield {
                "doc_id": batch.column("doc_id"),
                "char_bboxes": [
                    bb.boxes[s:e].tolist()
                    for s, e in zip(bb.doc_off[:-1], bb.doc_off[1:])
                ],
            }

    boxed = arrowmap.map_batches(
        assembled.select("doc_id", "plain_text", "pages"), gen,
        "doc_id string, char_bboxes array<array<float>>",
    )
    return assembled.join(boxed, "doc_id")
