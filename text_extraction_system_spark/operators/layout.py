"""Plain-text assembly + page table — pure built-ins (SURVEY.md W5/W6).

Reference semantics: paragraphs end with '\\n', pages end with '\\n\\f'
(``PDFToTextWithCoordinates.java:581-582``); per-page char ranges accumulate
as text is written (``startPage`` Java :86-89, location array :535-543).

Page p owns spans with original offset in [PAGE_SPANS*p, PAGE_SPANS*(p+1)).
Page text = '\\n'.join(non-empty span texts) + '\\n\\f'. Page char bounds are
a running sum over page text lengths — a Hillis-Steele prefix-sum scan over
the page array (O(n log n)), still JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..core import spec
from .exprutil import per_jvm


def page_texts_col(out_spans: Column, dense: bool | None = None) -> Column:
    """array<string>: assembled text of each page (with separators).

    Fast path: when offsets are dense 0..n-1 and offset-ordered (always true
    for engine-derived spans — derive_spans assigns sequential offsets and
    restitch re-sorts on them), page ``p`` is exactly the contiguous slice
    ``[p*PAGE_SPANS+1, PAGE_SPANS]`` — O(S) total instead of the per-page
    filter's O(n_pages × S), which is quadratic for a giant doc (10^5 spans
    -> ~2.5e9 comparisons in one task). Externally-authored spans with gaps
    or out-of-order offsets (e.g. an intentionally empty leading page) take
    the offset-keyed filter path, matching core/oracle.assemble's offset
    semantics exactly.

    ``dense`` declares the offset-density invariant STATICALLY:
      * ``True``  — offsets are dense by construction (derive_spans output);
        emit only the slice path, no per-row check. This is the hot path:
        the runtime check costs a full extra zip_with+forall pass over
        ``out_spans`` per row, which round 2's driver bench showed as a
        20-70% regression across every assembly-family query.
      * ``False`` — known-sparse; emit only the offset-keyed path.
      * ``None``  — unknown provenance (external spans tables, the
        input_hint shape): one O(S) runtime density probe per row picks
        the path. Correct for anything, slower than a static contract."""
    from .exprutil import let

    n_pages = (F.element_at(out_spans, -1)["offset"] / spec.PAGE_SPANS).cast("int") + 1
    pages_idx = F.when(
        F.size(out_spans) > 0, F.sequence(F.lit(0), n_pages - 1)
    ).otherwise(F.array().cast("array<int>"))

    def page_end(body: Column) -> Column:
        # F5 null-char scrub on the assembled text (data_extract.py:113-114);
        # applied after the join so a NUL-only span keeps its separator slot
        return F.concat(F.translate(body, "\x00", ""), F.lit(spec.PAGE_END))

    # project the text field ONCE (let-bound): per-page slices then copy
    # PAGE_SPANS string refs instead of PAGE_SPANS full span structs
    def dense_pages(texts: Column) -> Column:
        def page_text(p: Column) -> Column:
            in_page = F.filter(
                F.slice(texts, p * spec.PAGE_SPANS + 1, spec.PAGE_SPANS),
                lambda t: t != "",
            )
            return page_end(F.array_join(in_page, spec.PARAGRAPH_SEP))

        return F.transform(pages_idx, page_text)

    def keyed_pages() -> Column:
        def page_text(p: Column) -> Column:
            in_page = F.filter(
                out_spans,
                lambda s: (s["text"] != "")
                & (F.floor(s["offset"] / spec.PAGE_SPANS).cast("int") == p),
            )
            return page_end(
                F.array_join(F.transform(in_page, lambda s: s["text"]), spec.PARAGRAPH_SEP)
            )

        return F.transform(pages_idx, page_text)

    if dense is True:
        return let(F.transform(out_spans, lambda s: s["text"]), dense_pages)
    if dense is False:
        return keyed_pages()

    is_dense = F.forall(
        F.zip_with(
            out_spans,
            F.sequence(F.lit(0), F.greatest(F.size(out_spans), F.lit(1)) - 1),
            lambda s, i: s["offset"] == i,
        ),
        lambda b: b,
    )
    return F.when(
        is_dense, let(F.transform(out_spans, lambda s: s["text"]), dense_pages)
    ).otherwise(keyed_pages())


def plain_text_col(page_texts: Column) -> Column:
    return F.array_join(page_texts, "")


#: static unroll depth of the prefix-sum scan. Runtime cost of the unrolled
#: expression is flat through ~15 nested passes and balloons beyond it
#: (0.05 s at 15, 0.46 s at 21 on the same frame — deep HOF-lambda nesting
#: taxes every task even when the branch is never taken), so the scan is
#: applied to CHUNK TOTALS rather than raw pages: 2^15 chunks x
#: _SCAN_CHUNK pages = 2M pages capacity at 15 passes.
_CUMSUM_PASSES = 15
#: pages pre-summed per chunk before the scan (and the within-chunk partial
#: sum bound: O(_SCAN_CHUNK) adds per page on the giant-doc path)
_SCAN_CHUNK = 64


def _cumsum_col(arr: Column, n_passes: int = _CUMSUM_PASSES) -> Column:
    """Inclusive prefix sums of a numeric array in O(n log n): Hillis-Steele
    doubling — pass k adds to each element the element 2^k to its left.
    Every pass is let-bound (HOFs have no CSE: the pass expression
    references its input three times, so un-bound chaining would cost
    3^n_passes evaluations), and passes beyond the array length short-
    circuit via the size guard. Replaces an ``aggregate`` fold that
    appended to an immutable accumulator array — O(n^2) element copies,
    measured at 22 s for one 25k-page giant doc vs 0.3 s for this scan.

    Inputs beyond the unroll capacity (2^n_passes elements) raise at
    runtime instead of silently emitting WRONG partial sums — a doc over
    ~2M pages (2^15 chunks x _SCAN_CHUNK) must fail loudly, not corrupt
    its page offsets; raise _CUMSUM_PASSES (cost note above) or
    _SCAN_CHUNK if such documents become real."""
    from .exprutil import let

    def one_pass(prev: Column, d: int) -> Column:
        n = F.size(prev)
        shifted = F.concat(
            F.array_repeat(F.lit(0).cast("bigint"), d), F.slice(prev, 1, n - d)
        )
        return F.when(n > d, F.zip_with(prev, shifted, lambda a, b: a + b)).otherwise(prev)

    def pass_fn(d: int):
        # a plain closure, NOT `lambda prev, d=...`: pyspark inspects lambda
        # arity, and a second (defaulted) parameter turns the binding into
        # the (element, index) transform form — d would become the index
        return lambda prev: one_pass(prev, d)

    cap = 1 << n_passes
    expr = F.when(F.size(arr) <= cap, F.transform(arr, lambda x: x.cast("bigint"))).otherwise(
        F.raise_error(
            F.concat(
                F.lit("_cumsum_col capacity exceeded: "),
                F.size(arr).cast("string"),
                F.lit(f" elements > 2^{n_passes} scan passes"),
            )
        )
    )
    for k in range(n_passes):
        expr = let(expr, pass_fn(1 << k))
    return expr


def _chunked_ends_col(page_texts: Column) -> Column:
    """Inclusive prefix sums of the page-text lengths, chunk-structured:
    per-chunk totals (one O(n) aggregate pass), the Hillis-Steele scan over
    the n/_SCAN_CHUNK totals, then per-page end = previous chunks' total +
    a within-chunk partial sum (<= _SCAN_CHUNK adds). O(n * chunk) work on
    arrays that reach this path, with an expression tree shallow enough to
    stay out of the deep-nesting tax documented at _CUMSUM_PASSES."""
    from .exprutil import let

    c = _SCAN_CHUNK

    def with_lens(L: Column) -> Column:
        n = F.size(L)
        nchunks = F.floor((n + (c - 1)) / c).cast("int")
        tots = F.transform(
            F.when(nchunks > 0, F.sequence(F.lit(0), nchunks - 1)).otherwise(
                F.array().cast("array<int>")
            ),
            lambda j: F.aggregate(
                F.slice(L, j * c + 1, c), F.lit(0).cast("bigint"), lambda a, x: a + x
            ),
        )

        def with_cum(ct: Column) -> Column:
            idx = F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(
                F.array().cast("array<int>")
            )

            def end_at(p: Column) -> Column:
                chunk = F.floor(p / c).cast("int")
                base = F.coalesce(
                    F.element_at(ct, F.when(chunk > 0, chunk)),
                    F.lit(0).cast("bigint"),
                )
                within = F.aggregate(
                    F.slice(L, chunk * c + 1, (p % c) + 1),
                    F.lit(0).cast("bigint"),
                    lambda a, x: a + x,
                )
                return base + within

            return F.transform(idx, end_at)

        return let(_cumsum_col(tots), with_cum)

    return let(
        F.transform(page_texts, lambda t: F.length(t).cast("bigint")), with_lens
    )


#: page counts at or below this use the sequential fold (O(n^2) element
#: copies, but n^2 <= 4096 — measured faster than the scan's 21 fixed
#: let-passes for typical documents); above it the scan wins by orders of
#: magnitude. The two produce identical integers, so the switch is purely
#: physical (pinned by pytest equality on both sides of the threshold).
_FOLD_MAX_PAGES = 64


def _fold_pages_col(page_texts: Column) -> Column:
    """Sequential running-sum fold — the small-doc fast path. Appending to
    the immutable accumulator array copies it per page (quadratic), which is
    FINE for n <= _FOLD_MAX_PAGES and catastrophic for a 25k-page giant."""
    zero = F.struct(
        F.array().cast(
            "array<struct<number:int,start:int,end:int,bbox:array<float>,rotation:int>>"
        ).alias("pages"),
        F.lit(0).alias("pos"),
    )

    def step(acc: Column, t: Column) -> Column:
        end = acc["pos"] + F.length(t)
        page = F.struct(
            F.size(acc["pages"]).alias("number"),
            acc["pos"].cast("int").alias("start"),
            end.cast("int").alias("end"),
            F.array(F.lit(0.0), F.lit(0.0), F.lit(612.0), F.lit(792.0))
            .cast("array<float>")
            .alias("bbox"),
            F.lit(0).alias("rotation"),
        )
        return F.struct(
            F.concat(acc["pages"], F.array(page)).alias("pages"),
            end.cast("int").alias("pos"),
        )

    return F.aggregate(page_texts, zero, step, lambda acc: acc["pages"])


def _scan_pages_col(page_texts: Column) -> Column:
    """Prefix-sum-scan formulation — the giant-doc path (O(n log n))."""
    from .exprutil import let

    def build(ends: Column) -> Column:
        def page(p: Column) -> Column:
            end = F.element_at(ends, p + 1)
            start = F.coalesce(F.element_at(ends, F.when(p > 0, p)), F.lit(0).cast("bigint"))
            return F.struct(
                p.cast("int").alias("number"),
                start.cast("int").alias("start"),
                end.cast("int").alias("end"),
                F.array(F.lit(0.0), F.lit(0.0), F.lit(612.0), F.lit(792.0))
                .cast("array<float>")
                .alias("bbox"),
                F.lit(0).alias("rotation"),
            )

        idx = F.when(
            F.size(ends) > 0, F.sequence(F.lit(0), F.size(ends) - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(idx, page)

    return let(_chunked_ends_col(page_texts), build)


def pages_col(page_texts: Column) -> Column:
    """array<struct<number,start,end,bbox,rotation>> with running char offsets
    (dto.py:87-98). bbox fixed US-Letter, rotation 0 for derived docs.

    Hybrid physical strategy, one semantics: char offsets are the prefix
    sums of page-text lengths; typical docs take the sequential fold, docs
    past _FOLD_MAX_PAGES take the Hillis-Steele scan (``when`` evaluates
    only the taken branch). Before the split, the fold alone made one
    25k-page giant doc cost 22 s; the scan alone added ~2 s of fixed
    let-pass overhead across 5000 normal docs. The hybrid is 0.9 s for
    both (sf0.1 + giant, measured)."""
    return F.when(
        F.size(page_texts) <= _FOLD_MAX_PAGES, _fold_pages_col(page_texts)
    ).otherwise(_scan_pages_col(page_texts))


@per_jvm
def _assembly_cols(dense: bool | None) -> tuple[Column, Column, Column]:
    page_texts = F.col("_page_texts")
    return (
        page_texts_col(F.col("out_spans"), dense=dense),
        plain_text_col(page_texts).alias("plain_text"),
        pages_col(page_texts).alias("pages"),
    )


def assemble(stitched: DataFrame, dense: bool | None = None) -> DataFrame:
    """(doc_id, needs_ocr, parse_failures, out_spans) -> + (plain_text, pages).

    ``dense`` is the static offset-density contract forwarded to
    ``page_texts_col`` — pass True when the spans were engine-derived."""
    page_texts, plain_text, pages = _assembly_cols(dense)
    return stitched.withColumn("_page_texts", page_texts).select(
        "doc_id", "needs_ocr", "parse_failures", "out_spans", plain_text, pages
    )
