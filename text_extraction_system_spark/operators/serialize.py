"""Output wire formats (SURVEY.md S9/C9): json / msgpack / protobuf.

The reference encodes the structure DTOs per request into one of three wire
formats (``tasks.py:458-541``; ``OutputFormat`` dto.py:16-19). Columnar twin:
the struct column stays native in the table; serialization is an OPTIONAL
projection —

* json      — ``F.to_json`` (JVM-side, codegen; the default)
* msgpack   — an Arrow kernel (``arrowmap``) calling ``msgpack.packb`` when
  the wheel is installed, else the vendored spec-subset packer
  (``core.minipack`` — byte-identical for the DTO types), so the binary
  path always runs in CI
* protobuf  — vendored proto2 wire encoder (``core.miniproto``) matching the
  reference's ``contract_pages.proto`` message shapes byte-for-byte
  (golden-tested). Kept OFF the default path: the reference's own perf
  tests measured protobuf >2x slower to encode than msgpack at >1.5x the
  size (``test_data_extract.py:198-244``) — but the wire twin exists for
  consumers that require the contract format.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StructField, StructType

from . import arrowmap

try:  # optional dependency; the vendored packer is the fallback
    import msgpack  # type: ignore

    HAS_MSGPACK = True
    _packb = msgpack.packb
except ImportError:
    from ..core import minipack

    msgpack = None
    HAS_MSGPACK = False
    _packb = minipack.packb


def to_json_column(results: DataFrame, struct_col: str = "structure") -> DataFrame:
    """Append ``<struct_col>_json`` — stays entirely JVM-side."""
    return results.withColumn(f"{struct_col}_json", F.to_json(F.col(struct_col)))


def _append_binary(results: DataFrame, out_name: str, encode) -> DataFrame:
    """``results`` plus a binary column ``out_name``: ``encode(batch)``
    gives one blob per row; the input columns pass through untouched."""
    # build a NEW StructType: StructType.add mutates in place, which would
    # corrupt the input DataFrame's cached schema
    schema = StructType(
        list(results.schema.fields) + [StructField(out_name, BinaryType())]
    )

    def gen(batches):
        for batch in batches:
            yield {**dict(zip(batch.schema.names, batch.columns)),
                   out_name: encode(batch)}

    return arrowmap.map_batches(results, gen, schema)


def to_msgpack_column(results: DataFrame, struct_col: str = "structure") -> DataFrame:
    """Append ``<struct_col>_msgpack`` (binary) via Arrow batches."""

    def encode(batch):
        return [
            _packb(v, use_single_float=True)
            for v in arrowmap.values(batch, struct_col)
        ]

    return _append_binary(results, f"{struct_col}_msgpack", encode)


def to_protobuf_column(results: DataFrame, struct_col: str = "structure",
                       pages_col: str | None = "pages",
                       toc_col: str | None = "table_of_contents") -> DataFrame:
    """Append ``<struct_col>_proto`` (binary): the reference's ``Pages``
    contract message (contract_pages.proto) via Arrow batches and the
    vendored proto2 encoder. Same Arrow-kernel shape as the msgpack sink.
    When a ``toc_col`` array column is present (e.g. the toc operator's rows
    collected per doc), its items are emitted as ``table_of_contents``
    (field 7) alongside the structure's own segments."""
    from ..core import miniproto

    has_pages = pages_col is not None and pages_col in results.columns
    has_toc = toc_col is not None and toc_col in results.columns

    def encode(batch):
        n = batch.num_rows
        pages_iter = arrowmap.values(batch, pages_col) if has_pages else [()] * n
        toc_iter = arrowmap.values(batch, toc_col) if has_toc else [None] * n
        blobs = []
        for s, p, t in zip(arrowmap.values(batch, struct_col), pages_iter, toc_iter):
            if t is not None and len(t):
                s = dict(s)
                s["table_of_contents"] = t
            blobs.append(miniproto.encode_pages(s, p if p is not None else ()))
        return blobs

    return _append_binary(results, f"{struct_col}_proto", encode)


def to_char_bboxes_proto_column(results: DataFrame,
                                bboxes_col: str = "char_bboxes") -> DataFrame:
    """Append ``<bboxes_col>_proto`` (binary): the reference's pdf-coordinates
    leg (``contract_char_bboxes.proto`` CharBboxes, encoded at
    ``tasks.py:490-508``) from the ``coords.with_char_boxes`` array column.
    The reference DTO always serializes with ``__initialised__=True``."""
    from ..core import miniproto

    def encode(batch):
        return [
            miniproto.encode_char_bboxes(b, initialised=True)
            for b in arrowmap.values(batch, bboxes_col)
        ]

    return _append_binary(results, f"{bboxes_col}_proto", encode)
