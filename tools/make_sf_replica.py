"""Build a 10x timing replica of an sf dir (e.g. sf0.1 -> sf1.0-like) for
at-scale measurement when the driver-generated larger SF is unavailable.

Replica semantics (timing-faithful, NOT content-identical to the driver's
own larger SF):
  - documents: 10 copies; copy 0 keeps the original text, copies i>0 apply a
    deterministic per-copy word permutation (sort positions by
    md5(copy:pos)). Token multisets, doc lengths, langs and sources are
    preserved (tf/token-count/langid workloads unchanged); shingle identity
    is destroyed so near-dup/dedup workloads keep a realistic (not
    replica-inflated) candidate-pair rate.
  - embeddings: 10 copies, element-0 perturbed by copy*1e-3 so no exact-dup
    vectors; label preserved.
  - events: 10 copies with user_id/event_id shifted per copy (session count
    scales, session length distribution preserved).
  - orders/lineitem: 10 copies with o_orderkey/l_orderkey shifted
    consistently (join fan-out preserved); dim tables copied as-is.

The layout follows the driver's larger SFs. documents and embeddings are one
parquet file with a single row group (the unsplittable case
partitioning.spread_unsplittable exists for). events, orders and lineitem
have 6 row groups, as the driver's do: with a single row group every
TPC-H scan runs in one task (OPTIMIZATION_r06.md).

Copies are built one source batch at a time and streamed into a
ParquetWriter that holds at most one row group of pending rows. A
single-row-group table is therefore held whole until it is written.

    python tools/make_sf_replica.py <src sf dir> <dst dir> 10
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
from collections.abc import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

#: row groups of the driver's events/orders/lineitem files
DRIVER_ROW_GROUPS = 6
#: source rows transformed per step
BATCH_ROWS = 65536


def _perm_words(text: str, copy: int) -> str:
    words = text.split(" ")
    keyed = sorted(
        range(len(words)),
        key=lambda p: hashlib.md5(f"{copy}:{p}".encode()).digest(),
    )
    return " ".join(words[p] for p in keyed)


def _copies(t: pa.Table, rep: int,
            transform: Callable[[pa.Table, int], pa.Table]) -> Iterator[pa.Table]:
    """Copy 0, then copy 1, ... of ``t``, one source batch at a time."""
    for i in range(rep):
        for b in t.to_batches(max_chunksize=BATCH_ROWS):
            yield transform(pa.Table.from_batches([b], t.schema), i).cast(t.schema)


def _write(path: str, schema: pa.Schema, parts: Iterator[pa.Table],
           total_rows: int, row_groups: int) -> None:
    """Stream ``parts`` into one zstd parquet file of ``row_groups`` equal
    row groups (the last one shorter)."""
    group = max(-(-total_rows // row_groups), 1)
    pending: list[pa.RecordBatch] = []
    held = 0
    with pq.ParquetWriter(path, schema, compression="zstd") as writer:
        for part in parts:
            pending += part.to_batches()
            held += part.num_rows
            while held >= group:
                buf = pa.Table.from_batches(pending, schema)
                writer.write_table(buf.slice(0, group), row_group_size=group)
                pending, held = buf.slice(group).to_batches(), held - group
        if held:
            writer.write_table(pa.Table.from_batches(pending, schema), row_group_size=group)


def _shift(t: pa.Table, col: str, off: int) -> pa.Table:
    return t.set_column(t.column_names.index(col), col, pc.add(t.column(col), off))


def _replicate(src: str, dst: str, name: str, rep: int, row_groups: int,
               transform: Callable[[pa.Table, int], pa.Table]) -> None:
    t = pq.read_table(os.path.join(src, f"{name}.parquet"))
    _write(os.path.join(dst, f"{name}.parquet"), t.schema, _copies(t, rep, transform),
           t.num_rows * rep, row_groups)


def main() -> None:
    src, dst, rep = sys.argv[1], sys.argv[2], int(sys.argv[3])
    os.makedirs(dst, exist_ok=True)

    n_docs = pq.read_metadata(os.path.join(src, "documents.parquet")).num_rows

    def documents(c: pa.Table, i: int) -> pa.Table:
        c = _shift(c, "doc_id", i * n_docs)
        if i:
            texts = [_perm_words(x, i) for x in c.column("text").to_pylist()]
            c = c.set_column(c.column_names.index("text"), "text", pa.array(texts, pa.string()))
        return c

    _replicate(src, dst, "documents", rep, 1, documents)

    n_vecs = pq.read_metadata(os.path.join(src, "embeddings.parquet")).num_rows

    def embeddings(c: pa.Table, i: int) -> pa.Table:
        c = _shift(c, "vec_id", i * n_vecs)
        if i:
            emb = c.column("embedding").combine_chunks()
            offsets = emb.offsets.to_numpy()
            offsets = offsets - offsets[0]  # a batch is a slice of the source
            vals = pc.list_flatten(emb).to_numpy().copy()
            first = offsets[:-1]
            # the same float32(float64 + delta) rounding as a per-row v[0] + delta
            vals[first] = (vals[first].astype(np.float64) + i * 1e-3).astype(np.float32)
            emb = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(vals))
            c = c.set_column(c.column_names.index("embedding"), "embedding", emb)
        return c

    _replicate(src, dst, "embeddings", rep, 1, embeddings)

    n_events = pq.read_metadata(os.path.join(src, "events.parquet")).num_rows
    _replicate(src, dst, "events", rep, DRIVER_ROW_GROUPS,
               lambda c, i: _shift(_shift(c, "event_id", i * n_events), "user_id", i * 1_000_000))

    okey_ord = [c for c in pq.read_schema(os.path.join(src, "orders.parquet")).names
                if "orderkey" in c][0]
    okey_li = [c for c in pq.read_schema(os.path.join(src, "lineitem.parquet")).names
               if "orderkey" in c][0]
    keys = pq.read_table(os.path.join(src, "orders.parquet"), columns=[okey_ord])
    span = int(pc.max(keys.column(okey_ord)).as_py()) + 1
    for name, key in (("orders", okey_ord), ("lineitem", okey_li)):
        _replicate(src, dst, name, rep, DRIVER_ROW_GROUPS,
                   lambda c, i, key=key: _shift(c, key, i * span))

    for name in ("region", "nation", "customer", "supplier", "part"):
        shutil.copy(os.path.join(src, f"{name}.parquet"), os.path.join(dst, f"{name}.parquet"))
    print(f"wrote {dst} (rep={rep})")


if __name__ == "__main__":
    main()
