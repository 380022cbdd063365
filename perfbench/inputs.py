"""Seeded workload inputs, written as parquet under the run's temp dir.

``data/documents.parquet`` is a byte-for-byte copy of the sf0.1
``documents`` test table (5000 rows: doc_id, text, lang, source, n_chars;
see TESTDATA.md), kept here so a run reads nothing outside its checkout.
A run takes a sample of its rows chosen by ``--seed``.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "documents.parquet")


def sample_documents(seed: int, n: int) -> pa.Table:
    """``n`` rows of the sf0.1 documents table, chosen by ``seed``, in
    doc_id order with their original doc_ids."""
    table = pq.read_table(DOCUMENTS)
    return table.take(sorted(random.Random(seed).sample(range(table.num_rows), n)))


def write_parts(table: pa.Table, out_dir: str, parts: int) -> str:
    """Write ``table`` as ``parts`` parquet files so a scan has that many
    input splits."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-table.num_rows // parts)
    for p in range(parts):
        pq.write_table(table.slice(p * step, step), f"{out_dir}/part-{p:03d}.parquet")
    return out_dir


def stream_files(
    rows: list[tuple[int, str]], seed: int, batches: int, out_dir: str
) -> list[list[tuple[int, str]]]:
    """Shuffle (doc_id, text) rows by seed and split them into ``batches``
    ordered parquet files.  A copy and its original usually land in
    different files, so near duplicates span batches.  Modification times
    are set one second apart: the file source replays them in that order."""
    order = sorted(rows)
    random.Random(seed).shuffle(order)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(order) // batches)
    out = []
    schema = pa.schema([pa.field("doc_id", pa.int64()), pa.field("text", pa.string())])
    for b in range(batches):
        chunk = order[b * step : (b + 1) * step]
        path = f"{out_dir}/b{b:02d}.parquet"
        pq.write_table(
            pa.table({"doc_id": [r[0] for r in chunk], "text": [r[1] for r in chunk]}, schema=schema),
            path,
        )
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
        out.append(chunk)
    return out
