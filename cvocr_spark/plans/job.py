"""Stage A — the distributed extraction job (SURVEY §3 graft lifecycle).

    read -> select(url, warc_ts, html)          # column pruning BEFORE the
                                                # opaque Arrow stage, so the
                                                # parquet scan skips text/lang
         -> cheap native-expr prefilter         # Sparser-style: prune rows
                                                # without entering Python
         -> repartition(n, sha2(url, 256))      # salted by url-hash: defeats
                                                # host/crawl clustering skew
                                                # (north_rule requirement)
         -> mapInArrow(kernel)                  # THE single JVM->Python
                                                # boundary, mirroring the
                                                # reference's single C++->Py
                                                # boundary (reco.py:232)
         -> write                               # via sources.tableio

All per-doc phases (P1..C3, W7) are fused inside the one Arrow stage —
no intermediate shuffle between them (SURVEY §4 "pipelining" row).
"""

from __future__ import annotations

import time

import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema

from ..kernel import extract
from ..session import ensure_shipped

_SPAN_TYPE = pa.list_(
    pa.struct(
        [
            pa.field("block_id", pa.int32()),
            pa.field("char_start", pa.int32()),
            pa.field("char_end", pa.int32()),
            pa.field("cls", pa.string()),
        ]
    )
)

_EXTRACTED_ARROW = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("warc_ts", pa.timestamp("us")),
        pa.field("text", pa.string()),
        pa.field("spans", _SPAN_TYPE),
        pa.field("n_blocks", pa.int32()),
        pa.field("score", pa.float64()),
        pa.field("n_bytes", pa.int64()),
        pa.field("flags", pa.string()),
        pa.field("proc_us", pa.int64()),
    ]
)
# the `extracted` table schema (FIXTURES.md §2 golden + lineage extras)
EXTRACTED_DDL = from_arrow_schema(_EXTRACTED_ARROW)


def extraction_kernel_arrow(batches):
    """The mapInArrow batch driver: per Arrow batch, run the pure kernel
    per doc and emit the extracted schema.  Vectorized transfer, scalar
    per-doc parse loop inside the batch (SURVEY §4 codegen row)."""
    for rb in batches:
        cols = {
            k: [] for k in "text spans n_blocks score n_bytes flags proc_us".split()
        }
        for h in rb.column("html").to_pylist():
            t0 = time.perf_counter_ns()
            r = extract(h)
            cols["proc_us"].append((time.perf_counter_ns() - t0) // 1000)
            for k in ("text", "spans", "n_blocks", "score", "flags"):
                cols[k].append(getattr(r, k))
            cols["n_bytes"].append(len(h) if h is not None else 0)
        yield pa.RecordBatch.from_pydict(
            {"url": rb.column("url"), "warc_ts": rb.column("warc_ts"), **cols},
            schema=_EXTRACTED_ARROW,
        )


_CANDIDATES_TYPE = pa.list_(
    pa.struct([pa.field("cls", pa.string()), pa.field("score", pa.float64())])
)

_BLOCKS_ARROW = pa.schema(
    [
        pa.field("url", pa.string()),
        pa.field("block_id", pa.int32()),
        pa.field("depth", pa.int32()),
        pa.field("tag", pa.string()),
        pa.field("text", pa.string()),
        pa.field("cls", pa.string()),
        pa.field("conf", pa.float64()),
        pa.field("candidates", _CANDIDATES_TYPE),
        pa.field("n_chars", pa.int32()),
        pa.field("link_density", pa.float64()),
        pa.field("text_density", pa.float64()),
        pa.field("boiler_ctx", pa.bool_()),
    ]
)
BLOCKS_DDL = from_arrow_schema(_BLOCKS_ARROW)


def blocks_kernel_arrow(batches):
    """doc -> n block rows: the UDTF-shaped stage (SURVEY §2g: 'the
    entire C++/Py kernel is, morally, one UDTF').  Emits the classified
    per-block intermediate table — the graft of the region.txt IR
    (reference cut.h:863-893, parsed back at reco.py:194-216)."""
    for rb in batches:
        cols: dict[str, list] = {name: [] for name in _BLOCKS_ARROW.names}
        urls = rb.column("url").to_pylist()
        for u, h in zip(urls, rb.column("html").to_pylist()):
            for b in extract(h).blocks:
                for k, v in cols.items():
                    v.append(u if k == "url" else getattr(b, k))
        yield pa.RecordBatch.from_pydict(cols, schema=_BLOCKS_ARROW)


def _nonempty_html(pages: DataFrame) -> DataFrame:
    """The native-expression prefilter before every kernel stage: a NULL
    or empty page never enters Python."""
    return pages.filter(F.col("html").isNotNull() & (F.length("html") > 0))


def extract_blocks(pages: DataFrame) -> DataFrame:
    """pages -> classified blocks table (FIXTURES.md §3)."""
    ensure_shipped(pages.sparkSession)  # the Arrow stage runs the kernel
    slim = _nonempty_html(pages.select("url", "html"))
    return slim.mapInArrow(blocks_kernel_arrow, schema=BLOCKS_DDL)


def extract_pages(
    pages: DataFrame, n_partitions: int | None = None, salted: bool = True
) -> DataFrame:
    """pages(url, warc_ts, html, ...) -> extracted DataFrame.

    * column-prunes to (url, warc_ts, html) before the Arrow stage so the
      scan's ReadSchema stays minimal (SURVEY §4 ROI-crop row);
    * prefilters empty html with a native expression (no Python);
    * salted repartition by sha2(url) — uniform partitions regardless of
      host clustering; at 10^12 rows this is the difference between a
      straggler-free stage and a handful of hot hosts pinning executors.
    """
    ensure_shipped(pages.sparkSession)  # the Arrow stage runs the kernel
    slim = _nonempty_html(pages.select("url", "warc_ts", "html"))
    if salted:
        if n_partitions:
            slim = slim.repartition(n_partitions, F.sha2(F.col("url"), 256))
        else:
            slim = slim.repartition(F.sha2(F.col("url"), 256))
    return slim.mapInArrow(extraction_kernel_arrow, schema=EXTRACTED_DDL)
