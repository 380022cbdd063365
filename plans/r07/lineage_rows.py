#!/usr/bin/env python
"""Fingerprint the outputs and lineage manifests of the extraction
commit paths of one checkout, so two checkouts can be compared for
"same rows", and count the Spark jobs each backfill call runs.

Cases, over the pages generated from the 500 lowest doc_ids of the
benchmark's ``perfbench/data/documents.parquet``, read back as a bare
``spark.read.parquet`` scan (as ``run_extraction_job.py`` and perfbench
pass them), local[4]:

  * ``run_extraction`` fresh (12 buckets);
  * ``run_extraction`` killed after 3 buckets (``max_buckets``), then
    resumed, then resumed again with nothing pending;
  * ``run_stream_with_lineage`` over two drops of the same pages (one
    microbatch per drop);
  * ``run_stream_with_stats`` over the same two drops;
  * ``extract_blocks`` over the pages, and ``write_debug_sample`` at
    ``one_in=10``;
  * the ``bands/`` and ``corpus/`` tables and ``current_clusters`` after
    three ``cluster_batch_writer`` batches.

Each table is recorded as the sha256 of its sorted rows.  Timing
columns (``proc_us``, manifest ``wall_us``) are left out.  Manifests are
hashed on the columns both checkouts write: ``run_id, bucket,
input_fingerprint, n_docs, n_bytes, status`` for the backfill and
``bucket, batch_id, n_docs`` for the stream.  Jobs of each backfill
call and each ``cluster_batch_writer`` batch are counted with
``statusTracker`` in one job group per call (a stream's microbatches
run on the query's own thread, outside the group).

Run once per checkout, then merge the two files:

  python plans/r07/lineage_rows.py <checkout> <out.json>
  python plans/r07/lineage_rows.py --merge <parent.json> <change.json> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

BACKFILL_COLS = ["run_id", "bucket", "input_fingerprint", "n_docs", "n_bytes", "status"]
STREAM_COLS = ["bucket", "batch_id", "n_docs"]


def _rows(df, drop=("proc_us", "wall_us")) -> dict:
    cols = sorted(c for c in df.columns if c not in drop)
    rows = sorted(repr(tuple(r)) for r in df.select(*cols).collect())
    return {
        "cols": cols,
        "rows": len(rows),
        "rows_sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    }


def main(repo: str, out: str) -> None:
    sys.path.insert(0, repo)
    from cvocr_spark.fixtures import gen_pages_df
    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.plans.job import extract_blocks
    from cvocr_spark.session import build_session, ensure_shipped
    from cvocr_spark.sources.tableio import run_extraction, write_debug_sample
    from cvocr_spark.streaming import (
        cluster_batch_writer,
        current_clusters,
        read_merged_stats,
        run_stream_with_lineage,
        run_stream_with_stats,
    )

    spark = build_session(app="lineage-rows", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    sc = spark.sparkContext
    tmp = tempfile.mkdtemp(prefix="lineage_rows_")
    result: dict = {}

    def jobs(name, fn, *args, **kw):
        sc.setJobGroup(name, name)
        try:
            r = fn(*args, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        result.setdefault("jobs", {})[name] = len(sc.statusTracker().getJobIdsForGroup(name))
        return r

    docs = spark.read.parquet(os.path.join(repo, "perfbench/data/documents.parquet"))
    gen_pages_df(spark, docs.orderBy("doc_id").limit(500)).coalesce(2).write.parquet(f"{tmp}/pages")
    pages = spark.read.parquet(f"{tmp}/pages")

    fresh = f"{tmp}/fresh"
    jobs("run_extraction.fresh", run_extraction, spark, pages, fresh, n_buckets=12, run_id="fresh")
    result["run_extraction.fresh.output"] = _rows(spark.read.parquet(fresh))
    result["run_extraction.fresh.manifest"] = _rows(
        spark.read.parquet(f"{fresh}_manifest").select(*BACKFILL_COLS)
    )

    res = f"{tmp}/resumed"
    killed = jobs(
        "run_extraction.killed", run_extraction, spark, pages, res,
        n_buckets=12, max_buckets=3, run_id="r1",
    )
    resumed = jobs("run_extraction.resumed", run_extraction, spark, pages, res, n_buckets=12, run_id="r2")
    noop = jobs("run_extraction.noop_resume", run_extraction, spark, pages, res, n_buckets=12, run_id="r3")
    result["run_extraction.resume.committed"] = [
        killed["buckets_committed_now"], resumed["buckets_committed_now"], noop["buckets_committed_now"],
    ]
    result["run_extraction.resume.output"] = _rows(spark.read.parquet(res))
    result["run_extraction.resume.manifest"] = _rows(
        spark.read.parquet(f"{res}_manifest").select(*BACKFILL_COLS)
    )

    result["extract_blocks.rows"] = _rows(extract_blocks(pages))
    write_debug_sample(pages, f"{tmp}/sample", one_in=10)
    result["write_debug_sample.rows"] = _rows(spark.read.parquet(f"{tmp}/sample"))

    # two drops, two files each: one microbatch per drop at 2 files/trigger
    drops = [pages.filter("length(url) % 2 = 0"), pages.filter("length(url) % 2 = 1")]
    s_in, s_out, s_ckpt = f"{tmp}/s_in", f"{tmp}/s_out", f"{tmp}/s_ckpt"
    t_stats, t_ckpt = f"{tmp}/t_stats", f"{tmp}/t_ckpt"
    for i, drop in enumerate(drops):
        drop.coalesce(2).write.mode("append").parquet(s_in)
        run_stream_with_lineage(spark, s_in, s_out, s_ckpt, n_buckets=12).awaitTermination(180)
        run_stream_with_stats(spark, s_in, t_stats, t_ckpt).awaitTermination(180)
    result["run_stream_with_lineage.output"] = _rows(spark.read.parquet(s_out))
    result["run_stream_with_lineage.manifest"] = _rows(
        spark.read.parquet(f"{s_out}_manifest").select(*STREAM_COLS)
    )
    result["run_stream_with_stats.partials"] = _rows(spark.read.parquet(t_stats))
    result["run_stream_with_stats.merged"] = _rows(read_merged_stats(spark, t_stats))

    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = spark.createDataFrame(
        [(i, f"{base} w{i % 7} x{i % 3}") for i in range(40)]
        + [(100 + i, f"unrelated document number {i} about topic {i * 7}") for i in range(20)],
        "doc_id bigint, text string",
    )
    state = f"{tmp}/clusters"
    writer = cluster_batch_writer(spark, state)
    for b, ids in enumerate(("doc_id % 3 = 0", "doc_id % 3 = 1", "doc_id % 3 = 2")):
        jobs(f"cluster_batch_writer.batch{b}", writer, docs.filter(ids), b)
    result["cluster_batch_writer.bands"] = _rows(dd._stored_bands(spark, f"{state}/bands"))
    result["cluster_batch_writer.corpus"] = _rows(spark.read.parquet(f"{state}/corpus"))
    result["cluster_batch_writer.current_clusters"] = _rows(current_clusters(spark, state))

    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


def merge(parent: str, change: str, out: str) -> None:
    """One file holding both runs plus which entries differ."""
    with open(parent) as f:
        a = json.load(f)
    with open(change) as f:
        b = json.load(f)
    rows_differ = sorted(k for k in a if k != "jobs" and a[k] != b.get(k))
    jobs = {k: [a["jobs"][k], b["jobs"].get(k)] for k in a["jobs"]}
    with open(out, "w") as f:
        json.dump(
            {"rows_differ": rows_differ, "jobs_parent_change": jobs, "parent": a, "change": b},
            f, indent=1, sort_keys=True,
        )


if __name__ == "__main__":
    if sys.argv[1] == "--merge":
        merge(*sys.argv[2:5])
    else:
        main(sys.argv[1], sys.argv[2])
