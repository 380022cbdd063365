#!/usr/bin/env python
"""Fingerprint the physical plans and outputs of the dedup-family entry
points of one checkout, so two checkouts can be compared for "same
plans, same rows".

Entry points: the LSH pair, verify, bander and incremental functions of
``cvocr_spark/operators/dedup.py``; the served paths
(``minhash_verified_dups_indexed``, ``dedup_incremental_indexed``, the
``dedup_index_path`` switch of ``curate_corpus``) over indexes built by
the same checkout; ``dedup_clusters``/``dedup_clusters_verified`` and
in-plan ``curate_corpus``; and ``current_clusters`` after three
``cluster_batch_writer`` batches.  Three corpora: a fixed 40-doc one
with near-duplicate families; the same plus 130 copies of one text (a
band bucket over the hot-bucket guard's limit); and the first 500 docs
of the benchmark's ``perfbench/data/documents.parquet`` plus injected
exact copies.

For each entry point it records the sha256 of the physical plan as
planned before execution (adaptive execution rewrites it at run time),
with expression ids, plan ids, RDD ids and file paths normalized away,
and the sha256 of the sorted output rows.

Run once per checkout, then merge the two files:

  python plans/r07/band_probe_plans.py <checkout> <out.json>
  python plans/r07/band_probe_plans.py --merge <parent.json> <change.json> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys
import tempfile


def _plan_sha(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pat, rep in (
        (r"#\d+L?", "#N"),
        (r"\[plan_id=\d+\]", ""),
        (r"ExistingRDD\[[^\]]*\]", "ExistingRDD"),
        (r"file:[^,\]\s]*", "FILE"),
    ):
        plan = re.sub(pat, rep, plan)
    return hashlib.sha256(plan.encode()).hexdigest()


def main(repo: str, out: str) -> None:
    sys.path.insert(0, repo)
    from pyspark.sql import functions as F

    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.plans.curate import curate_corpus
    from cvocr_spark.session import build_session, ensure_shipped
    from cvocr_spark.streaming import cluster_batch_writer, current_clusters

    spark = build_session(app="band-probe-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"{base} w{i % 7} x{i % 3}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(i + 1000, t + " z") for i, t in rows[:10]], "doc_id bigint, text string"
    )
    real = dd.with_injected_dups(
        spark.read.parquet(os.path.join(repo, "perfbench/data/documents.parquet"))
        .filter(F.col("doc_id") < 500)
        .select("doc_id", "text")
    ).cache()
    existing, new_batch = dd.incremental_split(real)
    # a hot bucket: 130 copies of one text (all four bands shared, over
    # MAX_BUCKET), probed by near copies that share some of its bands
    boiler = "terms of service privacy policy cookie settings contact us about careers press"
    hot = docs.unionByName(
        spark.createDataFrame([(2000 + i, boiler) for i in range(130)], docs.schema)
    )
    hot_new = new.unionByName(
        spark.createDataFrame([(3000 + i, f"{boiler} extra{i}") for i in range(5)], docs.schema)
    )
    tmp = tempfile.mkdtemp(prefix="band_probe_plans_")
    idx, real_idx, split_idx = f"{tmp}/idx", f"{tmp}/real_idx", f"{tmp}/split_idx"
    dd.build_dedup_index(docs, idx)
    dd.build_dedup_index(real, real_idx)
    dd.build_dedup_index(existing, split_idx)
    dd.build_dedup_index(hot, f"{tmp}/hot_idx")
    bands = dd._banded(docs)

    def stream():
        # the hot text arrives 65 + 65 copies: under the limit per batch,
        # over it in the stored side batch 2 probes
        state = f"{tmp}/stream"
        writer = cluster_batch_writer(spark, state)
        arrivals = hot.unionByName(hot_new)
        for b, ids in enumerate(
            ("doc_id < 15 OR doc_id BETWEEN 2000 AND 2064",
             "doc_id BETWEEN 15 AND 29 OR doc_id BETWEEN 2065 AND 2129",
             "doc_id BETWEEN 30 AND 1999 OR doc_id >= 3000")
        ):
            writer(arrivals.filter(ids), b)
        return current_clusters(spark, state)

    cases = {
        "minhash_lsh_pairs": lambda: dd.minhash_lsh_pairs(docs),
        "minhash_lsh_pairs_wide": lambda: dd.minhash_lsh_pairs_wide(docs),
        "lsh_skipped_buckets": lambda: dd.lsh_skipped_buckets(docs),
        "minhash_verified_dups": lambda: dd.minhash_verified_dups(docs),
        "minhash_verified_dups_banded": lambda: dd.minhash_verified_dups_banded(docs, bands),
        "minhash_verified_dups_indexed": lambda: dd.minhash_verified_dups_indexed(docs, idx),
        "dedup_incremental": lambda: dd.dedup_incremental(new, docs),
        "dedup_incremental_indexed": lambda: dd.dedup_incremental_indexed(new, docs, idx),
        "dedup_incremental_pairs": lambda: dd.dedup_incremental_pairs(new, docs),
        "dedup_incremental_pairs_wide": lambda: dd.dedup_incremental_pairs(
            new, docs, new_bands=dd._banded_wide(new), existing_bands=dd._banded_wide(docs)
        ),
        "dedup_incremental_pairs_bands": lambda: dd.dedup_incremental_pairs(
            new, docs, new_bands=dd._banded(new), existing_bands=bands
        ),
        "_banded": lambda: bands,
        "_banded_wide": lambda: dd._banded_wide(docs),
        "dedup_clusters": lambda: dd.dedup_clusters(
            docs, dd.minhash_verified_dups(docs).select("a", "b")
        ),
        "dedup_clusters_verified": lambda: dd.dedup_clusters_verified(docs),
        "real.minhash_verified_dups": lambda: dd.minhash_verified_dups(real),
        "real.minhash_verified_dups_indexed": lambda: dd.minhash_verified_dups_indexed(
            real, real_idx
        ),
        "real.dedup_clusters_verified": lambda: dd.dedup_clusters_verified(real),
        "real.dedup_incremental": lambda: dd.dedup_incremental(new_batch, existing),
        "real.dedup_incremental_indexed": lambda: dd.dedup_incremental_indexed(
            new_batch, existing, split_idx
        ),
        "real.dedup_incremental_pairs": lambda: dd.dedup_incremental_pairs(new_batch, existing),
        "real.curate_corpus": lambda: curate_corpus(real, cache=False),
        "real.curate_corpus_indexed": lambda: curate_corpus(
            real, cache=False, dedup_index_path=f"{tmp}/curate_idx"
        ),
        "hot.lsh_skipped_buckets": lambda: dd.lsh_skipped_buckets(hot),
        "hot.minhash_verified_dups": lambda: dd.minhash_verified_dups(hot),
        "hot.minhash_verified_dups_indexed": lambda: dd.minhash_verified_dups_indexed(
            hot, f"{tmp}/hot_idx"
        ),
        "hot.dedup_incremental": lambda: dd.dedup_incremental(hot_new, hot),
        "hot.dedup_incremental_indexed": lambda: dd.dedup_incremental_indexed(
            hot_new, hot, f"{tmp}/hot_idx"
        ),
        "hot.dedup_incremental_pairs": lambda: dd.dedup_incremental_pairs(hot_new, hot),
        "stream.current_clusters": stream,
    }
    result = {}
    for name, fn in cases.items():
        df = fn()
        plan_sha = _plan_sha(df)  # before execution: AQE rewrites it after
        out_rows = sorted(map(tuple, df.collect()))
        result[name] = {
            "plan_sha256": plan_sha,
            "rows": len(out_rows),
            "rows_sha256": hashlib.sha256(repr(out_rows).encode()).hexdigest(),
        }
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


def merge(parent: str, change: str, out: str) -> None:
    """One file holding both runs plus which fields differ per entry."""
    with open(parent) as f:
        a = json.load(f)
    with open(change) as f:
        b = json.load(f)
    diff = {
        name: sorted(k for k in a[name] if a[name][k] != b[name][k])
        for name in a
        if a[name] != b.get(name)
    }
    with open(out, "w") as f:
        json.dump({"differs": diff, "parent": a, "change": b}, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    if sys.argv[1] == "--merge":
        merge(*sys.argv[2:5])
    else:
        main(sys.argv[1], sys.argv[2])
