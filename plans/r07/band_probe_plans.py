#!/usr/bin/env python
"""Fingerprint the physical plans and outputs of the dedup-family entry
points of one checkout, so two checkouts can be compared for "same
plans, same rows".

For each entry point (the LSH pair, verify, stored-band, incremental and
bander functions of ``cvocr_spark/operators/dedup.py``) over a fixed
40-doc corpus with near-duplicate families, it records the sha256 of the
executed physical plan with expression ids, plan ids, RDD ids and file
paths normalized away, and the sha256 of the sorted output rows.

Run from any directory, once per checkout, then compare the JSON files:

  python plans/r07/band_probe_plans.py <checkout> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
import sys
import tempfile


def main(repo: str, out: str) -> None:
    sys.path.insert(0, repo)
    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.session import build_session, ensure_shipped

    spark = build_session(app="band-probe-plans", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    rows = [(i, f"{base} w{i % 7} x{i % 3}") for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    new = spark.createDataFrame(
        [(i + 1000, t + " z") for i, t in rows[:10]], "doc_id bigint, text string"
    )
    tmp = tempfile.mkdtemp(prefix="band_probe_plans_")
    idx = f"{tmp}/idx"
    dd.build_dedup_index(docs, idx)
    bands = dd._banded(docs)
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
        "dedup_incremental_pairs_wide": lambda: dd.dedup_incremental_pairs(new, docs, wide=True),
        "dedup_incremental_pairs_bands": lambda: dd.dedup_incremental_pairs(
            new, docs, new_bands=dd._banded(new), existing_bands=bands
        ),
        "_banded": lambda: bands,
        "_banded_wide": lambda: dd._banded_wide(docs),
    }
    result = {}
    for name, fn in cases.items():
        df = fn()
        plan = df._jdf.queryExecution().executedPlan().toString()
        for pat, rep in (
            (r"#\d+L?", "#N"),
            (r"\[plan_id=\d+\]", ""),
            (r"ExistingRDD\[[^\]]*\]", "ExistingRDD"),
            (r"file:[^,\]\s]*", "FILE"),
        ):
            plan = re.sub(pat, rep, plan)
        out_rows = sorted(map(tuple, df.collect()))
        result[name] = {
            "plan_sha256": hashlib.sha256(plan.encode()).hexdigest(),
            "rows": len(out_rows),
            "rows_sha256": hashlib.sha256(repr(out_rows).encode()).hexdigest(),
        }
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
