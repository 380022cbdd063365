#!/usr/bin/env python
"""In-process A/B of the served LSH pair stage: the older index layout
(hot-bucket-GUARDED band rows partitioned by band_id, probed as stored)
against the raw band table that ``build_dedup_index`` writes now, which
``minhash_verified_dups_indexed`` guards at probe time.

Corpus: the first 2500 docs of ``perfbench/data/documents.parquet`` plus
``with_injected_dups`` (2750 rows, the benchmark's dedup size).  Both
forms must return the same rows; then each is timed into the ``noop``
sink for 8 alternating reps after one warm pass, in one local[4]
session.

  python plans/r07/served_guard_ab.py <checkout> <out.json>
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def main(repo: str, out: str) -> None:
    sys.path.insert(0, repo)
    from pyspark.sql import functions as F

    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.session import build_session, ensure_shipped

    spark = build_session(app="served-guard-ab", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    docs = dd.with_injected_dups(
        spark.read.parquet(os.path.join(repo, "perfbench/data/documents.parquet"))
        .filter(F.col("doc_id") < 2500)
        .select("doc_id", "text")
    ).persist()
    n = docs.count()
    tmp = tempfile.mkdtemp(prefix="served_guard_ab_")
    old, new = f"{tmp}/old", f"{tmp}/new"
    dd._safe_banded(dd._banded(docs), dd.MAX_BUCKET).write.partitionBy("band_id").parquet(
        f"{old}/bands"
    )
    dd.build_dedup_index(docs, new)

    def guarded_stored():
        stored = spark.read.schema("doc_id bigint, band_val string, band_id int").parquet(
            f"{old}/bands"
        )
        return dd.verify_pairs_jaccard(dd._self_candidates(stored), docs)

    def raw_stored():
        return dd.minhash_verified_dups_indexed(docs, new)

    forms = {"guarded_stored": guarded_stored, "raw_stored": raw_stored}
    rows = {k: sorted(map(tuple, f().collect())) for k, f in forms.items()}
    assert rows["guarded_stored"] == rows["raw_stored"]
    walls = {k: [] for k in forms}
    for i in range(8):
        for k in (list(forms) if i % 2 == 0 else list(forms)[::-1]):
            t0 = time.perf_counter()
            forms[k]().write.format("noop").mode("overwrite").save()
            walls[k].append(round(time.perf_counter() - t0, 3))
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    result = {
        "rows_in": n,
        "pairs": len(rows["raw_stored"]),
        "rows_equal": True,
        **{k: {"median_s": statistics.median(v), "walls_s": v} for k, v in walls.items()},
    }
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
