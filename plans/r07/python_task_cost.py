#!/usr/bin/env python
"""The fixed cost of one Python task, apart from the rows it reads.

Two measurements on one SparkSession (local[4], 4 shuffle partitions,
after ``ensure_shipped`` as every operator that runs Python does):

  * ``identity_vs_scan``: ``perfbench/data/documents.parquet`` (5000
    rows, doc_id and text) repartitioned into P partitions and cached,
    then written to a noop sink either as is (``scan``) or through an
    identity ``mapInArrow`` (``identity``), in alternating reps, for
    P = 4 and P = 16.  The identity stage moves the same rows through
    Arrow; what it adds per task beyond that is the task's fixed cost.
  * ``invalidate_caches``: inside reused Python workers, the wall of
    ``importlib.invalidate_caches()`` — which the worker calls at the
    start of every task (``setup_spark_files``) when files were added
    to the context — and the number of zip importers it walks.

  python plans/r07/python_task_cost.py <out.json> [reps]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))


def _invalidate_caches_ms(_):
    import importlib
    import sys
    import zipimport

    zips = sum(isinstance(v, zipimport.zipimporter) for v in sys.path_importer_cache.values())
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield (os.getpid(), zips, (time.perf_counter() - t0) * 1000)


def _identity(batches):
    yield from batches


def main(out: str, reps: int = 7) -> None:
    sys.path.insert(0, REPO)
    from cvocr_spark.session import build_session, ensure_shipped

    spark = build_session(app="python-task-cost", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    src = spark.read.parquet(os.path.join(REPO, "perfbench/data/documents.parquet")).select(
        "doc_id", "text"
    )
    result = {}
    for parts in (4, 16):
        docs = src.repartition(parts).persist()
        docs.count()
        sides = {"scan": docs, "identity": docs.mapInArrow(_identity, docs.schema)}
        for df in sides.values():  # warm-up: workers forked, code generated
            df.write.format("noop").mode("overwrite").save()
        walls = {k: [] for k in sides}
        for r in range(reps):
            for name in (("scan", "identity") if r % 2 == 0 else ("identity", "scan")):
                t0 = time.perf_counter()
                sides[name].write.format("noop").mode("overwrite").save()
                walls[name].append(time.perf_counter() - t0)
        scan, ident = statistics.median(walls["scan"]), statistics.median(walls["identity"])
        result[f"identity_vs_scan.p{parts}"] = {
            "tasks": parts,
            "rows": docs.count(),
            "scan_s": round(scan, 3),
            "identity_s": round(ident, 3),
            # 4 cores run ``parts`` tasks in parts/4 waves
            "added_s_per_wave": round((ident - scan) / (parts / 4), 3),
            "walls": {k: [round(x, 3) for x in v] for k, v in walls.items()},
        }
        print(parts, json.dumps(result[f"identity_vs_scan.p{parts}"]), flush=True)
        docs.unpersist()
    samples = []
    for _ in range(reps):
        samples += spark.sparkContext.parallelize(range(4), 4).mapPartitions(
            _invalidate_caches_ms
        ).collect()
    ms = [s[2] for s in samples]
    result["invalidate_caches"] = {
        "calls": len(samples),
        "workers": len({s[0] for s in samples}),
        "zipimporters": sorted({s[1] for s in samples}),
        "median_ms": round(statistics.median(ms), 1),
        "min_ms": round(min(ms), 1),
        "max_ms": round(max(ms), 1),
    }
    print(json.dumps(result["invalidate_caches"]), flush=True)
    spark.stop()
    with open(out, "w") as f:
        json.dump(
            {
                "what": (
                    "per-Python-task fixed cost: identity mapInArrow vs noop scan over the "
                    f"same cached rows ({reps} alternating reps, medians), and the wall of "
                    "importlib.invalidate_caches() inside reused Python workers; local[4] on "
                    "a 4-vCPU VM"
                ),
                "results": result,
            },
            f, indent=1, sort_keys=True,
        )


if __name__ == "__main__":
    main(sys.argv[1], *(int(a) for a in sys.argv[2:3]))
