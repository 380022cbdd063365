#!/usr/bin/env python
"""In-process A/B of the connected-components engines inside curation.

Both sides run in ONE Spark session over the same inputs, alternating
per repetition, so host drift hits both alike:

  rounds    the previous ``connected_components`` (distributed label
            propagation, single-partition rounds below 500k edges),
            loaded from a copy of the previous ``dedup.py``;
  one_task  the current ``connected_components`` (one Arrow union-find
            task below ``_SMALL_GRAPH_EDGES`` directed edges).

Inputs are the perfbench ``dedup`` workload's: a seeded 2500-doc sample
of the sf0.1 documents table plus injected duplicates, curated by
``curate_corpus`` with the every-50th-doc eval set.  Per repetition it
records the curation wall, the Spark jobs the curation launched
(statusTracker job group) and the sha256 of the written manifest, plus
the wall and jobs of ``dedup_clusters`` alone over the curation's
survivors and verified pairs.

Run from the repository root:

  git show <parent>:cvocr_spark/operators/dedup.py > /tmp/dedup_prev.py
  python plans/r07/cc_ab.py --prev-dedup /tmp/dedup_prev.py \
      --seeds 7 11 --reps 5 --out plans/r07/cc_onetask_ab.json
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

DOCS = 2500
EVAL_OFFSET = 9_000_000


def _load_prev(path: str):
    # loaded inside the package so its relative imports resolve
    spec = importlib.util.spec_from_file_location("cvocr_spark.operators._dedup_prev", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _jobs(sc, group: str, fn) -> tuple[float, int]:
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        fn()
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return wall, len(sc.statusTracker().getJobIdsForGroup(group))


def _digest(path: str) -> str:
    import pyarrow.parquet as pq

    rows = sorted(pq.read_table(path).to_pylist(), key=lambda r: r["doc_id"])
    return hashlib.sha256(json.dumps(rows, sort_keys=True).encode()).hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--prev-dedup", required=True, help="the previous dedup.py")
    ap.add_argument("--seeds", type=int, nargs="+", default=[7, 11])
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    from perfbench import inputs
    from cvocr_spark.operators import dedup, textstats
    from cvocr_spark.plans.curate import curate_corpus, release
    from cvocr_spark.session import build_session, ensure_shipped

    engines = {
        "rounds": _load_prev(args.prev_dedup).connected_components,
        "one_task": dedup.connected_components,
    }
    spark = build_session(app="cc-ab", master=f"local[{args.cores}]", shuffle_partitions=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    sc = spark.sparkContext
    tmp = tempfile.mkdtemp(prefix="cc_ab_")
    out = {
        "what": "curate_corpus and dedup_clusters walls, Spark jobs and manifest sha256 per repetition, "
        "previous rounds CC vs one-task CC, alternating in one session",
        "host": {"cpus": os.cpu_count(), "machine": platform.machine(), "master": f"local[{args.cores}]"},
        "docs_sampled": DOCS,
        "reps": args.reps,
        "seeds": {},
    }
    seq = 0
    try:
        for seed in args.seeds:
            src = inputs.write_parts(inputs.sample_documents(seed, DOCS), f"{tmp}/in{seed}", args.cores)
            base = spark.read.parquet(src)
            docs = dedup.with_injected_dups(base.select("doc_id", "text"))
            ev = base.filter("doc_id % 50 = 7").selectExpr(f"doc_id + {EVAL_OFFSET} AS doc_id", "text")
            survivors = docs.join(
                textstats.corpus_filter(docs).filter("keep").select("doc_id"), "doc_id", "left_semi"
            ).persist()
            pairs = dedup.minhash_verified_dups(survivors).select("a", "b").persist()
            res = {
                "rows": docs.count(),
                "verified_pairs": pairs.count(),
                **{side: {"curate_s": [], "curate_jobs": [], "manifest_sha256": [], "cc_s": [], "cc_jobs": []}
                   for side in engines},
            }
            for rep in range(args.reps + 1):  # repetition 0 warms both sides up
                order = list(engines) if rep % 2 == 0 else list(engines)[::-1]
                for side in order:
                    dedup.connected_components = engines[side]
                    man = f"{tmp}/man{seq}"
                    seq += 1

                    def curate():
                        m = curate_corpus(docs, ev)
                        m.write.mode("overwrite").parquet(man)
                        release(m)

                    wall, jobs = _jobs(sc, f"curate-{seq}", curate)
                    cc_wall, cc_jobs = _jobs(
                        sc,
                        f"cc-{seq}",
                        lambda: dedup.dedup_clusters(survivors, pairs).write.format("noop").mode("overwrite").save(),
                    )
                    if rep:
                        r = res[side]
                        r["curate_s"].append(round(wall, 3))
                        r["curate_jobs"].append(jobs)
                        r["manifest_sha256"].append(_digest(man))
                        r["cc_s"].append(round(cc_wall, 3))
                        r["cc_jobs"].append(cc_jobs)
                    print(json.dumps({"seed": seed, "rep": rep, "side": side, "curate_s": round(wall, 2),
                                      "jobs": jobs, "cc_s": round(cc_wall, 2), "cc_jobs": cc_jobs}), flush=True)
            for side in engines:
                r = res[side]
                r["curate_s_median"] = statistics.median(r["curate_s"])
                r["cc_s_median"] = statistics.median(r["cc_s"])
            res["digests_equal"] = len(
                {d for side in engines for d in res[side]["manifest_sha256"]}
            ) == 1
            out["seeds"][str(seed)] = res
            pairs.unpersist()
            survivors.unpersist()
    finally:
        dedup.connected_components = engines["one_task"]
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
