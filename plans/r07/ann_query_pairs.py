#!/usr/bin/env python
"""Time bench.py's headline ANN queries (``ivf_ann_topk``,
``ivf_ann_search``, ``pq_adc_topk``) at two checkouts, in alternating
pairs, with bench.py's per-query protocol: one warm pass
(``fn(spark, sf).count()``), then ``REPS`` timed
``fn(spark, sf).collect()`` calls through the driver contract, whose
recorded value is the median of the reps within 1.5x the rep minimum.
Each run is a fresh Python process and SparkSession.

  python plans/r07/ann_query_pairs.py <base> <change> <sf_dir> <pairs> <out.json>

``out.json`` holds every run's per-query medians and raw walls, and
per query the median of each side and the change/base ratio.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

QUERIES = ["ivf_ann_topk", "ivf_ann_search", "pq_adc_topk"]
REPS = 3
CORES = 4


def one_run(repo: str, sf_dir: str) -> dict:
    sys.path.insert(0, repo)
    from cvocr_spark.contract import build_contract
    from cvocr_spark.session import build_session, ensure_shipped

    spark = build_session(
        app="ann-query-pairs", master=f"local[{CORES}]", shuffle_partitions=CORES
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    contract = build_contract()
    out = {}
    for name in QUERIES:
        fn = contract[name][0]
        fn(spark, sf_dir).count()
        walls = []
        for _ in range(REPS):
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            walls.append(round(time.perf_counter() - t0, 3))
        ts = sorted(walls)
        kept = [t for t in ts if t <= 1.5 * ts[0]]
        out[name] = {"median_s": kept[(len(kept) - 1) // 2], "walls": walls}
    spark.stop()
    return out


def main(base: str, change: str, sf_dir: str, pairs: int, out: str) -> None:
    runs = []
    for i in range(pairs):
        # alternate which side goes first, so drift hits both equally
        order = [("base", base), ("change", change)]
        for side, repo in order if i % 2 == 0 else order[::-1]:
            res = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", repo, sf_dir],
                capture_output=True, text=True, check=True,
            )
            runs.append({"pair": i, "side": side, **json.loads(res.stdout.splitlines()[-1])})
            print(json.dumps(runs[-1]), flush=True)
    summary = {}
    for name in QUERIES:
        med = {
            side: statistics.median(r[name]["median_s"] for r in runs if r["side"] == side)
            for side in ("base", "change")
        }
        summary[name] = {**med, "change_over_base": round(med["change"] / med["base"], 3)}
    with open(out, "w") as f:
        json.dump(
            {"cores": CORES, "reps": REPS, "sf_dir": sf_dir, "summary": summary, "runs": runs},
            f, indent=1, sort_keys=True,
        )


if __name__ == "__main__":
    if sys.argv[1] == "--one":
        print(json.dumps(one_run(sys.argv[2], sys.argv[3])))
    else:
        main(sys.argv[1], sys.argv[2], sys.argv[3], int(sys.argv[4]), sys.argv[5])
