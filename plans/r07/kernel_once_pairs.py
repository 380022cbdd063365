#!/usr/bin/env python
"""Alternating perfbench pairs, parent checkout vs change checkout.

For each seed, runs ``python3 perfbench/run.py --workload W --seed S
--seconds N --trace T`` once in each checkout, one run at a time; the
side that runs first alternates from pair to pair (the parent first in
the first pair).  Every run is appended to ``out`` as it finishes, and
the file is rewritten with a summary per end-to-end metric: each side's
median and quartiles, the change/parent ratio of the medians, and the
pairs the change won (ties count for neither side).

  python plans/r07/kernel_once_pairs.py <parent> <change> <out.json> \\
      --workload dedup --seeds 301-312 --seconds 5 --trace 0
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BETTER = {"setup_s": "lower", "docs_per_s": "higher"}


def run_one(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.perf_counter() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    last = json.loads(lines[-1]) if p.returncode == 0 and lines else {}
    return {
        "workload": workload, "seed": seed, "trace": trace, "rc": p.returncode,
        "wall_s": round(wall, 1), "correct": last.get("correct"),
        "failed": last.get("failed"), "attempted": last.get("attempted"),
        "metrics": {k: v["value"] for k, v in last.get("metrics", {}).items()},
        **({"stderr_tail": p.stderr[-2000:]} if p.returncode else {}),
    }


def _quartiles(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else (xs * 3)
    return {"median": round(med, 3), "q1": round(q1, 3), "q3": round(q3, 3), "n": len(xs)}


def summary(runs: list[dict]) -> dict:
    out = {}
    for workload in sorted({r["workload"] for r in runs if r["trace"] == 0}):
        pairs: dict[int, dict] = {}
        for r in runs:
            if r["workload"] == workload and r["trace"] == 0:
                pairs.setdefault(r["pair"], {})[r["side"]] = r
        full = [p for p in pairs.values() if len(p) == 2]
        out[f"{workload}.runs_failed_or_incorrect"] = sum(
            1 for p in full for r in p.values() if r["rc"] or not r["correct"] or r["failed"]
        )
        for metric, better in BETTER.items():
            ok = [p for p in full if all(metric in r["metrics"] for r in p.values())]
            if not ok:
                continue
            par = [p["parent"]["metrics"][metric] for p in ok]
            chg = [p["change"]["metrics"][metric] for p in ok]
            wins = sum((c < a) if better == "lower" else (c > a) for a, c in zip(par, chg))
            sp, sc = _quartiles(par), _quartiles(chg)
            out[f"{workload}.{metric}"] = {
                "parent": sp, "change": sc,
                "change_over_parent_median": round(sc["median"] / sp["median"], 3),
                "median_gap_over_parent_iqr": round(
                    abs(sc["median"] - sp["median"]) / max(sp["q3"] - sp["q1"], 1e-9), 2
                ),
                "change_better_pairs": f"{wins}/{len(ok)}",
            }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("out")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, inclusive")
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    lo, hi = map(int, args.seeds.split("-"))
    doc = {"runs": []}
    if os.path.exists(args.out):
        with open(args.out) as f:
            doc = json.load(f)
    first_pair = 1 + max((r["pair"] for r in doc["runs"]), default=0)
    for i, seed in enumerate(range(lo, hi + 1)):
        pair = first_pair + i
        order = ("parent", "change") if pair % 2 else ("change", "parent")
        for side in order:
            checkout = args.parent if side == "parent" else args.change
            r = run_one(checkout, args.workload, seed, args.seconds, args.trace)
            doc["runs"].append({"pair": pair, "first": order[0], "side": side, **r})
            doc["summary"] = summary(doc["runs"])
            with open(args.out, "w") as f:
                json.dump(doc, f, indent=1, sort_keys=True)
            print(side, args.workload, seed, r["rc"], r["correct"], r["metrics"], flush=True)


if __name__ == "__main__":
    main()
