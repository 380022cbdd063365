#!/usr/bin/env python
"""In-process A/B of the extraction kernel of two checkouts.

The ``kernel.py`` and ``fastparse.py`` of each checkout are copied into
two packages of a temporary directory and imported side by side, so
both run in one process on the same pages, interleaved rep by rep (the
side that runs first alternates).  Per rep and side it times, in us
per page: ``extract`` over the pages, ``FastSegmenter`` over the
decoded pages, and ``decode_html`` over the pages.  Pages: the fixture
pages of ``sf0.001`` and ``sf0.01`` (1000 pages).  Before timing it
checks that both sides extract the same text from every page.

  python plans/r07/kernel_ab.py <parent_checkout> <change_checkout> <testdata_dir> <reps> <out.json>
"""

from __future__ import annotations

import importlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time


def _load(checkout: str, name: str, tmp: str):
    pkg = os.path.join(tmp, name)
    os.makedirs(pkg)
    open(os.path.join(pkg, "__init__.py"), "w").close()
    for f in ("kernel.py", "fastparse.py"):
        shutil.copy(os.path.join(checkout, "cvocr_spark", f), pkg)
    return importlib.import_module(f"{name}.kernel"), importlib.import_module(f"{name}.fastparse")


def _per_page_us(fn, items) -> float:
    t0 = time.perf_counter_ns()
    for x in items:
        fn(x)
    return (time.perf_counter_ns() - t0) / 1000 / len(items)


def main(parent: str, change: str, testdata: str, reps: str, out: str) -> None:
    sys.path.insert(0, change)
    from cvocr_spark.fixtures import gen_pages_table

    tmp = tempfile.mkdtemp(prefix="kernel_ab_")
    sys.path.insert(0, tmp)
    try:
        sides = {"parent": _load(parent, "k_parent", tmp), "change": _load(change, "k_change", tmp)}
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    htmls = []
    for sf in ("0.001", "0.01"):
        t = gen_pages_table(os.path.join(testdata, f"sf{sf}", "documents.parquet"))
        htmls += t.column("html").to_pylist()
    kp, kc = sides["parent"][0], sides["change"][0]
    assert all(kp.extract(h).text == kc.extract(h).text for h in htmls)

    def timings(kernel, fastparse) -> dict[str, float]:
        docs = [kernel.decode_html(h)[0] for h in htmls]

        def segment(doc):
            seg = fastparse.FastSegmenter()
            seg.feed(doc)
            seg.close()

        return {
            "extract_us_per_doc": _per_page_us(kernel.extract, htmls),
            "segment_us_per_doc": _per_page_us(segment, docs),
            "decode_us_per_doc": _per_page_us(kernel.decode_html, htmls),
        }

    for side in sides.values():  # warm: regex caches, memo
        timings(*side)
    runs = {s: [] for s in sides}
    for r in range(int(reps)):
        for s in (("parent", "change") if r % 2 == 0 else ("change", "parent")):
            runs[s].append(timings(*sides[s]))

    summary = {}
    for m in runs["parent"][0]:
        for s in sides:
            xs = [t[m] for t in runs[s]]
            q = statistics.quantiles(xs, n=4, method="inclusive")
            summary[f"{m}.{s}"] = {
                "median": round(statistics.median(xs), 1), "q1": round(q[0], 1), "q3": round(q[2], 1),
            }
        wins = sum(c[m] < p[m] for p, c in zip(runs["parent"], runs["change"]))
        summary[f"{m}.change_faster_reps"] = f"{wins}/{len(runs['parent'])}"
    with open(out, "w") as f:
        json.dump({"pages": len(htmls), "reps": int(reps), "summary": summary, "runs": runs}, f, indent=1)


if __name__ == "__main__":
    main(*sys.argv[1:6])
