#!/usr/bin/env python
"""In-process A/B of the per-document text features: a parent
checkout's explode -> aggregate plans against this checkout's Arrow
kernel (operators/doctext.py), on ONE SparkSession, in alternating
noop-sink repetitions (the order flips every repetition).

The parent's ``cvocr_spark`` is loaded under another package name, so
both versions build their plans side by side.  Every parent stage timed
here is JVM-only (no Python worker imports the aliased package).

Input: ``perfbench/data/documents.parquet`` plus injected exact copies
(5500 rows), written as 4 parquet parts (the benchmark's input shape at
local[4]) and read back as a bare file scan.  Each stage's rows are
checked equal (``exceptAll`` both ways) before timing.

  python plans/r07/doctext_ab.py <parent_checkout> <out.json> [reps]
"""

from __future__ import annotations

import importlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))


def _parent_package(checkout: str):
    pkg = os.path.join(checkout, "cvocr_spark")
    spec = importlib.util.spec_from_file_location(
        "parent_cvocr_spark", os.path.join(pkg, "__init__.py"), submodule_search_locations=[pkg]
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules["parent_cvocr_spark"] = mod
    spec.loader.exec_module(mod)
    return lambda name: importlib.import_module(f"parent_cvocr_spark.{name}")


def _quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4)
    return {"median": round(statistics.median(xs), 3), "q1": round(q[0], 3), "q3": round(q[2], 3)}


def main(parent: str, out: str, reps: int = 7) -> None:
    sys.path.insert(0, REPO)
    import pyarrow.parquet as pq

    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.operators import decontam, simhash64, textstats
    from cvocr_spark.session import build_session, ensure_shipped

    old = _parent_package(parent)
    odd, ots, osh = (old(f"operators.{m}") for m in ("dedup", "textstats", "simhash64"))
    spark = build_session(app="doctext-ab", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    tmp = tempfile.mkdtemp(prefix="doctext_ab_")
    src = dd.with_injected_dups(
        spark.read.parquet(os.path.join(REPO, "perfbench/data/documents.parquet")).select(
            "doc_id", "text"
        )
    )
    table = src.toArrow()
    step = -(-table.num_rows // 4)
    os.makedirs(f"{tmp}/docs")
    for p in range(4):
        pq.write_table(table.slice(p * step, step), f"{tmp}/docs/part-{p:03d}.parquet")
    docs = spark.read.parquet(f"{tmp}/docs")
    ev = docs.filter("doc_id % 50 = 7").selectExpr("doc_id + 9000000 AS doc_id", "text")
    stages = {
        "minhash_signatures": (odd.minhash_signatures, dd.minhash_signatures),
        "minhash_signatures_wide": (odd.minhash_signatures_wide, dd.minhash_signatures_wide),
        "repetition_stats": (ots.repetition_stats, textstats.repetition_stats),
        "simhash64_signatures": (osh.simhash64_signatures, simhash64.simhash64_signatures),
        "doc_fingerprint": (ots.doc_fingerprint, textstats.doc_fingerprint),
        "corpus_filter": (ots.corpus_filter, textstats.corpus_filter),
        "minhash_verified_dups": (odd.minhash_verified_dups, dd.minhash_verified_dups),
        # unchanged operator: the control for drift between the two sides
        "decontaminate": (
            lambda d: old("operators.decontam").decontaminate(d, ev),
            lambda d: decontam.decontaminate(d, ev),
        ),
    }
    result = {}
    for name, (fa, fb) in stages.items():
        a, b = fa(docs), fb(docs)
        diff = (a.exceptAll(b).count(), b.exceptAll(a).count())
        walls = {"parent": [], "change": []}
        for r in range(reps):
            order = (("parent", a), ("change", b)) if r % 2 == 0 else (("change", b), ("parent", a))
            for side, df in order:
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls[side].append(time.perf_counter() - t0)
        result[name] = {
            "rows": b.count(),
            "except_all_both_ways": list(diff),
            "parent_s": _quartiles(walls["parent"]),
            "change_s": _quartiles(walls["change"]),
            "walls": {k: [round(x, 3) for x in v] for k, v in walls.items()},
        }
        print(name, json.dumps(result[name]), flush=True)
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(
            {
                "what": (
                    "in-process A/B, the parent checkout's plans vs this checkout's doctext "
                    f"kernel; {reps} alternating noop-sink reps per stage; "
                    "local[4] on a 4-vCPU VM; 5500 docs in 4 parquet parts"
                ),
                "stages": result,
            },
            f, indent=1, sort_keys=True,
        )


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], *(int(a) for a in sys.argv[3:4]))
