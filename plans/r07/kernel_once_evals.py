#!/usr/bin/env python
"""How often, and in which tasks, the per-document text kernel evaluates
each document, for one checkout.

The kernel's row functions (``doctext._minhash_row``,
``_repetition_row``, ``_simhash64_row``) are wrapped so that each call
adds 1 to an accumulator keyed by (stage, partition) of the task that
made it.  Recorded, over ``perfbench/data/documents.parquet`` plus
injected exact copies (5500 rows):

  * ``minhash_lsh_pairs``, ``minhash_lsh_pairs_wide`` and
    ``simhash64_neardup_pairs`` over the corpus persisted in memory
    (collected);
  * one ``curate_corpus(cache=True)`` with the manifest written to a
    noop sink, and the number of quality survivors.

Per entry: rows evaluated, the number of kernel tasks, and the rows of
each task, largest first.

  python plans/r07/kernel_once_evals.py <checkout> <out.json>
  python plans/r07/kernel_once_evals.py --merge <parent.json> <change.json> <out.json>
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.accumulators import AccumulatorParam


class _Counts(AccumulatorParam):
    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, n in b.items():
            a[k] = a.get(k, 0) + n
        return a


def main(repo: str, out: str) -> None:
    sys.path.insert(0, repo)
    from pyspark import TaskContext

    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.operators import doctext, textstats
    from cvocr_spark.operators import simhash64 as sh
    from cvocr_spark.plans.curate import curate_corpus, release
    from cvocr_spark.session import build_session, ensure_shipped

    spark = build_session(app="kernel-once-evals", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    names = ("_minhash_row", "_repetition_row", "_simhash64_row")
    accs = {n: spark.sparkContext.accumulator({}, _Counts()) for n in names}

    def counting(fn, acc):
        def row(text, **kw):
            tc = TaskContext.get()
            acc.add({f"{tc.stageId()}:{tc.partitionId()}": 1})
            return fn(text, **kw)
        return row

    orig = {n: getattr(doctext, n) for n in names}
    for n in names:
        setattr(doctext, n, counting(orig[n], accs[n]))

    def measure(action) -> dict:
        before = {n: dict(a.value) for n, a in accs.items()}
        action()
        got = {}
        for n, a in accs.items():
            tasks = {k: v - before[n].get(k, 0) for k, v in a.value.items()}
            tasks = {k: v for k, v in tasks.items() if v}
            if tasks:
                got[n] = {
                    "rows": sum(tasks.values()),
                    "tasks": len(tasks),
                    "rows_per_task": sorted(tasks.values(), reverse=True),
                }
        return got

    docs = dd.with_injected_dups(
        spark.read.parquet(os.path.join(repo, "perfbench/data/documents.parquet")).select(
            "doc_id", "text"
        )
    )
    cached = docs.persist()
    result = {"docs": cached.count()}
    for name, fn in (("minhash_lsh_pairs", dd.minhash_lsh_pairs),
                     ("minhash_lsh_pairs_wide", dd.minhash_lsh_pairs_wide),
                     ("simhash64_neardup_pairs", sh.simhash64_neardup_pairs)):
        result[name] = measure(lambda f=fn: f(cached).collect())
        print(name, result[name], flush=True)
    cached.unpersist()

    def curate():
        m = curate_corpus(docs)
        m.write.format("noop").mode("overwrite").save()
        release(m)

    result["curate_corpus"] = measure(curate)
    print("curate_corpus", result["curate_corpus"], flush=True)
    for n in names:  # unwrap before counting survivors
        setattr(doctext, n, orig[n])
    result["survivors"] = textstats.corpus_filter(docs).filter("keep").count()
    spark.stop()
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


def merge(parent: str, change: str, out: str) -> None:
    with open(parent) as f:
        a = json.load(f)
    with open(change) as f:
        b = json.load(f)
    with open(out, "w") as f:
        json.dump({"parent": a, "change": b}, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    if sys.argv[1] == "--merge":
        merge(*sys.argv[2:5])
    else:
        main(*sys.argv[1:3])
