#!/usr/bin/env python
"""Sorted-row sha256 of every entry point whose plan pairs band buckets
or grades a curation, for one checkout, so two checkouts can be
compared for "same rows".

Corpora (those of ``doctext_rows.py``):
  * ``real``  — ``perfbench/data/documents.parquet`` plus injected exact
    copies (5500 rows), read as a bare file scan;
  * ``nasty`` — NULL, '', blank, tab/newline, 1-2 word, repeated-word,
    non-ASCII and CJK texts next to near-duplicate families;
  * ``hot``   — 40 near-duplicate docs plus 130 copies of one text (a
    band and chunk bucket over the guard's limit), probed by near
    copies of it.

Entry points per corpus: ``minhash_lsh_pairs`` and ``_wide``,
``minhash_verified_dups``, ``minhash_verified_dups_banded`` (over
``_banded`` of the corpus), ``minhash_verified_dups_indexed`` (over a
built index), ``simhash64_neardup_pairs``, ``curate_corpus`` with
``cache`` on and off and with ``dedup_index_path``, and
``dedup_incremental_pairs`` of the corpus's incremental split.  Then
``cluster_batch_writer`` over the ``real`` corpus in three batches
(``doc_id % 3``): ``current_clusters`` after each batch, and the stored
``bands/`` and ``corpus/`` tables after the last.

Run once per checkout, then merge the two files:

  python plans/r07/kernel_once_rows.py <checkout> <out.json>
  python plans/r07/kernel_once_rows.py --merge <parent.json> <change.json> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile


def main(repo: str, out: str) -> None:
    sys.path.insert(0, repo)
    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.operators import simhash64 as sh
    from cvocr_spark.plans.curate import curate_corpus, release
    from cvocr_spark.session import build_session, ensure_shipped
    from cvocr_spark.streaming import cluster_batch_writer, current_clusters

    spark = build_session(app="kernel-once-rows", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    schema = "doc_id bigint, text string"

    real = dd.with_injected_dups(
        spark.read.parquet(os.path.join(repo, "perfbench/data/documents.parquet")).select(
            "doc_id", "text"
        )
    )
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    fam = [(i, f"{base} w{i % 7} x{i % 3}") for i in range(40)]
    odd = [
        None, "", " ", "   ", "\t\n  ", "one", "one two", "one two three",
        "a  b  c", "repeat " * 30, "İstanbul ısparta DİYARBAKIR", "中文 文本 分词 测试 样例",
        "trailing space ", " leading space", "x\ty z\nw", "the the the the the",
    ]
    nasty = spark.createDataFrame(fam + [(500 + i, t) for i, t in enumerate(odd)], schema)
    boiler = "terms of service privacy policy cookie settings contact us about careers press"
    hot = spark.createDataFrame(fam, schema).unionByName(
        spark.createDataFrame([(2000 + i, boiler) for i in range(130)], schema)
    )
    tmp = tempfile.mkdtemp(prefix="kernel_once_rows_")

    def indexed(name, docs):
        idx = f"{tmp}/{name}_idx"
        dd.build_dedup_index(docs, idx)
        return dd.minhash_verified_dups_indexed(docs, idx)

    def curated(docs, **kw):
        m = curate_corpus(docs, **kw)
        rows = m.collect()
        release(m)
        return rows

    def incremental(docs):
        existing, new = dd.incremental_split(docs)
        return dd.dedup_incremental_pairs(new, existing)

    cases = {}
    for name, docs in (("real", real), ("nasty", nasty), ("hot", hot)):
        cases.update({
            f"{name}.minhash_lsh_pairs": lambda d=docs: dd.minhash_lsh_pairs(d),
            f"{name}.minhash_lsh_pairs_wide": lambda d=docs: dd.minhash_lsh_pairs_wide(d),
            f"{name}.minhash_verified_dups": lambda d=docs: dd.minhash_verified_dups(d),
            f"{name}.minhash_verified_dups_banded":
                lambda d=docs: dd.minhash_verified_dups_banded(d, dd._banded(d)),
            f"{name}.minhash_verified_dups_indexed": lambda k=name, d=docs: indexed(k, d),
            f"{name}.simhash64_neardup_pairs": lambda d=docs: sh.simhash64_neardup_pairs(d),
            f"{name}.curate_corpus.cache": lambda d=docs: curated(d),
            f"{name}.curate_corpus.nocache": lambda d=docs: curated(d, cache=False),
            f"{name}.curate_corpus.index":
                lambda k=name, d=docs: curated(d, dedup_index_path=f"{tmp}/{k}_curate_idx"),
            f"{name}.dedup_incremental_pairs": lambda d=docs: incremental(d),
        })

    result = {}

    def record(name, fn):
        try:
            got = fn()
            rows = sorted(map(tuple, got if isinstance(got, list) else got.collect()), key=repr)
        except Exception as e:  # recorded: equal errors compare equal
            result[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
        else:
            result[name] = {
                "rows": len(rows),
                "rows_sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
            }
        print(name, result[name], flush=True)

    for name, fn in cases.items():
        record(name, fn)
    state = f"{tmp}/clusters"
    writer = cluster_batch_writer(spark, state)
    for b in range(3):
        writer(real.filter(f"doc_id % 3 = {b}"), b)
        record(f"cluster_batch_writer.batch{b}.current_clusters",
               lambda: current_clusters(spark, state))
    record("cluster_batch_writer.bands", lambda: dd._stored_bands(spark, f"{state}/bands"))
    record("cluster_batch_writer.corpus", lambda: spark.read.parquet(f"{state}/corpus"))
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


def merge(parent: str, change: str, out: str) -> None:
    """One file holding both runs plus the entries whose rows differ."""
    with open(parent) as f:
        a = json.load(f)
    with open(change) as f:
        b = json.load(f)
    with open(out, "w") as f:
        json.dump(
            {"differs": sorted(n for n in a if a[n] != b.get(n)), "parent": a, "change": b},
            f, indent=1, sort_keys=True,
        )


if __name__ == "__main__":
    if sys.argv[1] == "--merge":
        merge(*sys.argv[2:5])
    else:
        main(*sys.argv[1:3])
