#!/usr/bin/env python
"""Sorted-row sha256 of every entry point that reads the per-document
text features (minhash, repetition counts, simhash64, fingerprint) or
the hot-bucket guard, for one checkout, so two checkouts can be
compared for "same rows".

Corpora:
  * ``real``  — ``perfbench/data/documents.parquet`` plus injected exact
    copies (5500 rows), read as a bare file scan;
  * ``nasty`` — NULL, '', blank, tab/newline, 1-2 word, repeated-word,
    non-ASCII and CJK texts next to near-duplicate families;
  * ``hot``   — the 40-doc corpus of ``band_probe_plans.py`` plus 130
    copies of one text (a band and chunk bucket over the guard's
    limit), probed by near copies of it.
``cosine_neardup_pairs`` runs over ``<sf_dir>/embeddings.parquet`` (the
sf0.01 test data was used), at its defaults and over 1050 vectors at a bucket limit of 66 (the
guard drops about half of the 16 buckets).

Run once per checkout, then merge the two files:

  python plans/r07/doctext_rows.py <checkout> <sf_dir> <out.json>
  python plans/r07/doctext_rows.py --merge <parent.json> <change.json> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile

def main(repo: str, sf_dir: str, out: str) -> None:
    sys.path.insert(0, repo)
    from pyspark.sql import functions as F

    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.operators import simhash64 as sh
    from cvocr_spark.operators import similarity, textstats
    from cvocr_spark.plans.curate import curate_corpus
    from cvocr_spark.session import build_session, ensure_shipped

    spark = build_session(app="doctext-rows", master="local[4]", shuffle_partitions=4)
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
    nasty = spark.createDataFrame(
        fam + [(500 + i, t) for i, t in enumerate(odd)], schema
    )
    nasty_new = spark.createDataFrame(
        [(1000 + i, t + " z") for i, t in fam[:10]] + [(1500 + i, t) for i, t in enumerate(odd[:8])],
        schema,
    )
    boiler = "terms of service privacy policy cookie settings contact us about careers press"
    docs40 = spark.createDataFrame(fam, schema)
    hot = docs40.unionByName(spark.createDataFrame([(2000 + i, boiler) for i in range(130)], schema))
    hot_new = spark.createDataFrame(
        [(1000 + i, t + " z") for i, t in fam[:10]]
        + [(3000 + i, f"{boiler} extra{i}") for i in range(5)],
        schema,
    )
    existing, new_batch = dd.incremental_split(real)
    corpora = {
        "real": (real, existing, new_batch),
        "nasty": (nasty, nasty, nasty_new),
        "hot": (hot, hot, hot_new),
    }
    tmp = tempfile.mkdtemp(prefix="doctext_rows_")

    def batches(name, ex, new):
        d = f"{tmp}/{name}_bands"
        first = dd.batch_pairs(ex, None, dd._banded(ex), d, 0)
        second = dd.batch_pairs(new, ex, dd._banded(new), d, 1)
        return first.withColumn("batch", F.lit(0)).unionByName(second.withColumn("batch", F.lit(1)))

    def indexed(name, ex, new):
        idx = f"{tmp}/{name}_idx"
        dd.build_dedup_index(ex, idx)
        return dd.dedup_incremental_indexed(new, ex, idx)

    cases = {}
    for name, (docs, ex, new) in corpora.items():
        cases.update({
            f"{name}.minhash_signatures": lambda d=docs: dd.minhash_signatures(d),
            f"{name}.minhash_signatures_wide": lambda d=docs: dd.minhash_signatures_wide(d),
            f"{name}.minhash_k128_digest": lambda d=docs: sh.minhash_k128_digest(d),
            f"{name}.minhash_lsh_pairs": lambda d=docs: dd.minhash_lsh_pairs(d),
            f"{name}.minhash_lsh_pairs_wide": lambda d=docs: dd.minhash_lsh_pairs_wide(d),
            f"{name}.lsh_skipped_buckets": lambda d=docs: dd.lsh_skipped_buckets(d),
            f"{name}.minhash_verified_dups": lambda d=docs: dd.minhash_verified_dups(d),
            f"{name}.dedup_clusters_verified": lambda d=docs: dd.dedup_clusters_verified(d),
            f"{name}.dedup_incremental": lambda e=ex, n=new: dd.dedup_incremental(n, e),
            f"{name}.dedup_incremental_indexed": lambda k=name, e=ex, n=new: indexed(k, e, n),
            f"{name}.batch_pairs": lambda k=name, e=ex, n=new: batches(k, e, n),
            f"{name}.repetition_stats": lambda d=docs: textstats.repetition_stats(d),
            f"{name}.corpus_filter": lambda d=docs: textstats.corpus_filter(d),
            f"{name}.doc_fingerprint": lambda d=docs: textstats.doc_fingerprint(d),
            f"{name}.simhash64_signatures": lambda d=docs: sh.simhash64_signatures(d),
            f"{name}.simhash64_neardup_pairs": lambda d=docs: sh.simhash64_neardup_pairs(d),
            f"{name}.curate_corpus": lambda d=docs: curate_corpus(d, cache=False),
        })
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    cases["emb.cosine_neardup_pairs"] = lambda: similarity.cosine_neardup_pairs(emb)
    cases["emb.cosine_neardup_pairs_guarded"] = lambda: similarity.cosine_neardup_pairs(
        emb, limit_id=1000, max_bucket=66
    )
    result = {}
    for name, fn in cases.items():
        try:
            rows = sorted(map(tuple, fn().collect()), key=repr)
        except Exception as e:  # recorded: equal errors compare equal
            result[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
        else:
            result[name] = {
                "rows": len(rows),
                "rows_sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
            }
        print(name, result[name], flush=True)
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
        main(*sys.argv[1:4])
