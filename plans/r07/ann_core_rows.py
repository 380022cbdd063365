#!/usr/bin/env python
"""Fingerprint the trained quantizers, physical plans and outputs of the
ANN entry points of one checkout (``cvocr_spark/operators/{ivf,pq,
similarity}.py``), so two checkouts can be compared for "same centroids,
same rows, same plans".

The corpus is a fixed seeded one: 400 clustered 64-dim vectors rounded
to 3 dp, the last 40 exact copies of the first 40 under new ids (so
hash seeds, distances and cosine scores tie exactly).  For each entry
point it records the sha256 of the sorted output rows and of the
physical plan as planned before execution (adaptive execution rewrites
it at run time, so the final plan varies run to run), with expression ids, plan ids,
common-subexpression ids, RDD ids and file paths normalized away; for
the trainers (``ivf._train`` and ``pq.train_codebooks_fused``) it
records the trained integers.

Run once per checkout, then merge the two files:

  python plans/r07/ann_core_rows.py <checkout> <out.json>
  python plans/r07/ann_core_rows.py --merge <parent.json> <change.json> <out.json>
"""

from __future__ import annotations

import hashlib
import json
import re
import shutil
import sys
import tempfile


def _corpus(spark):
    import numpy as np

    rng = np.random.RandomState(7)
    centers = rng.normal(size=(8, 64))
    vecs = np.round(centers[np.arange(360) % 8] + 0.3 * rng.normal(size=(360, 64)), 3)
    vecs = np.concatenate([vecs, vecs[:40]])
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )


def _plan_sha(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    for pat, rep in (
        (r"#\d+L?", "#N"),
        (r"_common_expr_\d+", "_common_expr_N"),
        (r"\[plan_id=\d+\]", ""),
        (r"ExistingRDD\[[^\]]*\]", "ExistingRDD"),
        (r"file:[^,\]\s]*", "FILE"),
    ):
        plan = re.sub(pat, rep, plan)
    return hashlib.sha256(plan.encode()).hexdigest()


def main(repo: str, out: str) -> None:
    sys.path.insert(0, repo)
    from cvocr_spark.operators import ivf, pq, similarity as sim
    from cvocr_spark.session import build_session, ensure_shipped

    spark = build_session(app="ann-core-rows", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    emb = _corpus(spark).cache()
    tmp = tempfile.mkdtemp(prefix="ann_core_rows_")
    ivf.build_ivf_index(emb, f"{tmp}/ivf")
    pq.build_ivfpq_index(emb, f"{tmp}/ivfpq")
    result = {
        "ivf._train": ivf._train(emb, ivf.IVF_K, ivf.IVF_ITERS),
        "pq.train_codebooks_fused": pq.train_codebooks_fused(emb),
    }
    cases = {
        "ivf_ann_topk": lambda: ivf.ivf_ann_topk(emb),
        "ivf_search_index": lambda: ivf.ivf_search_index(spark, f"{tmp}/ivf"),
        "pq_adc_topk_rerank_none": lambda: pq.pq_adc_topk(emb, rerank=None),
        "pq_adc_topk_rerank_100": lambda: pq.pq_adc_topk(emb, rerank=100),
        "ivfpq_topk": lambda: pq.ivfpq_topk(emb),
        "ivfpq_topk_rerank_none": lambda: pq.ivfpq_topk(emb, rerank=None),
        "ivfpq_search_index": lambda: pq.ivfpq_search_index(spark, f"{tmp}/ivfpq"),
        "cosine_topk": lambda: sim.cosine_topk(emb),
        "lsh_ann_topk": lambda: sim.lsh_ann_topk(emb),
        "lsh_ann_multiprobe_topk": lambda: sim.lsh_ann_multiprobe_topk(emb, radius=2),
        "cosine_neardup_pairs": lambda: sim.cosine_neardup_pairs(emb),
        "embedding_dedup_clusters": lambda: sim.embedding_dedup_clusters(emb),
    }
    for name, fn in cases.items():
        df = fn()
        plan_sha = _plan_sha(df)  # before execution: AQE rewrites it after
        rows = sorted(map(tuple, df.collect()))
        result[name] = {
            "plan_sha256": plan_sha,
            "rows": len(rows),
            "rows_sha256": hashlib.sha256(repr(rows).encode()).hexdigest(),
        }
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)


def merge(parent: str, change: str, out: str) -> None:
    """One file holding both runs plus which fields differ per entry."""
    with open(parent) as f:
        a = json.load(f)
    with open(change) as f:
        b = json.load(f)
    diff = {
        name: sorted(k for k in a[name] if a[name][k] != b[name][k])
        if isinstance(a[name], dict)
        else ["values"]
        for name in a
        if a[name] != b.get(name)
    }
    with open(out, "w") as f:
        json.dump({"differs": diff, "parent": a, "change": b}, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    if sys.argv[1] == "--merge":
        merge(*sys.argv[2:5])
    else:
        main(sys.argv[1], sys.argv[2])
