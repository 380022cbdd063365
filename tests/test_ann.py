"""ANN recall tests: the numpy-matmul scale path must return the same
top-k neighbor SETS as the exact expression baseline (brute force =>
recall 1.0 up to rounded-sim ties), and the LSH-bucketed variant must
find each query itself."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvocr_spark.operators.ann_numpy import cosine_topk_numpy  # noqa: E402
from cvocr_spark.operators.similarity import cosine_topk, lsh_ann_topk  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def _topk_map(rows):
    out = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append((r["sim"], r["neighbor_id"]))
    return {q: sorted(v, reverse=True) for q, v in out.items()}


def test_cosine_topk_cross_engine(spark):
    """cosine_topk's DuckDB restatement — the slot left the checked
    contract in r5 (traded for the oracled PQ pipeline), so the pin
    lives here like the other traded demos."""
    import duckdb

    from cvocr_spark.operators.similarity import cosine_topk_sql

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = sorted(map(tuple, cosine_topk(emb).collect()))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'"
    )
    rows = con.execute(cosine_topk_sql()).fetch_arrow_table().to_pylist()
    cols = cosine_topk(emb).columns
    want = sorted(tuple(d[c] for c in cols) for d in rows)
    assert got == want and got


def test_numpy_ann_matches_exact_baseline(spark):
    """The int64-quantized numpy path (r4: exact-integer scoring, hash
    oracled) against the float-fold exact baseline: milli-quantization
    perturbs sims by ~1e-3, so compare neighbor SETS (recall), not sim
    values, and require every query to find itself near sim 1.0."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = _topk_map(cosine_topk(emb, n_queries=5, k=5).collect())
    fast = _topk_map(cosine_topk_numpy(emb, n_queries=5, k=5).collect())
    assert set(exact) == set(fast)
    hits = total = 0
    for q in exact:
        en = {n for _, n in exact[q]}
        fn = {n for _, n in fast[q]}
        hits += len(en & fn)
        total += len(en)
        self_sims = [s for s, n in fast[q] if n == q]
        assert self_sims and self_sims[0] > 0.999998, fast[q]
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_lsh_neardup_recall_vs_exact(spark):
    """The LSH-routed near-dup (the named operator) must find every
    exact-copy pair the bounded all-pairs verifier finds: at 0.995
    cosine the pair shares all hyperplane signs, so bucket-join recall
    on exact copies is 1.0."""
    from cvocr_spark.operators.similarity import (
        cosine_neardup_exact,
        cosine_neardup_pairs,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r["a"], r["b"]) for r in cosine_neardup_exact(emb).collect()}
    lsh = {(r["a"], r["b"]) for r in cosine_neardup_pairs(emb).collect()}
    assert exact, "fixture must contain injected near-dups"
    missed = exact - lsh
    assert not missed, f"LSH route missed exact-copy pairs: {sorted(missed)[:5]}"
    assert lsh <= exact  # no false positives (both verify exact cosine)


def test_cosine_neardup_pairs_guarded_buckets_equal_duckdb(spark):
    """cosine_neardup_pairs pairs each guarded bucket with one aggregate
    (dedup._bucket_pairs): its rows equal the DuckDB restatement's
    guard + self-join at the defaults and over every vector (with its
    injected copies) at a bucket limit of 33, where the guard drops
    about half of the 16 buckets, and the executed plan
    holds ONE Window node (the guard's count, once, not once per
    self-join side)."""
    import duckdb

    from cvocr_spark.operators.similarity import (
        _bucket_expr_duck,
        cosine_neardup_pairs,
        cosine_neardup_pairs_sql,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{SF_DIR}/embeddings.parquet'")
    guarded = {"limit_id": 1000, "max_bucket": 33}
    hot = con.execute(f"""
        WITH c AS (
          SELECT vec_id, embedding FROM embeddings WHERE vec_id < 1000
          UNION ALL
          SELECT vec_id + 100000, embedding FROM embeddings
          WHERE vec_id < 1000 AND vec_id % 20 = 0
        )
        SELECT count(*) FROM (
          SELECT {_bucket_expr_duck("c")} AS bkt FROM c GROUP BY bkt HAVING count(*) > 33
        )
    """).fetchone()[0]
    assert hot > 0  # the guard drops buckets at this limit
    for kw in ({}, guarded):
        df = cosine_neardup_pairs(emb, **kw)
        got = sorted(map(tuple, df.collect()))
        rows = con.execute(cosine_neardup_pairs_sql(**kw)).fetchall()
        assert got == sorted(rows) and got, kw
        final = df._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
        assert final.count("Window [") == 1, final[:4000]


def test_ivf_ann_recall_and_self_hit(spark):
    """IVF with n_probe=2 of k=8 lists: every query finds itself (its
    own list is always probed) and recall@5 vs exact lands in
    tests/goldens/ann_recall.json next to the LSH numbers."""
    import json
    import os

    from cvocr_spark.operators.ivf import ivf_ann_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    nq, k = 20, 5
    exact = _topk_map(cosine_topk(emb, n_queries=nq, k=k).collect())
    got = _topk_map(ivf_ann_topk(emb, n_queries=nq, topk=k).collect())
    hits = total = 0
    for q, gold in exact.items():
        gold_ids = {n for _s, n in gold}
        got_ids = {n for _s, n in got.get(q, [])}
        hits += len(gold_ids & got_ids)
        total += len(gold_ids)
        assert q in got_ids, f"query {q} must find itself"
    recall = hits / total
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "goldens", "ann_recall.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    data["recall_ivf_nprobe2_of8"] = round(recall, 4)
    with open(path, "w") as f:
        json.dump(data, f, indent=1)
    assert recall >= 0.4, f"IVF recall collapsed: {recall}"


def test_chosen_ann_config_recall_at_sf01(spark):
    """The documented operating point (tests/goldens/ann_recall.json
    'chosen': IVF n_probe=4 of 8) must hold recall@5 >= 0.8 on the
    sf0.1 embeddings — the VERDICT r2 item-5 'done' bar.  Caveat
    recorded in the golden: these synthetic embeddings are near-uniform
    (no cluster structure), so 0.8 recall costs probing half the lists;
    real corpora concentrate far better."""
    from cvocr_spark.operators.ivf import ivf_ann_topk

    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    nq, k = 20, 5
    exact = _topk_map(cosine_topk(emb, n_queries=nq, k=k).collect())
    got = _topk_map(ivf_ann_topk(emb, n_probe=4, n_queries=nq, topk=k).collect())
    hits = total = 0
    for q, gold in exact.items():
        gold_ids = {n for _s, n in gold}
        got_ids = {n for _s, n in got.get(q, [])}
        hits += len(gold_ids & got_ids)
        total += len(gold_ids)
    assert hits / total >= 0.8, f"chosen-config recall collapsed: {hits / total}"


def test_lsh_ann_self_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = lsh_ann_topk(emb, n_queries=5, k=3).collect()
    by_q = _topk_map(rows)
    for q, hits in by_q.items():
        assert any(n == q for _s, n in hits), f"query {q} must find itself"
        assert max(s for s, _n in hits) == 1.0


def test_lsh_ann_recall_characterized(spark):
    """Measured recall@k vs the exact baseline for single-probe and
    multi-probe LSH (VERDICT r1: 'recall uncharacterized beyond the one
    test').  Multi-probe must dominate single-probe; the measured
    numbers land in tests/goldens/ann_recall.json for the bench record."""
    import json
    import os

    from cvocr_spark.operators.similarity import lsh_ann_multiprobe_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    nq, k = 20, 5
    exact = _topk_map(cosine_topk(emb, n_queries=nq, k=k).collect())
    single = _topk_map(lsh_ann_topk(emb, n_queries=nq, k=k).collect())
    multi = _topk_map(lsh_ann_multiprobe_topk(emb, n_queries=nq, k=k).collect())

    def recall(approx):
        hits = total = 0
        for q, gold in exact.items():
            gold_ids = {n for _s, n in gold}
            got_ids = {n for _s, n in approx.get(q, [])}
            hits += len(gold_ids & got_ids)
            total += len(gold_ids)
        return hits / total

    r1, rm = recall(single), recall(multi)
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "goldens", "ann_recall.json")
    # read-merge (same pattern as the IVF test): a fresh dict here used
    # to discard recall_ivf_* keys written by the earlier test
    out = json.load(open(path)) if os.path.exists(path) else {}
    out.update({"n_queries": nq, "k": k, "recall_single_probe": round(r1, 4),
                "recall_multi_probe": round(rm, 4)})
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    assert rm >= r1, out
    assert rm >= 0.5, f"multi-probe recall collapsed: {out}"
    # both must at least find the query itself (sim 1.0)
    for q in exact:
        assert any(n == q for _s, n in multi[q])

def test_ivf_torn_build_rebuilds(spark, tmp_path):
    """A build killed between the artifact writes must NOT be served:
    built-ness is the terminal _BUILT marker written after all three
    artifacts, so valid centroids + torn lists reads as not-built and
    the next call rebuilds (ADVICE r3: the centroids-probe version
    served a partial index forever)."""
    import shutil

    from cvocr_spark.operators import ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivf_idx")
    first = ivf.ivf_build_and_search(spark, emb, path, n_queries=3).collect()
    assert first

    # simulate the torn write: centroids intact, lists/stats/marker gone
    shutil.rmtree(f"{path}/lists")
    shutil.rmtree(f"{path}/stats")
    os.remove(f"{path}/_BUILT")
    again = ivf.ivf_build_and_search(spark, emb, path, n_queries=3).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, first))

    # and a marker-less but centroids-complete dir (the exact ADVICE
    # case) also rebuilds rather than serving the partial index
    os.remove(f"{path}/_BUILT")
    shutil.rmtree(f"{path}/lists")
    rebuilt = ivf.ivf_build_and_search(spark, emb, path, n_queries=3).collect()
    assert sorted(map(tuple, rebuilt)) == sorted(map(tuple, first))

def _kernel_vs_flat(emb, centroids):
    """(flat, kernel): vec_id -> (ds, cid) from the k-flat-aggregate
    assign_with_dists and from the shared numpy kernel ivf._nearest
    run on the same Spark-side quantized vectors."""
    import numpy as np

    from cvocr_spark.operators import ivf

    flat = {
        r["vec_id"]: (list(r["ds"]), r["cid"])
        for r in ivf.assign_with_dists(emb, centroids).collect()
    }
    rows = ivf._quantized(emb).collect()
    v = np.array([r["q"] for r in rows], dtype=np.int64)[:, None, :]
    ds, idx = ivf._nearest(v, np.array(centroids, dtype=np.int64)[None])
    kernel = {
        r["vec_id"]: (ds[i, 0].tolist(), int(idx[i, 0])) for i, r in enumerate(rows)
    }
    return flat, kernel


def test_ivf_numpy_assignment_equals_flat_aggregates(spark):
    """The numpy nearest-centroid kernel (training's and encode_numpy's
    assignment, with no codegen width ceiling) must be ROW-IDENTICAL to
    the k-flat-aggregate form: same Spark-side quantizer, same exact
    integers, same first-min tie-break."""
    from cvocr_spark.operators import ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = ivf._train(emb, ivf.IVF_K, ivf.IVF_ITERS)
    flat, fast = _kernel_vs_flat(emb, centroids)
    assert flat == fast


def test_ivf_kernel_tie_break_on_duplicated_centroids(spark):
    """Every centroid twice (2j and 2j+1 equal): each vector's two
    nearest distances tie exactly, and both the flat form and the
    kernel must pick the smaller id — all cids even."""
    from cvocr_spark.operators import ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = ivf._train(emb, 4, 1)
    dup = [c for c in centroids for _ in range(2)]
    flat, fast = _kernel_vs_flat(emb, dup)
    assert flat == fast and flat
    assert all(cid % 2 == 0 for _ds, cid in flat.values())


@pytest.mark.parametrize("kind", ["ivf", "ivfpq"])
def test_index_built_over_other_frame_or_params_rebuilds(spark, tmp_path, kind):
    """build-and-search at a path already holding an index built over
    ANOTHER frame (or other k/iters, or rewritten input files) must
    rebuild, not serve the stale index: the result equals a fresh run
    over the new input."""
    from cvocr_spark.operators import ivf, pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    frame_a = emb.filter("vec_id < 300")
    frame_b = emb.filter("vec_id < 5 OR vec_id >= 300")

    def run(frame, path, k=ivf.IVF_K):
        if kind == "ivf":
            out = ivf.ivf_build_and_search(spark, frame, path, k=k, n_queries=5)
        else:
            out = pq.ivfpq_build_and_search(spark, frame, path, k=k, n_queries=5)
        return sorted(map(tuple, out.collect()))

    path = str(tmp_path / "idx")
    stale = run(frame_a, path)
    fresh_b = run(frame_b, str(tmp_path / "fresh_b"))
    assert fresh_b != stale
    assert run(frame_b, path) == fresh_b
    fresh_k = run(frame_b, str(tmp_path / "fresh_k4"), k=4)
    assert run(frame_b, path, k=4) == fresh_k
    # a bare file scan is keyed on its files: rewriting them rebuilds
    src, fpath = str(tmp_path / "src"), str(tmp_path / "file_idx")
    frame_a.write.parquet(src)
    assert run(spark.read.parquet(src), fpath) == stale
    frame_b.write.mode("overwrite").parquet(src)
    assert run(spark.read.parquet(src), fpath) == fresh_b
