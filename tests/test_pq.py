"""Product quantization: ADC score identity (== exact integer
reconstruction distance), determinism, self-hit under rerank, recall
recorded beside the other ANN operating points."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvocr_spark.operators import pq  # noqa: E402
from cvocr_spark.operators.similarity import cosine_topk  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def test_adc_equals_reconstruction_distance(spark):
    """The ADC sum of table lookups must equal the exact integer
    squared-L2 reconstruction distance sum_m ||q_m - c[m][code_m]||^2,
    recomputed independently in Python from the codes + codebooks."""
    from pyspark.sql import functions as F

    from cvocr_spark.functions import portable as P

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq.train_codebooks(emb)
    codes = {
        r["vec_id"]: r["codes"] for r in pq.encode(emb, books).limit(2000).collect()
    }
    adc = {
        (r["query_id"], r["neighbor_id"]): r["sim"]
        for r in pq.pq_adc_topk(emb, n_queries=3, k=10, rerank=None).collect()
    }
    q = {
        r["vec_id"]: r["q"]
        for r in emb.filter(F.col("vec_id") < 3)
        .select("vec_id", F.expr(P.quantize_spark("embedding")).alias("q"))
        .collect()
    }
    assert adc
    for (qid, nid), got in adc.items():
        want = 0
        for m in range(pq.PQ_M):
            sub = q[qid][m * pq.PQ_SUBDIM : (m + 1) * pq.PQ_SUBDIM]
            cent = books[m][codes[nid][m]]
            want += sum((a - b) * (a - b) for a, b in zip(sub, cent))
        assert got == want, (qid, nid, got, want)


def test_pq_deterministic_and_self_hit(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = sorted(map(tuple, pq.pq_adc_topk(emb, n_queries=5, k=5).collect()))
    b = sorted(map(tuple, pq.pq_adc_topk(emb, n_queries=5, k=5).collect()))
    assert a == b and a
    by_q = {}
    for qid, nid, _sim, _rn in a:
        by_q.setdefault(qid, set()).add(nid)
    for qid, nids in by_q.items():
        assert qid in nids, f"query {qid} lost itself after ADC+rerank"


def test_pq_recall_recorded(spark):
    """Recall@5 vs the exact baseline, ADC-only and ADC+rerank —
    rerank must not hurt; both recorded in ann_recall.json beside the
    LSH/IVF operating points (the near-uniform-embedding caveat there
    applies doubly to a 16-code product quantizer)."""
    import json

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    nq, k = 20, 5
    exact = {}
    for r in cosine_topk(emb, n_queries=nq, k=k).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[q] & got.get(q, set())) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    r_adc = recall(pq.pq_adc_topk(emb, n_queries=nq, k=k, rerank=None).collect())
    r_rr = recall(pq.pq_adc_topk(emb, n_queries=nq, k=k).collect())
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "goldens", "ann_recall.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    data["recall_pq_adc"] = round(r_adc, 4)
    data["recall_pq_rerank100"] = round(r_rr, 4)
    with open(path, "w") as f:
        json.dump(data, f, indent=1)
    assert r_rr >= r_adc - 1e-9, (r_adc, r_rr)
    assert r_rr >= 0.3, f"PQ+rerank recall collapsed: {r_rr}"


def test_ivfpq_self_hit_and_recall_recorded(spark):
    """The composed IVF-PQ layout: each query finds itself (its own
    list is always probed, its own code is its nearest reconstruction,
    the exact rerank then pins it), and recall lands in
    ann_recall.json beside the single-stage points."""
    import json

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    nq, k = 20, 5
    rows = pq.ivfpq_topk(emb, n_queries=nq, k=k, n_probe=4).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert len(by_q) == nq
    for qid, nids in by_q.items():
        assert qid in nids, f"query {qid} lost itself in IVF-PQ"

    exact = {}
    for r in cosine_topk(emb, n_queries=nq, k=k).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = sum(len(exact[q] & by_q.get(q, set())) for q in exact)
    recall = hits / sum(len(v) for v in exact.values())
    here = os.path.dirname(os.path.abspath(__file__))
    path = os.path.join(here, "goldens", "ann_recall.json")
    data = json.load(open(path)) if os.path.exists(path) else {}
    data["recall_ivfpq_nprobe4_rerank100"] = round(recall, 4)
    with open(path, "w") as f:
        json.dump(data, f, indent=1)
    assert recall >= 0.3, f"IVF-PQ recall collapsed: {recall}"


def test_fused_training_identical_to_per_subspace(spark):
    """The one-job-per-step fused training must produce LIST-IDENTICAL
    codebooks to the M-sequential-jobs reference form (same seeds per
    subspace — the seed rule hashes vec_ids only — same integer Lloyd
    arithmetic)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert pq.train_codebooks_fused(emb) == pq.train_codebooks(emb)


def test_pq_survives_degenerate_vectors(spark):
    """Ragged/NULL/zero embeddings through training, encoding, and both
    search paths — the one-bad-row ANSI stage-killer sweep applied to
    the PQ family (well-formed guard drops them; zero vectors rank via
    NULL sim, last)."""
    from cvocr_spark.operators.ivf import DIM

    rows = [(i, [0.01 * (i + d % 7) for d in range(DIM)]) for i in range(8)]
    rows += [(8, None), (9, [0.1] * 10), (10, [0.0] * DIM)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    books = pq.train_codebooks_fused(emb)
    # 9 well-formed vectors < PQ_K seeds -> effective-K codebooks
    assert len(books) == pq.PQ_M and all(len(b) == 9 for b in books)
    assert books == pq.train_codebooks(emb)  # both forms agree on k_eff
    codes = pq.encode(emb, books).collect()
    assert {r["vec_id"] for r in codes} == set(range(8)) | {10}
    out = pq.pq_adc_topk(emb, n_queries=3, k=3, rerank=5).collect()
    assert {r["query_id"] for r in out} == {0, 1, 2}
    out2 = pq.ivfpq_topk(emb, n_queries=2, k=2, n_probe=2, rerank=5).collect()
    assert {r["query_id"] for r in out2} == {0, 1}


def test_ivfpq_serve_survives_degenerate_and_tiny_corpus(spark, tmp_path):
    """The r5 build/serve path through the one-bad-row sweep: ragged/
    NULL/zero vectors and a corpus smaller than both K's must build and
    serve without a stage-killer (well-formed guard drops the bad rows
    end-to-end; effective-K training kicks in)."""
    from cvocr_spark.operators.ivf import DIM

    rows = [(i, [0.01 * (i + d % 5) for d in range(DIM)]) for i in range(6)]
    rows += [(6, None), (7, [0.5] * 3), (8, [0.0] * DIM)]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    path = str(tmp_path / "tiny_ivfpq")
    out = pq.ivfpq_build_and_search(
        spark, emb, path, n_probe=2, n_queries=2, topk=2
    ).collect()
    assert {r["query_id"] for r in out} == {0, 1}
    # ragged/NULL vectors never appear as neighbors
    assert all(r["neighbor_id"] not in (6, 7) for r in out)
    # numpy encoder handles the same degenerate corpus
    books = pq.train_codebooks_fused(emb)
    enc = {r["vec_id"] for r in pq.encode_numpy(emb, books).collect()}
    assert enc == {0, 1, 2, 3, 4, 5, 8}


def test_encode_numpy_matches_flat(spark):
    """The production-width encoder (one Arrow pass, int64 einsum) must
    produce ROW-IDENTICAL codes to the M-chained flat-aggregate form
    at demo K — same Spark-side quantizer, same exact integers, same
    first-min tie-break (VERDICT r4 next #4)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq.train_codebooks_fused(emb)
    flat = {r["vec_id"]: list(r["codes"]) for r in pq.encode(emb, books).collect()}
    np_ = {
        r["vec_id"]: list(r["codes"])
        for r in pq.encode_numpy(emb, books).collect()
    }
    assert flat == np_ and flat


def test_encode_tie_break_on_duplicated_codebook_rows(spark):
    """Codebook rows 2j+1 := 2j in every subspace: each subvector's two
    nearest codes tie exactly, and both encoders must pick the smaller
    code — all codes even, rows identical."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = [
        [book[j - j % 2] for j in range(len(book))]
        for book in pq.train_codebooks_fused(emb)
    ]
    flat = {r["vec_id"]: list(r["codes"]) for r in pq.encode(emb, books).collect()}
    np_ = {
        r["vec_id"]: list(r["codes"])
        for r in pq.encode_numpy(emb, books).collect()
    }
    assert flat == np_ and flat
    assert all(c % 2 == 0 for codes in flat.values() for c in codes)


def test_fused_training_identical_on_coinciding_seeds(spark):
    """A corpus of 5 distinct vectors repeated under 400 ids: the 16
    seeds coincide, so every Lloyd assignment is an exact tie among
    identical centroids (first minimum wins) and most clusters stay
    empty.  Fused and per-subspace training must still agree."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter("vec_id < 5").select(
        F.col("vec_id").alias("src"), "embedding"
    )
    dup = (
        spark.range(400)
        .join(base, F.col("id") % 5 == F.col("src"))
        .select(F.col("id").alias("vec_id"), "embedding")
    )
    books = pq.train_codebooks_fused(dup)
    assert len(books[0]) == pq.PQ_K
    assert len({tuple(c) for c in books[0]}) <= 5
    assert books == pq.train_codebooks(dup)


def test_ivfpq_serve_matches_selfcontained(spark, tmp_path):
    """Build/serve split (VERDICT r4 next #3): serving from the
    materialized index must be row-identical to the self-contained
    ivfpq_topk; the serve path contains NO training (it takes no
    corpus input); a torn build (marker gone, artifacts partial) is
    rebuilt, never served."""
    import shutil

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = str(tmp_path / "ivfpq_idx")
    want = sorted(
        map(tuple, pq.ivfpq_topk(emb, n_queries=5, k=5, n_probe=4).collect())
    )
    got = sorted(
        map(
            tuple,
            pq.ivfpq_build_and_search(
                spark, emb, path, n_probe=4, n_queries=5, topk=5
            ).collect(),
        )
    )
    assert got == want and got

    # serve-only path: same results straight from the stored artifacts
    served = sorted(
        map(
            tuple,
            pq.ivfpq_search_index(spark, path, n_probe=4, n_queries=5, k=5).collect(),
        )
    )
    assert served == want

    # torn build: books intact, codes/stats/marker gone -> rebuilt
    shutil.rmtree(f"{path}/codes")
    shutil.rmtree(f"{path}/stats")
    os.remove(f"{path}/_BUILT")
    again = sorted(
        map(
            tuple,
            pq.ivfpq_build_and_search(
                spark, emb, path, n_probe=4, n_queries=5, topk=5
            ).collect(),
        )
    )
    assert again == want
