"""Dedup-family semantic tests (VERDICT round-1 items 1, 2, 3, 5):
exact dedup is actually exact, clusters collapse transitively, the
Jaccard verifier never token-self-joins, and the hot-bucket guard
bounds degenerate LSH buckets."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pytest  # noqa: E402
from hypothesis import example, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cvocr_spark import durable  # noqa: E402
from cvocr_spark.operators import dedup  # noqa: E402


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_shared_prefix_does_not_merge(spark):
    """Two docs sharing a 60-char prefix but diverging later are NOT
    duplicates (the round-1 prefix=40 defect)."""
    prefix = "w " * 30  # 60 chars
    df = _docs(
        spark,
        [
            (1, prefix + "alpha ending one"),
            (2, prefix + "completely different ending two"),
            (3, prefix + "alpha ending one"),  # true exact copy of 1
        ],
    )
    out = {r["keeper"]: r["n_copies"] for r in dedup.exact_dedup(df).collect()}
    assert out == {1: 2, 2: 1}


def test_dedup_clusters_chain_collapses_to_one_keeper(spark):
    """Injected chain A~B, B~C (no direct A~C pair) must land in ONE
    cluster with keeper = min doc_id — transitive resolution, the thing
    a bare pair list cannot do."""
    docs = _docs(spark, [(i, f"doc {i}") for i in (1, 2, 3, 9)])
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a bigint, b bigint")
    rows = {r["doc_id"]: r for r in dedup.dedup_clusters(docs, pairs).collect()}
    assert {d: rows[d]["cluster_id"] for d in (1, 2, 3, 9)} == {1: 1, 2: 1, 3: 1, 9: 9}
    assert [d for d in rows if rows[d]["is_keeper"]] == [1, 9] or sorted(
        d for d in rows if rows[d]["is_keeper"]
    ) == [1, 9]


def test_connected_components_long_chain_and_two_components(spark):
    # chain 1-2-3-4-5 (diameter 4: exercises multiple propagation
    # rounds) plus a separate pair 10-11
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "a bigint, b bigint"
    )
    labels = {
        r["node"]: r["label"] for r in dedup.connected_components(pairs).collect()
    }
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}


def test_connected_components_pointer_doubling_round_bound(spark):
    """A depth-32 mirror chain (0-1-2-...-32) must converge in
    O(log depth) rounds, not O(depth): pointer doubling's 'done'
    criterion (VERDICT r2 item 3).  Plain propagation would need 32
    rounds = 32 full-edge shuffles at crawl scale."""
    import math

    depth = 32
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(depth)], "a bigint, b bigint"
    )
    labels_df, rounds = dedup._connected_components_rounds(pairs)
    labels = {r["node"]: r["label"] for r in labels_df.collect()}
    assert labels == {i: 0 for i in range(depth + 1)}
    # log-bound + 1 for the shortcut/propagate interleave + 1 for the
    # final no-change confirmation round (measured: 7 for depth 32;
    # plain propagation needs depth + 1 = 33)
    bound = math.ceil(math.log2(depth)) + 2
    assert rounds <= bound, f"{rounds} rounds for depth {depth} (bound {bound})"


# checkpoint_dir given as a plain path and as a file:// URI: resume
# state is listed through the Hadoop FS API, so both must resume (a
# local-only listing found no frames under the URI form)
_CKPT_FORMS = pytest.mark.parametrize("as_uri", [False, True], ids=["path", "uri"])


@_CKPT_FORMS
def test_connected_components_stats_clamp_writes_resume_points(spark, tmp_path, as_uri):
    """An explicit checkpoint_dir keeps the every-4th-round parquet
    clamp files in place (durable resume points for the iteration;
    they also reset Catalyst's inherited size estimates, whose digit
    count otherwise doubles per round — the driver-side BigInteger
    blow-up measured in NOTES.md round 3)."""
    import os

    depth = 32
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(depth)], "a bigint, b bigint"
    )
    local = tmp_path / "cc_resume"
    ckpt = local.as_uri() if as_uri else str(local)
    labels_df, rounds = dedup._connected_components_rounds(
        pairs, checkpoint_dir=ckpt
    )
    labels = {r["node"]: r["label"] for r in labels_df.collect()}
    assert labels == {i: 0 for i in range(depth + 1)}
    assert rounds >= dedup._STATS_CLAMP_EVERY
    clamp_rounds = [d for d in os.listdir(local) if d.startswith("round_")]
    assert f"round_{dedup._STATS_CLAMP_EVERY}" in clamp_rounds

    # resume: a second run over the same pairs + dir must restore the
    # newest clamp frame instead of redoing the restored rounds — the
    # total round count starts past the clamp round, and the labels
    # are identical to the from-scratch run
    labels_df2, rounds2 = dedup._connected_components_rounds(
        pairs, checkpoint_dir=ckpt
    )
    labels2 = {r["node"]: r["label"] for r in labels_df2.collect()}
    assert labels2 == labels
    assert dedup._STATS_CLAMP_EVERY < rounds2 <= rounds + 1

    # torn-write guard: a kill mid-clamp leaves a round dir WITHOUT the
    # _SUCCESS marker — resume must ignore it (else it would restore a
    # partial frame) and fall back to the newest COMPLETE round
    torn = tmp_path / "cc_resume" / "round_8"
    torn.mkdir()
    (torn / "part-00000.parquet").write_bytes(b"torn")
    assert durable.generations(spark, ckpt, "round_") == [dedup._STATS_CLAMP_EVERY]
    labels_df3, _ = dedup._connected_components_rounds(pairs, checkpoint_dir=ckpt)
    assert {r["node"]: r["label"] for r in labels_df3.collect()} == labels


def test_connected_components_huge_ids_no_ansi_overflow(spark):
    """Node ids near 2^62 (hash-derived 60-bit ids at crawl scale) must
    converge without the convergence probe overflowing: summing one
    int64 label per node exceeds int64 with as few as 3 such nodes, and
    ANSI mode (Spark 4 default) THROWS on overflow — the probe sums as
    decimal(38,0) instead (VERDICT r3 'What's wrong' #4)."""
    base = 1 << 62
    # two components: a chain of three huge ids + a separate huge pair
    pairs = spark.createDataFrame(
        [(base + 1, base + 2), (base + 2, base + 3), (base + 7, base + 8)],
        "a bigint, b bigint",
    )
    labels = {
        r["node"]: r["label"] for r in dedup.connected_components(pairs).collect()
    }
    assert labels == {
        base + 1: base + 1,
        base + 2: base + 1,
        base + 3: base + 1,
        base + 7: base + 7,
        base + 8: base + 7,
    }


@_CKPT_FORMS
def test_connected_components_resume_ignores_frames_of_other_edge_set(spark, tmp_path, as_uri):
    """Round frames in checkpoint_dir written for a DIFFERENT pair list
    must not be restored (ROADMAP open item 4): a 64-edge chain leaves
    round_4 behind, and a later run over the pairs (i, i+1000) with the
    same dir used to return all 128 labels wrong — the chain's label 0
    survived min propagation.  The stale frames are cleared instead."""
    local = tmp_path / "cc_shared"
    ckpt = local.as_uri() if as_uri else str(local)
    chain = spark.createDataFrame([(i, i + 1) for i in range(64)], "a bigint, b bigint")
    dedup._connected_components_rounds(chain, checkpoint_dir=ckpt)
    assert dedup._STATS_CLAMP_EVERY in durable.generations(spark, ckpt, "round_")
    # the frame records its own edge set, so a rerun over `chain` resumes
    assert durable.read_fingerprint(
        spark, f"{ckpt}/round_{dedup._STATS_CLAMP_EVERY}"
    ) == dedup._directed_edges(chain)[2]

    other = spark.createDataFrame(
        [(i, i + 1000) for i in range(1, 65)], "a bigint, b bigint"
    )
    labels_df, _ = dedup._connected_components_rounds(other, checkpoint_dir=ckpt)
    labels = {r["node"]: r["label"] for r in labels_df.collect()}
    want = {n: i for i in range(1, 65) for n in (i, i + 1000)}
    assert labels == want
    assert durable.generations(spark, ckpt, "round_") == []


_HUGE = 1 << 62


def _cc_rows(df) -> list[tuple[int, int]]:
    return sorted((r["node"], r["label"]) for r in df.collect())


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "a bigint, b bigint")


@st.composite
def _pair_lists(draw):
    """Small pair lists over ids near 0 or near 2^62: repeats, reversed
    pairs and a == b pairs arise from the narrow id range."""
    base = draw(st.sampled_from([0, _HUGE - 16]))
    ident = st.integers(0, 30).map(lambda i: base + i)
    return draw(st.lists(st.tuples(ident, ident), min_size=1, max_size=40))


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(st.integers(-5, 60), st.integers(-5, 60)), min_size=1, max_size=80))
def test_union_find_labels_matches_sequential_union_find(edges):
    """The vectorized hook/pointer-jump passes against the plain
    one-edge-at-a-time union-find loop (no Spark)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    nodes, labels = dedup._union_find_labels(
        np.array([a for a, _ in edges], dtype=np.int64),
        np.array([b for _, b in edges], dtype=np.int64),
    )
    assert dict(zip(nodes.tolist(), labels.tolist())) == {x: find(x) for x in parent}


@settings(max_examples=6, deadline=None)
@given(_pair_lists(), st.integers(0, 40))
@example([(i, i + 1) for i in range(33)], 16)  # chain: several rounds
@example([(_HUGE, _HUGE + i) for i in range(1, 25)], 12)  # star at 2^62
@example([(1, 2), (2, 1), (1, 2), (3, 3), (4, 3), (3, 4), (5, 5)], 3)
@example([(1, None), (None, None), (None, 2), (2, 3)], 2)  # NULL ends dropped
def test_one_task_solve_equals_rounds(spark, pairs, cut):
    """The one-task union-find (``connected_components`` on a small
    graph) returns exactly the rows of the distributed rounds engine,
    and ``connected_components_incremental`` fed labels from EITHER
    path reaches the from-scratch answer."""
    df = _pairs_df(spark, pairs)
    one_task = dedup.connected_components(df)
    assert "MapInArrow" in one_task._jdf.queryExecution().executedPlan().toString()
    want = _cc_rows(dedup._connected_components_rounds(df)[0])
    assert _cc_rows(one_task) == want

    old, new = _pairs_df(spark, pairs[:cut]), _pairs_df(spark, pairs[cut:])
    for prev in (dedup.connected_components(old), dedup._connected_components_rounds(old)[0]):
        assert _cc_rows(dedup.connected_components_incremental(prev, new)) == want


def test_dedup_clusters_small_graph_job_count(spark):
    """A small pair list resolves with a constant handful of Spark
    jobs — the edge count/fingerprint aggregate, not one action per
    propagation round (the rounds engine launched 59 jobs for this
    depth-64 chain).  Counted via statusTracker in a job group."""
    sc = spark.sparkContext
    docs = _docs(spark, [(i, "x") for i in range(100)])
    pairs = _pairs_df(spark, [(i, i + 1) for i in range(64)])
    group = "cc-small-graph-job-count"
    sc.setJobGroup(group, "dedup_clusters over a small pair list")
    try:
        clusters = dedup.dedup_clusters(docs, pairs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert n_jobs <= 5, n_jobs
    rows = {r["doc_id"]: r["cluster_id"] for r in clusters.collect()}
    assert rows == {i: 0 if i <= 64 else i for i in range(100)}


def test_dedup_incremental_rerun_yields_zero_new_keepers(spark):
    """Re-probing a batch whose texts already live in the index must
    classify EVERY doc as dup_exact with the existing keeper — the
    idempotence a growing crawl relies on (VERDICT r2 item 4)."""
    texts = [(i, f"some document body number {i} with words") for i in range(1, 9)]
    existing = _docs(spark, texts)
    rerun = _docs(spark, [(i + 1000, t) for i, t in texts])
    rows = dedup.dedup_incremental(rerun, existing).collect()
    assert len(rows) == len(texts)
    assert all(r["status"] == "dup_exact" for r in rows), rows
    assert all(r["matched_keeper"] == r["doc_id"] - 1000 for r in rows), rows


def test_dedup_incremental_three_statuses(spark):
    """One fresh doc, one exact copy, one near copy (extra token) ->
    the three decision branches, with the right keepers."""
    existing = _docs(
        spark,
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
    )
    new = _docs(
        spark,
        [
            (10, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
            (11, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
            (12, "completely different content about other things entirely here"),
        ],
    )
    rows = {r["doc_id"]: r for r in dedup.dedup_incremental(new, existing).collect()}
    assert rows[10]["status"] == "dup_exact" and rows[10]["matched_keeper"] == 1
    assert rows[11]["status"] == "dup_near" and rows[11]["matched_keeper"] == 1
    assert rows[12]["status"] == "new_keeper" and rows[12]["matched_keeper"] is None


def test_dedup_incremental_indexed_matches_inplan(spark, tmp_path):
    """The materialized-index probe (build_dedup_index ->
    dedup_incremental_indexed) must reach the same (status,
    matched_keeper) decision as the in-plan variant on the contract
    fixture, and its plan must read the stored band table instead of
    re-deriving the corpus-side minhash pipeline (the train/serve
    split, cf. ivf_ann_search)."""
    SF = os.environ.get("CVOCR_TEST_SF_DIR", "/root/testdata/sf0.01")
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    existing, new_batch = dedup.incremental_split(docs)
    idx = str(tmp_path / "dedup_index")
    dedup.build_dedup_index(existing, idx)

    got = sorted(
        map(tuple, dedup.dedup_incremental_indexed(new_batch, existing, idx).collect())
    )
    want = sorted(map(tuple, dedup.dedup_incremental(new_batch, existing).collect()))
    assert got == want and len(got) > 0

    # provenance: decisions must come from the STORED index, not an
    # in-plan recompute of the corpus side — after emptying the index
    # artifacts (existing untouched), every probe returns new_keeper
    empty_idx = str(tmp_path / "empty_index")
    dedup.build_dedup_index(existing.limit(0), empty_idx)
    rows = dedup.dedup_incremental_indexed(new_batch, existing, empty_idx).collect()
    assert len(rows) == len(got)
    assert all(r["status"] == "new_keeper" for r in rows)


def test_dedup_index_in_older_layout_served_then_rebuilt_clean(spark, tmp_path):
    """An index in the older layout — hot-bucket-GUARDED band rows
    under ``bands/band_id=<k>/``, committed with the same fingerprint —
    still reads as built for its corpus and serves rows equal to the
    in-plan forms (the probes guard again, which changes nothing).  A
    rebuild at that path leaves no ``band_id=`` dir behind."""
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    existing = _docs(spark, [(i, f"{base} w{i % 7} x{i % 3}") for i in range(40)])
    new_batch = _docs(
        spark,
        [
            (1000, f"{base} w1 x1"),  # exact copy
            (1001, f"{base} w2 x2 z"),  # near copy
            (1002, "metric spaces admit open covers whose nerve complexes capture homotopy"),
        ],
    )
    idx = str(tmp_path / "idx")
    dedup._exact_hash_table(existing).write.parquet(f"{idx}/exact_hash")
    dedup._safe_banded(dedup._banded(existing), dedup.MAX_BUCKET).write.partitionBy(
        "band_id"
    ).parquet(f"{idx}/bands")
    durable.commit(spark, idx, durable.fingerprint(existing, ["doc_id", "text"]))
    assert durable.built(spark, idx, dedup.index_fingerprint(existing))

    def rows(df):
        return sorted(map(tuple, df.collect()))

    want = (
        rows(dedup.dedup_incremental(new_batch, existing)),
        rows(dedup.minhash_verified_dups(existing)),
    )
    assert {r[1] for r in want[0]} == {"dup_exact", "dup_near", "new_keeper"}
    assert len(want[1]) > 0

    def served():
        return (
            rows(dedup.dedup_incremental_indexed(new_batch, existing, idx)),
            rows(dedup.minhash_verified_dups_indexed(existing, idx)),
        )

    assert served() == want
    dedup.build_dedup_index(existing, idx)
    assert not [d for d in os.listdir(f"{idx}/bands") if d.startswith("band_id=")]
    assert served() == want


def test_dedup_incremental_pairs_evaluates_new_docs_once(spark, tmp_path):
    """VERDICT r6 #7: without band frames, ``new_docs`` feeds both the
    banding and the verify corpus, yet must be evaluated ONCE.  A
    Python UDF over a parquet-backed ``new_docs`` counts its row
    evaluations through an accumulator."""
    from pyspark.sql.functions import udf

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    existing = _docs(spark, [(i, f"{base} w{i}") for i in range(8)])
    path = str(tmp_path / "new")
    _docs(spark, [(100 + i, f"{base} w{i} extra") for i in range(6)]).write.parquet(path)
    seen = spark.sparkContext.accumulator(0)

    def counted(text):
        seen.add(1)
        return text

    new_docs = spark.read.parquet(path).withColumn("text", udf(counted, "string")("text"))
    assert dedup.dedup_incremental_pairs(new_docs, existing).count() > 0
    assert seen.value == 6


def test_verify_pairs_jaccard_scores_candidates_only(spark):
    docs = _docs(
        spark,
        [
            (1, "the quick brown fox jumps"),
            (2, "the quick brown fox leaps"),   # 4/6 tokens shared with 1
            (3, "entirely unrelated words here"),
        ],
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "a bigint, b bigint")
    out = dedup.verify_pairs_jaccard(pairs, docs, threshold=0.5)
    rows = {(r["a"], r["b"]): r["jaccard"] for r in out.collect()}
    # (1,2): inter=4, union=6 -> 0.6667 kept; (1,3): 0 dropped
    assert rows == {(1, 2): 0.6667}


def test_verified_dups_plan_has_no_token_selfjoin(spark):
    """The verifier must be linear in candidates: no explode of tokens
    anywhere in the physical plan (VERDICT item 3 'done' criterion)."""
    docs = _docs(spark, [(i, f"text body number {i}") for i in range(20)])
    pairs = spark.createDataFrame([(0, 1)], "a bigint, b bigint")
    plan = dedup.verify_pairs_jaccard(pairs, docs)._jdf.queryExecution().executedPlan().toString()
    # explode (physical: Generate) only appears in LSH banding, never in
    # the verify stage; here there is no LSH so the plan must have none
    assert "Generate" not in plan, plan


def test_hot_bucket_guard_bounds_degenerate_corpus(spark):
    """10k identical docs = one degenerate bucket per band.  With the
    guard the pair join is empty and completes in bounded time; the
    skipped buckets are surfaced with their true sizes (VERDICT item 5)."""
    n = 10_000
    df = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("identical boilerplate text repeated on every single page").alias("text"),
    )
    t0 = time.perf_counter()
    pairs = dedup.minhash_lsh_pairs(df, max_bucket=100)
    assert pairs.count() == 0
    skipped = dedup.lsh_skipped_buckets(df, max_bucket=100).collect()
    wall = time.perf_counter() - t0
    assert len(skipped) == dedup.BANDS  # one hot bucket per band
    assert all(r["bucket_n"] == n for r in skipped)
    # without the guard this would be a 10k^2/2 = 50M-row self-join per
    # band; the guarded run is seconds
    assert wall < 60, f"guarded run took {wall:.1f}s"


def test_hot_bucket_guard_keeps_small_buckets(spark):
    """Normal-size buckets still pair: two exact copies survive the
    guard while the degenerate mass is dropped."""
    filler = [(i, f"unique filler document number {i} with words {i * 7}") for i in range(50)]
    dups = [(1000, "a genuine duplicated article body"), (1001, "a genuine duplicated article body")]
    df = _docs(spark, filler + dups)
    got = {(r["a"], r["b"]) for r in dedup.minhash_lsh_pairs(df, max_bucket=10).collect()}
    assert (1000, 1001) in got


def test_repetition_stats_detects_repetitive_doc(spark):
    """A doc that repeats one phrase must score near-1 dup-trigram
    fraction and high top-word fraction; varied prose must not."""
    from cvocr_spark.operators import textstats

    docs = _docs(
        spark,
        [
            (1, "buy now " * 30 + "buy"),  # 61 tokens, 2 types
            (2, "each word here is used exactly once in this varied sentence"),
        ],
    )
    rows = {r["doc_id"]: r for r in textstats.repetition_stats(docs).collect()}
    assert rows[1]["dup_trigram_fraction"] > 0.9
    assert rows[1]["top_word_fraction"] > 0.45
    assert rows[2]["dup_trigram_fraction"] == 0.0
    assert rows[2]["distinct_word_ratio"] == 1.0


def test_corpus_filter_names_drop_reasons(spark):
    from cvocr_spark.operators import textstats

    docs = _docs(
        spark,
        [
            (1, "spam spam " * 40 + "spam"),                       # repetitive + top_heavy
            (2, "tiny doc"),                                       # short
            (3, "the quick brown fox jumps over a lazy dog and keeps going "
                "with plenty of varied words in a long enough sentence to "
                "pass every quality gate easily today without any repeats"),
        ],
    )
    rows = {r["doc_id"]: r for r in textstats.corpus_filter(docs).collect()}
    assert not rows[1]["keep"] and "repetitive" in rows[1]["drop_reasons"]
    assert not rows[2]["keep"] and "short" in rows[2]["drop_reasons"]
    assert rows[3]["keep"] and rows[3]["drop_reasons"] == ""


def test_connected_components_incremental_equals_scratch(spark):
    """Folding a new batch of pairs into an existing clustering via the
    label-edge star contraction must reach the SAME fixpoint as a
    from-scratch run over all pairs — including merges ACROSS old
    components, chains through new nodes, and untouched singletons."""
    old_pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], "a bigint, b bigint"
    )
    prev = dedup.connected_components(old_pairs)
    # keep singleton 50 in the label frame (a doc known to the corpus
    # but in no pair — connected_components only tracks edge nodes, so
    # add it the way dedup_clusters would)
    prev = prev.unionByName(
        spark.createDataFrame([(50, 50)], "node bigint, label bigint")
    )

    # new batch: merges components {1,2,3} and {10,11} through a NEW
    # node 99, plus a brand-new pair
    new_pairs = spark.createDataFrame(
        [(3, 99), (99, 11), (30, 31)], "a bigint, b bigint"
    )
    inc = {
        r["node"]: r["label"]
        for r in dedup.connected_components_incremental(prev, new_pairs).collect()
    }
    scratch = {
        r["node"]: r["label"]
        for r in dedup.connected_components(
            old_pairs.unionByName(new_pairs)
        ).collect()
    }
    assert {k: v for k, v in inc.items() if k != 50} == scratch
    assert inc[50] == 50  # untouched singleton survives
    assert inc[1] == inc[11] == inc[99] == 1  # cross-component merge
    assert inc[20] == 20 and inc[21] == 20  # untouched component intact


def test_incremental_pairs_then_incremental_cc_equals_scratch(spark):
    """The COMPOSED growing-crawl dedup (VERDICT r4 next #6): batches
    arrive one at a time; each contributes its batch-local verified
    pairs plus ALL cross-batch pairs (dedup_incremental_pairs — the
    pair-level form, not the min-keeper collapse), folded by
    connected_components_incremental.  After the last batch the
    maintained labels must equal a from-scratch CC over every pair
    ever discovered — including a family whose members arrive in
    DIFFERENT batches and only connect through a later arrival."""
    base_a = "the quick brown fox jumps over the lazy dog near the river bank today"
    base_b = ("metric spaces admit open covers whose nerve complexes capture "
              "homotopy type under mild convexity assumptions everywhere")
    mka = lambda i, extra: (i, f"{base_a} {extra}")  # noqa: E731
    mkb = lambda i, extra: (i, f"{base_b} {extra}")  # noqa: E731
    batches = [
        # batch 0: family A v0+v1, a singleton
        [mka(1, "alpha one"), mka(2, "alpha two"), (50, "totally unrelated "
            "document about differential geometry and fiber bundles only")],
        # batch 1: family A v2 (connects to batch 0), family B v0
        [mka(3, "alpha three"), mkb(10, "beta one")],
        # batch 2: exact copy of doc 1 (cross-batch exact), family B v1
        [(4, f"{base_a} alpha one"), mkb(11, "beta two")],
    ]
    frames = [
        spark.createDataFrame(rows, "doc_id bigint, text string")
        for rows in batches
    ]
    threshold = 0.8
    labels = None
    existing = None
    all_pairs = None
    for bdf in frames:
        intra = dedup.minhash_verified_dups(bdf, threshold=threshold).select("a", "b")
        if existing is None:
            new_pairs = intra
            existing = bdf
        else:
            cross = dedup.dedup_incremental_pairs(bdf, existing, threshold=threshold)
            new_pairs = intra.unionByName(cross)
            existing = existing.unionByName(bdf)
        all_pairs = new_pairs if all_pairs is None else all_pairs.unionByName(new_pairs)
        if labels is None:
            labels = dedup.connected_components(new_pairs)
        else:
            labels = dedup.connected_components_incremental(labels, new_pairs)
    inc = {r["node"]: r["label"] for r in labels.collect()}
    scratch = {
        r["node"]: r["label"]
        for r in dedup.connected_components(all_pairs).collect()
    }
    assert inc == scratch
    # the cross-batch family chain actually merged: 1,2 (batch 0),
    # 3 (batch 1), 4 = exact copy of 1 (batch 2) -> one component
    assert inc[1] == inc[2] == inc[3] == inc[4] == 1
    assert inc[10] == inc[11] == 10
    assert 50 not in inc  # singleton never entered a pair


def test_dedup_incremental_pairs_degenerate_inputs(spark):
    """Empty batch, empty existing corpus, NULL texts — the
    cross-batch pair probe must yield empty/sane results, never a
    stage-killer (the cold-start crawl and the all-filtered batch are
    both real states)."""
    schema = "doc_id bigint, text string"
    docs = spark.createDataFrame(
        [(1, "some plain words in a row for the probe to shingle today"),
         (2, None)],
        schema,
    )
    empty = spark.createDataFrame([], schema)
    assert dedup.dedup_incremental_pairs(docs, empty).count() == 0
    assert dedup.dedup_incremental_pairs(empty, docs).count() == 0
    assert dedup.dedup_incremental_pairs(empty, empty).count() == 0
    # NULL-text rows on either side are dropped by the shingle guard,
    # an exact copy across sides still pairs
    both = spark.createDataFrame(
        [(10, "some plain words in a row for the probe to shingle today"),
         (11, None)],
        schema,
    )
    pairs = dedup.dedup_incremental_pairs(both, docs, threshold=0.8).collect()
    assert {(r["a"], r["b"]) for r in pairs} == {(10, 1)}
