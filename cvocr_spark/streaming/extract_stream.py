"""Structured Streaming wrapper of the extraction kernel.

The reference's only 'streaming' is a blocking request/response Tornado
server (/root/reference/upload.py:34-76 — SURVEY §2a S6); the graft's
continuous-ingest analogue is a file-source stream over the pages
table: new parquet files landing in the input directory (e.g. a crawl
dropping WARC-derived batches) flow through the SAME mapInArrow kernel
— mapInArrow composes with streaming DataFrames unchanged — into an
append-only extracted sink with checkpointed exactly-once semantics.

At scale this is the incremental path beside the batch backfill
(plans/job.py): same kernel, same output schema, Spark's checkpoint
dir playing the role the lineage manifest plays for batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..kernel import DEFAULT_CONFIG, KernelConfig
from ..plans.job import EXTRACTED_DDL, extraction_kernel_arrow

PAGES_DDL = "url string, warc_ts timestamp, html binary, text string, lang string"


def extract_pages_stream(
    spark: SparkSession,
    input_dir: str,
    cfg: KernelConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """Streaming pages-dir -> streaming extracted DataFrame."""
    pages = (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    slim = pages.select("url", "warc_ts", "html").filter(
        "html IS NOT NULL AND length(html) > 0"
    )
    return slim.mapInArrow(extraction_kernel_arrow(cfg), schema=EXTRACTED_DDL)


def run_stream_with_lineage(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    manifest_dir: str | None = None,
    cfg: KernelConfig = DEFAULT_CONFIG,
    n_buckets: int = 64,
    max_files_per_trigger: int = 2,
):
    """Streaming extraction with the SAME lineage story as the batch
    path (tableio.py manifests): every microbatch writes output rows
    carrying (bucket, batch_id) and appends one manifest row per bucket
    touched — so a killed stream resumes from the checkpoint without
    reprocessing, downstream audits read one manifest whether rows
    arrived via backfill or stream, and a REPLAYED microbatch (failure
    after the sink write but before the checkpoint commit — the gap the
    built-in parquet sink closes with _spark_metadata, which foreachBatch
    loses) is detected by its batch_id in the manifest and skipped:
    the manifest anti-join IS the idempotence, exactly as in the batch
    run_extraction.  Returns the StreamingQuery."""
    manifest_dir = manifest_dir or output_dir.rstrip("/") + "_manifest"
    ext = extract_pages_stream(spark, input_dir, cfg, max_files_per_trigger)
    write_batch = lineage_batch_writer(spark, output_dir, manifest_dir, n_buckets)
    return (
        ext.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def lineage_batch_writer(
    spark: SparkSession, output_dir: str, manifest_dir: str, n_buckets: int = 64
):
    """The idempotent microbatch writer behind run_stream_with_lineage,
    exposed so the replay path is unit-testable: a second call with an
    already-committed batch_id is a no-op.

    Two scale/correctness properties (ADVICE r3, VERDICT r3 #6):

      * The output is PARTITIONED BY batch_id and written with dynamic
        partition overwrite, so a microbatch replayed after a crash
        INSIDE the commit window (output landed, manifest row didn't)
        rewrites its own batch_id partition instead of appending
        duplicates — the sink itself is idempotent per batch_id, not
        just manifest-guarded.
      * The manifest row derives from the in-memory microbatch frame
        (persisted across write + count so the kernel pipeline runs
        once), NEVER from re-reading the output directory — the old
        full-output rescan cost O(total rows ever written) listing+scan
        per batch, quadratic over an always-on stream's life.  The
        committed-id set is likewise read once per writer (one restart)
        and maintained in memory, not re-collected per batch.
    """
    from pyspark.sql import functions as F

    from ..sources.tableio import ParquetTableIO, _with_bucket

    io = ParquetTableIO(spark)
    committed: set[int] | None = None  # lazy: read the manifest ONCE

    def write_batch(df: DataFrame, batch_id: int) -> None:
        import time as _time

        nonlocal committed
        if committed is None:
            committed = (
                {
                    r["batch_id"]
                    for r in io.read(manifest_dir)
                    .select("batch_id")
                    .distinct()
                    .collect()
                }
                if io.exists(manifest_dir)
                else set()
            )
        if batch_id in committed:
            return  # replayed microbatch: already fully committed
        t0 = _time.perf_counter()
        # the SAME bucket derivation as the batch manifest (tableio), so
        # batch and stream rows audit under one lineage key space
        out = (
            _with_bucket(df, n_buckets)
            .withColumn("batch_id", F.lit(batch_id))
            .persist()
        )
        try:
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("batch_id")
                .parquet(output_dir)
            )
            counts = out.groupBy("bucket").agg(F.count("*").alias("n_docs")).collect()
            wall_us = int((_time.perf_counter() - t0) * 1e6)
            if counts:
                mani = spark.createDataFrame(
                    [(r["bucket"], batch_id, r["n_docs"], wall_us) for r in counts],
                    "bucket int, batch_id bigint, n_docs bigint, wall_us bigint",
                )
                mani.write.mode("append").parquet(manifest_dir)
                committed.add(batch_id)
        finally:
            out.unpersist()

    return write_batch


def stats_batch_writer(spark: SparkSession, stats_dir: str):
    """Per-microbatch MERGEABLE statistics — the streaming face of the
    sketch-partials contract (histsketch.py): each batch appends its
    own log2-histogram partial of extracted-text length (grp = flags,
    the kernel's routing label), partitioned by batch_id with dynamic
    overwrite for the same replay idempotence as the lineage sink.
    ``read_merged_stats`` folds partials with the bucket-wise SUM that
    defines the sketch — the merged view over any prefix of batches
    equals the batch-computed histogram over the same rows (asserted in
    tests/test_streaming.py), so a dashboard reads O(batches x buckets)
    rows, never the output table."""
    from pyspark.sql import functions as F

    from ..operators.histsketch import log2_histogram

    def write_stats(df: DataFrame, batch_id: int) -> None:
        hist = log2_histogram(
            df.select(F.col("flags").alias("grp_src"), F.length("text").alias("v")),
            "grp_src",
            "v",
        ).withColumn("batch_id", F.lit(batch_id))
        (
            hist.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(stats_dir)
        )

    return write_stats


def read_merged_stats(spark: SparkSession, stats_dir: str) -> DataFrame:
    """(grp, bucket, n) — the merged histogram over all batches."""
    from pyspark.sql import functions as F

    return (
        spark.read.parquet(stats_dir)
        .groupBy("grp", "bucket")
        .agg(F.sum("n").alias("n"))
    )


def run_stream_with_stats(
    spark: SparkSession,
    input_dir: str,
    stats_dir: str,
    checkpoint_dir: str,
    cfg: KernelConfig = DEFAULT_CONFIG,
    max_files_per_trigger: int = 2,
):
    """Continuous extraction feeding the mergeable-stats sink only —
    the always-on corpus-health monitor shape.  Returns the query."""
    ext = extract_pages_stream(spark, input_dir, cfg, max_files_per_trigger)
    return (
        ext.writeStream.foreachBatch(stats_batch_writer(spark, stats_dir))
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
