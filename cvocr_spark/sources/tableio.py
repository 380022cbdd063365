"""Extraction lineage: partitioned parquet + per-bucket lineage
manifest + exact resume (SURVEY §7 step 6; FIXTURES.md §4 manifest
schema).

The reference's only durable IR is the per-line region.txt sink
(/root/reference/cut.h:872-893) re-read by reco.py:194-216 — a manual
checkpoint between its two process halves.  The graft makes that
checkpoint a first-class lineage table:

  * the corpus is split into ``n_buckets`` deterministic url-hash
    buckets (``pmod(xxhash64(url), n)``) — the lineage/commit unit;
  * output is written partitioned by ``bucket`` through
    ``durable.overwrite_partitions``, so a re-run of an uncommitted
    bucket replaces any partial files instead of duplicating them;
  * after a successful write, ``_commit_manifest`` appends one
    ``MANIFEST_DDL`` row per bucket, aggregated from the committed rows
    — the one manifest writer, shared with the streaming path
    (extract_stream.py), which sets ``batch_id`` where the backfill
    sets ``run_id``; ``input_fingerprint`` is an order-independent
    bit_xor of xxhash64(url) and ``wall_us`` the summed kernel time;
  * the manifest dir's ``_FINGERPRINT`` records the input (url,
    warc_ts, html), ``n_buckets`` and the kernel source digest
    (``_kernel_digest``) before the first data write, and a resume over
    different input or a changed kernel refuses instead of serving
    stale buckets;
  * resume = skip the buckets the manifest holds (``_committed``, the
    one manifest reader) and process only the rest.
"""

from __future__ import annotations

import hashlib
import inspect
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import durable, fastparse, kernel
from ..plans.job import EXTRACTED_DDL, extract_blocks, extract_pages

MANIFEST_DDL = (
    "run_id string, batch_id bigint, bucket int, input_fingerprint bigint, "
    "n_docs bigint, n_bytes bigint, wall_us bigint, status string"
)


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    # deterministic lineage unit: stable across runs and partition counts
    return df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def _kernel_digest() -> str:
    """The kernel's source digest: its rules are constants there, so any
    rule or logic edit changes it, and a resume across the edit refuses."""
    src = "".join(inspect.getsource(m) for m in (kernel, fastparse))
    return hashlib.sha256(src.encode()).hexdigest()[:16]


def _committed(spark: SparkSession, manifest_dir: str, col: str) -> set[int]:
    """The ``col`` values (``bucket`` for the backfill, ``batch_id`` for
    the stream) that the manifest at ``manifest_dir`` holds.  Explicit
    schema: a torn first manifest (only ``_temporary/``) reads as
    nothing committed, and no job infers a schema."""
    if not durable.exists(spark, manifest_dir):
        return set()
    rows = (
        spark.read.schema(MANIFEST_DDL)
        .parquet(manifest_dir)
        .filter(F.col(col).isNotNull())
        .select(col)
        .distinct()
        .collect()
    )
    return {r[col] for r in rows}


def _commit_manifest(
    committed: DataFrame,
    manifest_dir: str,
    run_id: str | None = None,
    batch_id: int | None = None,
) -> int:
    """Append one manifest row per bucket of ``committed`` (rows already
    durably written, carrying ``bucket``); returns the row count.  The
    at most ``n_buckets`` rows are collected once, so the append scans
    nothing again."""
    rows = (
        committed.groupBy("bucket")
        .agg(
            F.expr("bit_xor(xxhash64(url))").alias("input_fingerprint"),
            F.count("*").alias("n_docs"),
            F.sum("n_bytes").alias("n_bytes"),
            F.sum("proc_us").alias("wall_us"),
        )
        .collect()
    )
    if rows:
        committed.sparkSession.createDataFrame(
            [
                (run_id, batch_id, r["bucket"], r["input_fingerprint"], r["n_docs"],
                 r["n_bytes"], r["wall_us"], "committed")
                for r in rows
            ],
            MANIFEST_DDL,
        ).write.mode("append").parquet(manifest_dir)
    return len(rows)


def write_debug_sample(pages: DataFrame, out_dir: str, one_in: int = 1000) -> None:
    """Deterministic 1-in-N per-block debug sink — the graft of the
    reference's intermediate debug artifacts (preprocess.h:532-534
    region dumps, cut.h:203-214 patch images).  Sampling by url hash is
    stable across runs, so the same pages are inspectable before and
    after a kernel change; at 10^12 docs a one-in-a-million sample is
    still a million fully-segmented pages of triage material for the
    cost of a filter pushed down before the Arrow stage.  The sample is
    a function of ``pages``, so a rerun overwrites it."""
    sampled = pages.filter(F.pmod(F.xxhash64("url"), F.lit(one_in)) == 0)
    extract_blocks(sampled).write.mode("overwrite").parquet(out_dir)


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    manifest_dir: str | None = None,
    n_buckets: int = 64,
    run_id: str | None = None,
    max_buckets: int | None = None,
) -> dict:
    """One (possibly resumed) extraction run.  Returns run stats.

    ``max_buckets`` processes only the first k pending buckets — the
    test hook that simulates a run killed partway (SURVEY §5 item 6).
    Raises ``ValueError`` when the manifest holds committed buckets of
    a different input, ``n_buckets`` or kernel source: resuming would
    mix stale buckets into the output, and clearing a user's table is
    not this function's call.  The check is a file listing, no Spark
    job, for a bare ``spark.read`` scan.
    """
    manifest_dir = manifest_dir or out_dir.rstrip("/") + "_manifest"
    run_id = run_id or uuid.uuid4().hex[:12]

    fp = durable.fingerprint(pages, ["url", "warc_ts", "html"], n_buckets, _kernel_digest())
    done = _committed(spark, manifest_dir, "bucket")
    if not done:
        # nothing committed: bucket dirs of a run killed before its
        # manifest append are debris no manifest covers, and the
        # read-back below would commit them with this run's buckets
        durable.delete(spark, out_dir)
        durable.write_fingerprint(spark, manifest_dir, fp)
    elif (recorded := durable.read_fingerprint(spark, manifest_dir)) != fp:
        raise ValueError(
            f"{manifest_dir} commits buckets of input {recorded!r}, not of this "
            f"input {fp!r}: extract into a new out_dir and manifest_dir"
        )
    pending = _with_bucket(pages, n_buckets).filter(~F.col("bucket").isin(list(done)) if done else F.lit(True))

    todo: list[int] | None = None
    if max_buckets is not None:
        all_pending = sorted(
            r["bucket"] for r in pending.select("bucket").distinct().collect()
        )
        todo = all_pending[:max_buckets]
        pending = pending.filter(F.col("bucket").isin(todo))

    extracted = extract_pages(pending)
    extracted = _with_bucket(extracted, n_buckets)  # recompute: deterministic fn of url
    durable.overwrite_partitions(extracted, out_dir, "bucket")

    # manifest derived from the WRITTEN data (not the in-flight plan), so a
    # bucket is committed iff its files are durably on disk; the explicit
    # schema skips a footer-inference job, `bucket` comes from the paths
    written = spark.read.schema(EXTRACTED_DDL).parquet(out_dir)
    if todo is not None:
        written = written.filter(F.col("bucket").isin(todo))
    elif done:
        written = written.filter(~F.col("bucket").isin(list(done)))
    n_new = _commit_manifest(written, manifest_dir, run_id=run_id)
    return {
        "run_id": run_id,
        "buckets_committed_before": len(done),
        "buckets_committed_now": n_new,
        "out_dir": out_dir,
        "manifest_dir": manifest_dir,
    }


def write_bucketed_table(
    df: DataFrame, table: str, key: str = "url", n_buckets: int = 64
) -> None:
    """Spark-native BUCKETED catalog table: bucketBy(key) + sortBy(key)
    + saveAsTable.  Two tables bucketed the same way join on `key`
    WITHOUT any runtime exchange — the scan itself satisfies the join's
    hashpartitioning requirement (pinned in tests/test_bucketed.py).
    This is the steady-state layout of the 100-TB design: the salt is
    paid ONCE at write time, so the recurring doc<->blocks joins,
    per-url aggregations, and incremental-dedup probes all run
    shuffle-free, with the runtime salted repartition (plans/job.py)
    left as the ad-hoc fallback for unbucketed input.  The Iceberg
    production analogue is `PARTITIONED BY (bucket(N, url))`; this is
    the same contract through Spark's own catalog (no Iceberg jars are
    available to test against).

    Robust to the torn-write case: a table whose CATALOG entry is gone
    (session restart with an in-memory catalog, or a crashed write)
    but whose LOCATION still holds files would make saveAsTable throw
    LOCATION_ALREADY_EXISTS forever — drop the entry AND clear the
    stale location first (Hadoop FS API: works on any cluster FS).
    The location comes from the CATALOG when the entry exists (ADVICE
    r4: a name-derived path is wrong for qualified names — db.tbl
    lives at {warehouse}/{db}.db/{tbl} — and deleting a guessed path
    both misses the real stale dir and risks clobbering an unrelated
    one); only when the entry is already gone does the default-db
    derivation apply, with the {db}.db segment handled."""
    spark = df.sparkSession
    loc_uri = None
    try:
        if spark.catalog.tableExists(table):
            # only match 'Location' AFTER the '# Detailed Table
            # Information' separator: a DATA COLUMN literally named
            # 'Location' appears earlier in the DESCRIBE output, and
            # its data_type (e.g. 'string') would be used as the
            # stale-location path and recursively deleted (ADVICE r5)
            in_detail = False
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
                if str(r["col_name"]).startswith("# Detailed Table"):
                    in_detail = True
                    continue
                if in_detail and r["col_name"] == "Location":
                    loc_uri = r["data_type"]
                    break
    except Exception:
        loc_uri = None  # corrupt/uncooperative entry: fall through to derivation
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if loc_uri is None:
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        parts = table.lower().split(".")
        if len(parts) == 2 and parts[0] != "default":
            loc_uri = f"{warehouse}/{parts[0]}.db/{parts[1]}"
        else:
            loc_uri = f"{warehouse}/{parts[-1]}"
    durable.delete(spark, loc_uri)
    (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .saveAsTable(table)
    )
