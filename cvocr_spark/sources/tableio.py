"""TableIO seam: partitioned parquet + per-partition lineage manifests +
exact resume (SURVEY §7 step 6; FIXTURES.md §4 manifest schema).

The reference's only durable IR is the per-line region.txt sink
(/root/reference/cut.h:872-893) re-read by reco.py:194-216 — a manual
checkpoint between its two process halves.  The graft makes that
checkpoint a first-class lineage table:

  * the corpus is split into ``n_buckets`` deterministic url-hash
    buckets (``pmod(xxhash64(url), n)``) — the lineage/commit unit;
  * output is written ``partitionBy('bucket')`` with DYNAMIC partition
    overwrite, so a re-run of an uncommitted bucket replaces any partial
    files instead of duplicating them;
  * after a successful write, one manifest row per bucket is appended:
    (run_id, bucket, input_fingerprint, n_docs, n_bytes, wall_us,
    status) — the fingerprint is an order-independent bit_xor of
    xxhash64(url), cheap at any scale (no sort, no collect);
  * resume = anti-join pending buckets against committed manifest rows
    and process only those.

On a real cluster the same seam maps onto Iceberg: ``writeTo(tbl)
.overwritePartitions()`` + a manifest table; the sandbox pyspark has no
Iceberg jars (SURVEY preamble), so the parquet impl is the tested one
and the Iceberg impl is a thin config switch (`fmt='iceberg'`).
"""

from __future__ import annotations

import uuid

from pyspark.errors import AnalysisException, SparkRuntimeException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import durable
from ..kernel import DEFAULT_CONFIG, KernelConfig
from ..plans.job import extract_pages

MANIFEST_DDL = (
    "run_id string, bucket int, input_fingerprint bigint, "
    "n_docs bigint, n_bytes bigint, wall_us bigint, status string"
)


class ParquetTableIO:
    """Thin table abstraction: parquet dirs in the sandbox, Iceberg
    identifiers on a real cluster (same call sites)."""

    def __init__(self, spark: SparkSession, fmt: str = "parquet"):
        self.spark = spark
        self.fmt = fmt

    def read(self, path: str) -> DataFrame:
        if self.fmt == "iceberg":
            return self.spark.read.format("iceberg").load(path)
        return self.spark.read.parquet(path)

    def exists(self, path: str) -> bool:
        """True iff the table is readable AT THE CLUSTER'S storage layer.
        Probed by attempting the read (schema inference) rather than
        driver-local os.path checks, which silently return False for
        S3/HDFS paths and would make resume reprocess every bucket
        (ADVICE r1).  AnalysisException covers both a missing path and
        an empty dir with no inferable schema."""
        if self.fmt == "iceberg":
            return self.spark.catalog.tableExists(path)
        try:
            self.read(path).schema
            return True
        except (AnalysisException, SparkRuntimeException):
            # missing path, empty dir (no inferable schema), or a path
            # that isn't a coherent table (conflicting partition layout):
            # all mean "no committed manifest here"
            return False

    def write_partitioned(self, df: DataFrame, path: str, partition_col: str) -> None:
        if self.fmt == "iceberg":
            df.writeTo(path).overwritePartitions()
            return
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_col)
            .parquet(path)
        )

    def append(self, df: DataFrame, path: str) -> None:
        if self.fmt == "iceberg":
            df.writeTo(path).append()
            return
        df.write.mode("append").parquet(path)


def _with_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    # deterministic lineage unit: stable across runs and partition counts
    return df.withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))


def committed_buckets(io: ParquetTableIO, manifest_dir: str) -> set[int]:
    if not io.exists(manifest_dir):
        return set()
    rows = (
        io.read(manifest_dir)
        .filter(F.col("status") == "committed")
        .select("bucket")
        .distinct()
        .collect()
    )
    return {r["bucket"] for r in rows}


def write_debug_sample(
    pages: DataFrame,
    out_dir: str,
    one_in: int = 1000,
    cfg: KernelConfig = DEFAULT_CONFIG,
    io: ParquetTableIO | None = None,
) -> None:
    """Deterministic 1-in-N per-block debug sink — the graft of the
    reference's intermediate debug artifacts (preprocess.h:532-534
    region dumps, cut.h:203-214 patch images).  Sampling by url hash is
    stable across runs, so the same pages are inspectable before and
    after a kernel change; at 10^12 docs a one-in-a-million sample is
    still a million fully-segmented pages of triage material for the
    cost of a filter pushed down before the Arrow stage."""
    from ..plans.job import extract_blocks

    io = io or ParquetTableIO(pages.sparkSession)
    sampled = pages.filter(F.pmod(F.xxhash64("url"), F.lit(one_in)) == 0)
    io.append(extract_blocks(sampled, cfg=cfg), out_dir)


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    manifest_dir: str | None = None,
    n_buckets: int = 64,
    run_id: str | None = None,
    max_buckets: int | None = None,
    cfg: KernelConfig = DEFAULT_CONFIG,
    io: ParquetTableIO | None = None,
    debug_sample_one_in: int | None = None,
) -> dict:
    """One (possibly resumed) extraction run.  Returns run stats.

    ``max_buckets`` processes only the first k pending buckets — the
    test hook that simulates a run killed partway (SURVEY §5 item 6).
    ``debug_sample_one_in`` additionally writes the classified blocks
    of a deterministic 1-in-N url sample to <out_dir>_debug_blocks.
    """
    io = io or ParquetTableIO(spark)
    manifest_dir = manifest_dir or out_dir.rstrip("/") + "_manifest"
    run_id = run_id or uuid.uuid4().hex[:12]

    done = committed_buckets(io, manifest_dir)
    pending = _with_bucket(pages, n_buckets).filter(~F.col("bucket").isin(list(done)) if done else F.lit(True))

    todo: list[int] | None = None
    if max_buckets is not None:
        all_pending = sorted(
            r["bucket"] for r in pending.select("bucket").distinct().collect()
        )
        todo = all_pending[:max_buckets]
        pending = pending.filter(F.col("bucket").isin(todo))

    extracted = extract_pages(pending, cfg=cfg)
    extracted = _with_bucket(extracted, n_buckets)  # recompute: deterministic fn of url
    io.write_partitioned(extracted, out_dir, "bucket")

    if debug_sample_one_in is not None:
        write_debug_sample(
            pending, out_dir.rstrip("/") + "_debug_blocks",
            one_in=debug_sample_one_in, cfg=cfg, io=io,
        )

    # manifest derived from the WRITTEN data (not the in-flight plan), so a
    # bucket is committed iff its files are durably on disk
    written = io.read(out_dir)
    if todo is not None:
        written = written.filter(F.col("bucket").isin(todo))
    elif done:
        written = written.filter(~F.col("bucket").isin(list(done)))
    manifest = written.groupBy("bucket").agg(
        F.expr("bit_xor(xxhash64(url))").alias("input_fingerprint"),
        F.count("*").alias("n_docs"),
        F.sum("n_bytes").alias("n_bytes"),
        F.sum("proc_us").alias("wall_us"),
    ).select(
        F.lit(run_id).alias("run_id"),
        F.col("bucket").cast("int"),
        "input_fingerprint",
        "n_docs",
        "n_bytes",
        "wall_us",
        F.lit("committed").alias("status"),
    )
    io.append(manifest, manifest_dir)

    n_new = manifest.count()
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
    the same contract through Spark's own catalog (the sandbox has no
    Iceberg jars — the seam stays thin).

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
