"""Spark-path tests (SURVEY §5 items 3, 6): mapInArrow output ==
pure-kernel goldens byte-for-byte, invariance across partition counts,
and kill/resume lineage semantics."""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvocr_spark import durable  # noqa: E402
from cvocr_spark.fixtures import gen_pages_df, gen_pages_table  # noqa: E402
from cvocr_spark.plans.job import extract_pages  # noqa: E402
from cvocr_spark.sources import tableio  # noqa: E402
from cvocr_spark.sources.tableio import run_extraction  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
SF = "0.001"


@pytest.fixture(scope="module")
def pages(spark):
    docs = spark.read.parquet(f"/root/testdata/sf{SF}/documents.parquet")
    return gen_pages_df(spark, docs)


def _golden_map():
    g = pq.read_table(os.path.join(HERE, "goldens", f"golden_sf{SF}.parquet"))
    return {
        g.column("url")[i].as_py(): (
            g.column("text")[i].as_py(),
            g.column("spans")[i].as_py(),
        )
        for i in range(g.num_rows)
    }


def test_spark_matches_goldens_byte_identical(spark, pages):
    golden = _golden_map()
    rows = extract_pages(pages, n_partitions=8).select("url", "text", "spans").collect()
    assert len(rows) == len(golden)
    for r in rows:
        gtext, gspans = golden[r["url"]]
        assert r["text"] == gtext, f"text mismatch for {r['url']}"
        got_spans = [s.asDict() for s in r["spans"]]
        assert got_spans == gspans, f"span mismatch for {r['url']}"


def test_partition_count_invariance(spark, pages):
    a = extract_pages(pages, n_partitions=2).select("url", "text").collect()
    b = extract_pages(pages, n_partitions=17).select("url", "text").collect()
    assert sorted((r["url"], r["text"]) for r in a) == sorted(
        (r["url"], r["text"]) for r in b
    )


def test_resume_after_partial_run(spark, pages):
    d = tempfile.mkdtemp(prefix="cvocr_resume_")
    try:
        out, out_solo = d + "/ext", d + "/ext_solo"
        # killed run: only 3 buckets commit
        r1 = run_extraction(spark, pages, out, n_buckets=12, max_buckets=3, run_id="r1")
        assert r1["buckets_committed_now"] == 3
        # resume: remaining buckets only
        r2 = run_extraction(spark, pages, out, n_buckets=12, run_id="r2")
        assert r2["buckets_committed_before"] == 3
        assert r2["buckets_committed_now"] == 9
        # resumed result == single-shot result, byte-for-byte
        run_extraction(spark, pages, out_solo, n_buckets=12, run_id="solo")
        resumed = spark.read.parquet(out).select("url", "text")
        solo = spark.read.parquet(out_solo).select("url", "text")
        assert resumed.exceptAll(solo).count() == 0
        assert solo.exceptAll(resumed).count() == 0
        # no bucket processed twice
        mani = spark.read.parquet(out + "_manifest")
        assert mani.count() == mani.select("bucket").distinct().count()
        # third run: nothing pending
        r3 = run_extraction(spark, pages, out, n_buckets=12, run_id="r3")
        assert r3["buckets_committed_now"] == 0
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_resume_refuses_changed_input(spark, pages, tmp_path):
    """A manifest commits buckets of ONE input: resuming it with another
    ``n_buckets`` (a bare file scan, fingerprinted from its listing) or
    with changed html (a derived frame, fingerprinted from its content)
    must refuse, naming both keys, and leave the output as it was —
    not mix stale buckets in (444 rows / 369 urls of 500) or commit
    nothing over stale text (all 500 rows stale)."""
    src = str(tmp_path / "pages")
    pages.write.parquet(src)
    for out, first, changed, kw in (
        (str(tmp_path / "nb"), spark.read.parquet(src), spark.read.parquet(src), {"n_buckets": 7}),
        (str(tmp_path / "html"), pages,
         pages.withColumn("html", F.concat("html", F.lit(b"<p>edit</p>"))), {"n_buckets": 12}),
    ):
        run_extraction(spark, first, out, n_buckets=12, max_buckets=3)
        n_out = spark.read.parquet(out).count()
        recorded = durable.read_fingerprint(spark, out + "_manifest")
        now = durable.fingerprint(
            changed, ["url", "warc_ts", "html"], kw["n_buckets"], tableio._kernel_digest()
        )
        assert recorded != now
        with pytest.raises(ValueError) as err:
            run_extraction(spark, changed, out, **kw)
        assert recorded in str(err.value) and now in str(err.value)
        assert spark.read.parquet(out).count() == n_out
        assert spark.read.parquet(out + "_manifest").count() == 3


def test_resume_refuses_changed_kernel(spark, pages, tmp_path, monkeypatch):
    """The same input through a changed kernel is not the same output:
    a resume after a kernel edit (here: its source digest) must refuse
    and leave the output, the manifest and its fingerprint as they
    were."""
    out = str(tmp_path / "ext")
    run_extraction(spark, pages, out, n_buckets=12, max_buckets=3)

    def state():
        return (
            sorted(map(tuple, spark.read.parquet(out).select("url", "text", "bucket").collect())),
            sorted(map(tuple, spark.read.parquet(out + "_manifest").drop("wall_us").collect())),
            durable.read_fingerprint(spark, out + "_manifest"),
        )

    before = state()
    assert len(before[1]) == 3
    monkeypatch.setattr(tableio, "_kernel_digest", lambda: "edited-kernel")
    with pytest.raises(ValueError) as err:
        run_extraction(spark, pages, out, n_buckets=12)
    assert before[2] in str(err.value) and "edited-kernel" in str(err.value)
    assert state() == before


def test_torn_first_manifest_reads_as_nothing_committed(spark, pages, tmp_path):
    """A kill inside the first manifest append leaves only
    ``_temporary/``: both the backfill and the stream writer must read
    it as nothing committed and commit every bucket / the batch."""
    from cvocr_spark.sources.tableio import _committed
    from cvocr_spark.streaming.extract_stream import lineage_batch_writer

    few = pages.limit(40)
    for name in ("b", "s"):
        os.makedirs(tmp_path / f"{name}_manifest" / "_temporary" / "0")
        assert _committed(spark, str(tmp_path / f"{name}_manifest"), "bucket") == set()
    r = run_extraction(spark, few, str(tmp_path / "b"), n_buckets=4)
    assert r["buckets_committed_before"] == 0 and r["buckets_committed_now"] == 4
    writer = lineage_batch_writer(spark, str(tmp_path / "s"), str(tmp_path / "s_manifest"), 4)
    writer(extract_pages(few, salted=False), 0)
    assert _committed(spark, str(tmp_path / "s_manifest"), "batch_id") == {0}
    assert spark.read.parquet(str(tmp_path / "s")).count() == 40


def test_fresh_run_clears_uncommitted_buckets(spark, pages, tmp_path):
    """A first run killed after its data write but before its manifest
    append leaves bucket dirs that no manifest covers.  A rerun finds
    nothing committed and must clear them rather than commit them with
    its own buckets (12 stale buckets, then ``n_buckets=7``, committed
    12 buckets and 700 rows for 500 urls)."""
    out = str(tmp_path / "ext")
    run_extraction(spark, pages, out, n_buckets=12)
    # the kill: drop the manifest rows, keep the recorded fingerprint
    mdir = tmp_path / "ext_manifest"
    for f in os.listdir(mdir):
        if not f.startswith("_"):
            os.remove(mdir / f)
    r = run_extraction(spark, pages, out, n_buckets=7)
    got = spark.read.parquet(out)
    n_pages = pages.count()
    assert r["buckets_committed_before"] == 0 and r["buckets_committed_now"] == 7
    assert got.count() == got.select("url").distinct().count() == n_pages
    assert got.select("bucket").distinct().count() == 7


def test_debug_sample_rerun_overwrites(spark, pages, tmp_path):
    """The debug sample is a function of ``pages``: writing it twice
    into one dir gives the rows of one run, not twice as many."""
    from cvocr_spark.sources.tableio import write_debug_sample

    out = str(tmp_path / "dbg")

    def rows():
        return sorted(
            map(tuple, spark.read.parquet(out).select("url", "block_id", "text").collect())
        )

    write_debug_sample(pages, out, one_in=10)
    first = rows()
    write_debug_sample(pages, out, one_in=10)
    assert rows() == first and first


def test_run_extraction_job_count(spark, pages, tmp_path):
    """Spark jobs of one backfill over a bare file scan, fresh and as a
    no-op resume: 9 and 10 under this local[8] session while the
    manifest was re-scanned by a count and every read inferred its
    schema.  Counted via statusTracker."""
    src = str(tmp_path / "pages")
    pages.coalesce(2).write.parquet(src)
    sc = spark.sparkContext

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            r = run_extraction(spark, spark.read.parquet(src), str(tmp_path / "out"), n_buckets=12)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return r, len(sc.statusTracker().getJobIdsForGroup(group))

    fresh, n_fresh = jobs("extract-fresh")
    noop, n_noop = jobs("extract-noop-resume")
    assert (fresh["buckets_committed_now"], noop["buckets_committed_now"]) == (12, 0)
    assert n_fresh <= 6 and n_noop <= 5, (n_fresh, n_noop)


def test_backfill_and_stream_manifests_read_through_one_reader(spark, pages, tmp_path):
    """Backfill and stream commit lineage through one writer: both
    manifests hold the ``MANIFEST_DDL`` columns (``batch_id`` NULL in
    the backfill, ``run_id`` NULL in the stream), the one reader
    ``_committed`` lists what each committed, and in each ``n_docs``
    per bucket equals the output's rows, ``wall_us`` their summed
    ``proc_us``."""
    from cvocr_spark.sources.tableio import MANIFEST_DDL, _committed
    from cvocr_spark.streaming.extract_stream import lineage_batch_writer

    few = pages.limit(60).cache()
    b_out, s_out = str(tmp_path / "b"), str(tmp_path / "s")
    run_extraction(spark, few, b_out, n_buckets=8, run_id="r1")
    writer = lineage_batch_writer(spark, s_out, s_out + "_manifest", n_buckets=8)
    for batch_id, half in enumerate(("length(url) % 2 = 0", "length(url) % 2 = 1")):
        writer(extract_pages(few.filter(half), salted=False), batch_id)

    def per_bucket(df, n, us):
        return {
            r["bucket"]: (r["n"], r["us"])
            for r in df.groupBy("bucket").agg(F.sum(n).alias("n"), F.sum(us).alias("us")).collect()
        }

    for out, col, keys, unset in ((b_out, "bucket", set(range(8)), "batch_id"),
                                  (s_out, "batch_id", {0, 1}, "run_id")):
        mani = spark.read.parquet(out + "_manifest")
        assert mani.schema.simpleString() == spark.createDataFrame([], MANIFEST_DDL).schema.simpleString()
        assert mani.filter(F.col(unset).isNotNull()).count() == 0
        assert _committed(spark, out + "_manifest", col) == keys
        assert per_bucket(mani, "n_docs", "wall_us") == per_bucket(
            spark.read.parquet(out).withColumn("one", F.lit(1)), "one", "proc_us"
        )
    few.unpersist()


def test_spark_gen_matches_local_gen(spark, pages):
    local = gen_pages_table(f"/root/testdata/sf{SF}/documents.parquet")
    local_map = {
        local.column("url")[i].as_py(): local.column("html")[i].as_py()
        for i in range(local.num_rows)
    }
    rows = pages.select("url", "html").collect()
    assert len(rows) == len(local_map)
    for r in rows:
        assert bytes(r["html"]) == local_map[r["url"]]


def test_blocks_table_matches_kernel(spark, pages):
    from cvocr_spark.kernel import extract
    from cvocr_spark.plans.job import extract_blocks

    sample = pages.limit(20).cache()
    rows = extract_blocks(sample).collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    for pr in sample.select("url", "html").collect():
        kb = extract(bytes(pr["html"])).blocks
        got = sorted(by_url[pr["url"]], key=lambda r: r["block_id"])
        assert len(got) == len(kb)
        for g, b in zip(got, kb):
            assert (g["block_id"], g["tag"], g["text"], g["cls"]) == (
                b.block_id, b.tag, b.text, b.cls
            )
    sample.unpersist()


def test_salted_repartition_balances_host_skew(spark):
    """north_rule skew defense: a corpus where ONE host owns 60% of the
    urls must still spread ~uniformly across partitions after the
    salted repartition (host clustering must not pin executors)."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    skewed = gen_pages_df(spark, docs).withColumn(
        "url",
        F.when(
            F.rand(42) < 0.6,  # 60% of urls on one giant host
            F.concat(F.lit("https://megahost.example.com/p/"), F.col("url")),
        ).otherwise(F.col("url")),
    )
    from cvocr_spark.plans.job import extract_pages

    parts = (
        extract_pages(skewed, n_partitions=16)
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .count()
        .collect()
    )
    counts = [r["count"] for r in parts]
    assert len(counts) == 16
    mean = sum(counts) / len(counts)
    assert max(counts) < 1.6 * mean, f"skewed partitions: {sorted(counts)}"


def test_kernel_idempotent_on_own_output(spark):
    """SURVEY §5 item 5: re-extracting the extracted text (wrapped as a
    trivial page) reproduces it — the kernel is a projection."""
    from cvocr_spark.kernel import extract

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    texts = [r["text"] for r in docs.limit(50).collect()]
    for t in texts:
        once = extract(f"<html><body><article><p>{t}</p></article></body></html>".encode())
        twice = extract(
            f"<html><body><article><p>{once.text}</p></article></body></html>".encode()
        )
        assert once.text.replace("\n", " ") == t
        assert twice.text.replace("\n", " ") == once.text.replace("\n", " ")


def test_prefilter_prunes_empty_html(spark):
    pdf = spark.createDataFrame(
        [("u1", None), ("u2", b"")],
        "url string, html binary",
    ).withColumn("warc_ts", F.current_timestamp())
    assert extract_pages(pdf, salted=False).count() == 0


def test_debug_sample_sink_deterministic(spark, pages):
    """The 1-in-N debug blocks sink (reference debug artifacts,
    preprocess.h:532-534): deterministic url sample, full block schema,
    same urls on a re-run."""
    from cvocr_spark.sources.tableio import write_debug_sample

    d = tempfile.mkdtemp(prefix="cvocr_dbg_")
    try:
        write_debug_sample(pages, d + "/s1", one_in=10)
        write_debug_sample(pages, d + "/s2", one_in=10)
        s1 = spark.read.parquet(d + "/s1")
        urls1 = {r["url"] for r in s1.select("url").distinct().collect()}
        urls2 = {
            r["url"]
            for r in spark.read.parquet(d + "/s2").select("url").distinct().collect()
        }
        assert urls1 == urls2 and urls1  # deterministic, non-empty
        n_pages = pages.count()
        assert len(urls1) < n_pages / 5  # actually a sample
        # full blocks schema incl. the confidence columns
        for col in ("block_id", "cls", "conf", "candidates", "link_density"):
            assert col in s1.columns
    finally:
        shutil.rmtree(d, ignore_errors=True)
