"""The two workloads.  Each runs through the production entry points, times
them from outside, checks every output against an oracle outside the timed
regions, and, when traced, times each layer's public functions on the
workload's own inputs.

Phases (also the groups of the Spark counters): ``setup`` (input generation
and a warm-up pass), ``main`` (the timed operation, repeated until the
run's seconds are spent), ``served`` (extract only: the resume over the
output ``main`` committed), ``stream`` (traced dedup runs only: the microbatches); then
the untimed correctness check and, when traced, the layer probes.
"""

from __future__ import annotations

import contextlib
import os
import re
import time
from collections import Counter
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from . import inputs, stats
from .procs import PeakRss
from .tracing import Tracer, phase

EXTRACT_DOCS = 4000
EXTRACT_VARIANTS = 5
EXTRACT_BUCKETS = 16
MIN_EXTRACT_REPS = 2
DEDUP_DOCS = 2500
WARM_EVERY = 10
STREAM_BATCHES = 2
KERNEL_SAMPLE = 200
EVAL_OFFSET = 9_000_000


@dataclass
class Ctx:
    spark: object
    tmp: str
    cores: int
    seed: int
    seconds: float
    tracer: Tracer
    rss: PeakRss
    peak_rss_mb: float = 0.0

    def end_measurement(self) -> None:
        """Called before the correctness check: the oracles' memory is not
        the program's."""
        self.peak_rss_mb = self.rss.stop()

    @property
    def traced(self) -> bool:
        return self.tracer.enabled

    @contextlib.contextmanager
    def phase(self, name: str):
        """A span plus a Spark job tag for one benchmark phase."""
        with self.tracer.span(name), phase(self.spark, name, self.traced):
            yield

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` under a span; return (result, wall seconds)."""
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            return out, time.perf_counter() - t0


@dataclass
class Outcome:
    setup_s: float  # this workload's share: inputs + warm-up
    docs_per_s: float
    named: dict[str, tuple[float, str]]
    attempted: int
    failed: int
    layers: dict[str, float] = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _du(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) under ``path``, counting files ending in ``suffix``."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                size += os.path.getsize(os.path.join(root, n))
                files += 1
    return size, files


def _listing(path: str) -> dict[str, int]:
    out = {}
    for root, _dirs, names in os.walk(path):
        for n in names:
            p = os.path.join(root, n)
            out[os.path.relpath(p, path)] = os.path.getsize(p)
    return out


def _repeat(ctx: Ctx, name: str, fn, min_reps: int = 1) -> list[float]:
    """Call ``fn(i)`` until the run's seconds are spent and ``min_reps`` done."""
    walls: list[float] = []
    t0 = time.perf_counter()
    while len(walls) < min_reps or time.perf_counter() - t0 < ctx.seconds:
        _, dt = ctx.call(name, fn, len(walls))
        walls.append(dt)
    return walls


def _row_mismatches(got: dict, want: dict) -> int:
    return sum(1 for k in want if got.get(k) != want[k]) + sum(1 for k in got if k not in want)


# --------------------------------------------------------------------------
# extract
# --------------------------------------------------------------------------


def extract(ctx: Ctx) -> Outcome:
    from cvocr_spark import fixtures
    from cvocr_spark.sources.tableio import run_extraction

    spark = ctx.spark

    def make():
        d = f"{ctx.tmp}/in"
        inputs.write_parts(inputs.sample_documents(ctx.seed, EXTRACT_DOCS), f"{d}/docs", 1)
        pages = fixtures.gen_pages_table(f"{d}/docs", seed=ctx.seed, variants=EXTRACT_VARIANTS)
        inputs.write_parts(pages, f"{d}/pages", ctx.cores)
        return pages

    def run(out: str):
        return run_extraction(spark, pages_df, out, n_buckets=EXTRACT_BUCKETS)

    with ctx.phase("setup"):
        pages, inputs_s = ctx.call("inputs", make)
        pages_df = spark.read.parquet(f"{ctx.tmp}/in/pages")
        _, warm_s = ctx.call("sources.tableio.run_extraction", run, f"{ctx.tmp}/warm")
    n_pages = pages.num_rows

    with ctx.phase("main"):
        walls = _repeat(
            ctx, "sources.tableio.run_extraction", lambda i: run(f"{ctx.tmp}/out{i}"), MIN_EXTRACT_REPS
        )
    out = f"{ctx.tmp}/out{len(walls) - 1}"

    before = _listing(out)
    with ctx.phase("served"):
        resume, resume_s = ctx.call("sources.tableio.run_extraction", run, out)

    # correctness: every page's text survives extraction byte for byte (up
    # to the kernel's block separator), once; a resume commits nothing and
    # leaves the output untouched
    ctx.end_measurement()
    with ctx.tracer.span("check"):
        want = dict(zip(pages.column("url").to_pylist(), pages.column("text").to_pylist()))
        rows = pq.read_table(out, columns=["url", "text"]).to_pylist()
        seen = Counter(r["url"] for r in rows)
        wrong = sum(1 for r in rows if want.get(r["url"]) != (r["text"] or "").replace("\n", " "))
        wrong += sum(1 for u in want if seen[u] != 1)
        bad_resume = resume["buckets_committed_now"] != 0 or _listing(out) != before
    attempted = n_pages + 1
    failed = min(n_pages, wrong) + int(bad_resume)

    extract_s = stats.median(walls)
    docs_per_s = stats.rate(n_pages, extract_s)
    named = {
        "extract_docs_per_s": (docs_per_s, "pages/s"),
        "resume_noop_s": (resume_s, "s"),
    }
    layers: dict[str, float] = {}
    if ctx.traced:
        layers = _extract_layers(ctx, pages, pages_df, out, extract_s, resume)
    return Outcome(inputs_s + warm_s, docs_per_s, named, attempted, failed, layers)


def _kernel_layers(ctx: Ctx, htmls: list[bytes]) -> dict[str, float]:
    """Per-phase kernel cost on a fixed page sample, in this process."""
    from cvocr_spark.fastparse import FastSegmenter
    from cvocr_spark.kernel import decode_html
    from cvocr_spark.kernel import extract as kextract

    def per_doc_us(name: str, fn, items) -> float:
        passes = []
        with ctx.tracer.span(name):
            for _ in range(3):
                t0 = time.perf_counter_ns()
                for x in items:
                    fn(x)
                passes.append((time.perf_counter_ns() - t0) / 1000 / len(items))
        return stats.median(passes)

    def segment(doc: str) -> None:
        seg = FastSegmenter()
        seg.feed(doc)
        seg.close()

    docs = [decode_html(h)[0] for h in htmls]
    extract_us = per_doc_us("kernel.extract", kextract, htmls)
    decode_us = per_doc_us("kernel.decode_html", decode_html, htmls)
    segment_us = per_doc_us("fastparse.FastSegmenter", segment, docs)
    return {
        "kernel.extract_us_per_doc": extract_us,
        "kernel.decode_us_per_doc": decode_us,
        "fastparse.segment_us_per_doc": segment_us,
        "kernel.post_us_per_doc": stats.kernel_post_us(extract_us, decode_us, segment_us),
    }


def _extract_layers(ctx, pages, pages_df, out, extract_s, resume_stats) -> dict[str, float]:
    from pyspark.sql import functions as F

    from cvocr_spark.plans.job import extract_pages

    spark = ctx.spark
    layers = _kernel_layers(ctx, pages.column("html").to_pylist()[:KERNEL_SAMPLE])
    with ctx.tracer.span("probe"):
        stage_s = ctx.call("plans.job.extract_pages", lambda: _noop(extract_pages(pages_df, salted=False)))[1]
        salted_s = ctx.call("plans.job.extract_pages", lambda: _noop(extract_pages(pages_df)))[1]
        # the manifest's wall_us is the sum of per-page kernel time (proc_us)
        busy_s = spark.read.parquet(out + "_manifest").agg(F.sum("wall_us")).collect()[0][0] / 1e6
    data_bytes, files = _du(out, ".parquet")
    html_bytes = sum(len(h) for h in pages.column("html").to_pylist())
    layers.update(
        {
            "plans.job.stage_s": stage_s,
            "plans.job.salted_stage_s": salted_s,
            "plans.job.exchange_s": stats.exchange_s(salted_s, stage_s),
            "plans.job.kernel_busy_s": busy_s,
            "plans.job.busy_ratio": stats.busy_ratio(busy_s, salted_s, ctx.cores),
            "tableio.write_manifest_s": stats.write_manifest_s(extract_s, salted_s),
            "tableio.bytes_written_per_html_byte": data_bytes / html_bytes,
            "tableio.files_written": files,
            # the buckets a resume found committed: all of the timed run's
            "tableio.buckets_committed": resume_stats["buckets_committed_before"],
        }
    )
    return layers


# --------------------------------------------------------------------------
# dedup: curation, then streaming cluster maintenance, over one corpus
# --------------------------------------------------------------------------


def _drain(spark, writer, in_glob: str, ckpt: str) -> None:
    """The run_cluster_maintenance.py stream: one file per microbatch,
    drained with availableNow."""
    (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(in_glob)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def dedup(ctx: Ctx) -> Outcome:
    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.plans.curate import curate_corpus, release
    from cvocr_spark.streaming import cluster_batch_writer, current_clusters

    spark = ctx.spark
    state = f"{ctx.tmp}/state"

    def make():
        d = f"{ctx.tmp}/in"
        inputs.write_parts(inputs.sample_documents(ctx.seed, DEDUP_DOCS), f"{d}/docs", ctx.cores)
        base = spark.read.parquet(f"{d}/docs")
        docs = dd.with_injected_dups(base.select("doc_id", "text"))
        # the stream files are made in untraced runs too, so both kinds of
        # run set up the same way and the tracing overhead compares alike
        rows = [(r.doc_id, r.text) for r in docs.collect()]
        return base, docs, inputs.stream_files(rows, ctx.seed, STREAM_BATCHES, f"{d}/files")

    def curate(corpus, out: str) -> None:
        m = curate_corpus(corpus, ev)
        m.write.mode("overwrite").parquet(out)
        release(m)

    batch_walls: dict[int, float] = {}
    state_bytes: dict[int, int] = {}
    inner = cluster_batch_writer(spark, state)

    def writer(df, batch_id: int) -> None:
        # foreachBatch runs on the stream's thread: tag its jobs here
        with phase(spark, "stream", ctx.traced):
            _, batch_walls[batch_id] = ctx.call("streaming.cluster_stream.write_batch", inner, df, batch_id)
        if ctx.traced:
            state_bytes[batch_id] = _du(state)[0]

    with ctx.phase("setup"):
        (base, docs, batches), inputs_s = ctx.call("inputs", make)
        ev = base.filter("doc_id % 50 = 7").selectExpr(f"doc_id + {EVAL_OFFSET} AS doc_id", "text")
        n_docs = docs.count()
        # warm-up on a tenth of the corpus: the plan, its generated code
        # and the Python workers are the ones the timed calls reuse
        warm = docs.filter(f"doc_id % {WARM_EVERY} = 0")
        _, warm_s = ctx.call("plans.curate.curate_corpus", curate, warm, f"{ctx.tmp}/man_warm")

    with ctx.phase("main"):
        walls = _repeat(ctx, "plans.curate.curate_corpus", lambda i: curate(docs, f"{ctx.tmp}/man{i}"))
    if ctx.traced:
        # the stream runs in traced runs only: see README.md, "Sizing"
        with ctx.phase("stream"):
            ctx.call("stream.drain", _drain, spark, writer, f"{ctx.tmp}/in/files/b*", f"{ctx.tmp}/ckpt")
            cluster_rows, cc_s = ctx.call(
                "streaming.cluster_stream.current_clusters", lambda: current_clusters(spark, state).collect()
            )
        steps = [batch_walls[b] for b in sorted(batch_walls)]
        all_rows = [r for b in batches for r in b]

    ctx.end_measurement()
    with ctx.tracer.span("check"):
        with ctx.tracer.span("check.manifest_oracle"):
            want = _manifest_oracle(ctx)
        inplan = {r["doc_id"]: r for r in pq.read_table(f"{ctx.tmp}/man{len(walls) - 1}").to_pylist()}
        attempted = len(want)
        failed = min(len(want), _row_mismatches(inplan, want))
        if ctx.traced:
            got = {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in cluster_rows}
            with ctx.tracer.span("check.stream_oracle"):
                bad_clusters = min(len(all_rows), _row_mismatches(got, _stream_oracle(ctx, docs, all_rows)))
            attempted += len(all_rows) + STREAM_BATCHES
            failed += bad_clusters + (STREAM_BATCHES - len(steps))

    curate_s = stats.median(walls)
    docs_per_s = stats.rate(n_docs, curate_s)
    named = {"curate_docs_per_s": (docs_per_s, "docs/s")}
    layers: dict[str, float] = {}
    if ctx.traced:
        named["stream_batch_p50_s"] = (stats.median(steps), "s")
        named["stream_batch_max_s"] = (max(steps), "s")
        for b, w in enumerate(steps):
            layers[f"cluster_stream.batch_s.{b}"] = w
            layers[f"cluster_stream.labels_bytes.{b}"] = _du(f"{state}/labels/gen_{b}")[0]
            layers[f"cluster_stream.state_bytes.{b}"] = state_bytes[b]
        layers["cluster_stream.current_clusters_s"] = cc_s
        probes, bad_pairs = _curate_layers(ctx, docs, ev, n_docs)
        layers.update(probes)
        attempted += int(probes["dedup.verified_pairs"])
        failed += min(int(probes["dedup.verified_pairs"]), bad_pairs)
    return Outcome(inputs_s + warm_s, docs_per_s, named, attempted, failed, layers)


# CTEs of the dedup oracles referenced more than once.  DuckDB inlines a CTE
# at each reference, and re-evaluates ``edges`` (with the MinHash signatures
# under it) at every step of the recursive ``reach``; marked MATERIALIZED,
# each is evaluated once: the same rows, in a few seconds instead of minutes.
_SHARED_CLUSTER_CTES = ("sigs", "safe", "toks", "edges")
_SHARED_MANIFEST_CTES = ("base", "gates", "surv", "clusters", "keepers") + _SHARED_CLUSTER_CTES


def _materialized(sql: str, ctes) -> str:
    for name in ctes:
        sql, n = re.subn(rf"\b{name} AS \(", f"{name} AS MATERIALIZED (", sql)
        if n != 1:
            raise RuntimeError(f"oracle SQL has {n} definitions of CTE {name!r}")
    return sql


def _manifest_oracle(ctx: Ctx) -> dict:
    """DuckDB ``curation_manifest_sql`` over the same inputs, by doc_id."""
    import duckdb

    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.plans.curate import curation_manifest_sql

    sql = curation_manifest_sql(
        corpus=dd.injected_dups_sql(),
        eval_docs=f"SELECT doc_id + {EVAL_OFFSET} AS doc_id, text FROM documents WHERE doc_id % 50 = 7",
    )
    sql = _materialized(sql, _SHARED_MANIFEST_CTES)
    con = duckdb.connect(config={"temp_directory": f"{ctx.tmp}/duckdb"})
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{ctx.tmp}/in/docs/*.parquet')")
        return {r["doc_id"]: r for r in con.execute(sql).fetch_arrow_table().to_pylist()}
    finally:
        con.close()


def _stream_oracle(ctx: Ctx, docs, all_rows) -> dict:
    """The clustering a from-scratch run reaches over the pairs discovered
    in arrival order (the tests/test_streaming.py recipe).  When no LSH
    bucket of the whole corpus exceeds the hot-bucket guard, no bucket of
    any batch or prefix does either, so arrival order cannot change which
    pairs are found: the recipe's answer is then the verified clustering of
    the whole corpus, which the DuckDB restatement computes.  ``docs`` is
    the corpus the stream files were cut from, as a DataFrame."""
    import duckdb
    import pyarrow as pa

    from cvocr_spark.operators import dedup as dd

    if dd.lsh_skipped_buckets(docs).count():
        raise RuntimeError("a hot LSH bucket makes arrival order matter; the stream oracle does not apply")
    con = duckdb.connect(config={"temp_directory": f"{ctx.tmp}/duckdb"})
    try:
        con.register(
            "stream_docs", pa.table({"doc_id": [r[0] for r in all_rows], "text": [r[1] for r in all_rows]})
        )
        sql = _materialized(
            dd.dedup_clusters_verified_sql("SELECT doc_id, text FROM stream_docs"), _SHARED_CLUSTER_CTES
        )
        rows = con.execute(sql).fetch_arrow_table().to_pylist()
    finally:
        con.close()
    return {r["doc_id"]: (r["cluster_id"], r["is_keeper"]) for r in rows}


def _curate_layers(ctx: Ctx, docs, ev, n_docs: int) -> tuple[dict[str, float], int]:
    """The curation operators timed one by one on the workload's corpus,
    and the number of verified pairs that the pair stage served from a
    stored dedup index gets wrong against the in-plan pair stage."""
    from pyspark.sql import functions as F

    from cvocr_spark.operators import decontam, scrub, textstats
    from cvocr_spark.operators import dedup as dd

    base = docs.select("doc_id", "text")
    out: dict[str, float] = {}
    with ctx.tracer.span("probe"):
        out["scrub.pii_scrub_s"] = ctx.call("operators.scrub.pii_scrub", lambda: _noop(scrub.pii_scrub(base)))[1]
        out["scrub.script_profile_s"] = ctx.call(
            "operators.scrub.script_profile", lambda: _noop(scrub.script_profile(base))
        )[1]
        out["textstats.corpus_filter_s"] = ctx.call(
            "operators.textstats.corpus_filter", lambda: _noop(textstats.corpus_filter(base))
        )[1]
        # the quality survivors curate_corpus deduplicates
        survivors = base.join(
            textstats.corpus_filter(base).filter("keep").select("doc_id"), "doc_id", "left_semi"
        ).persist()
        pairs = dd.minhash_verified_dups(survivors).select("a", "b").persist()
        try:
            out["textstats.survivor_ratio"] = stats.ratio(survivors.count(), n_docs)
            out["dedup.minhash_verified_dups_s"] = ctx.call(
                "operators.dedup.minhash_verified_dups", lambda: _noop(dd.minhash_verified_dups(survivors))
            )[1]
            out["dedup.verified_pairs"] = pairs.count()
            out["dedup.candidate_pairs"] = dd.minhash_lsh_pairs(survivors).count()
            out["dedup.verified_per_candidate"] = stats.ratio(out["dedup.verified_pairs"], out["dedup.candidate_pairs"])
            out["dedup.skipped_buckets"] = dd.lsh_skipped_buckets(survivors).count()
            out["dedup.dedup_clusters_s"] = ctx.call(
                "operators.dedup.dedup_clusters", lambda: _noop(dd.dedup_clusters(survivors, pairs))
            )[1]
            keepers = survivors.join(
                dd.dedup_clusters(survivors, pairs).filter("is_keeper").select("doc_id"), "doc_id", "left_semi"
            )
            out["decontam.decontaminate_s"] = ctx.call(
                "operators.decontam.decontaminate", lambda: _noop(decontam.decontaminate(keepers, ev))
            )[1]
            out["decontam.contaminated"] = decontam.decontaminate(keepers, ev).filter(F.col("is_contaminated")).count()
            idx = f"{ctx.tmp}/probe_index"
            out["dedup.build_dedup_index_s"] = ctx.call(
                "operators.dedup.build_dedup_index", lambda: dd.build_dedup_index(survivors, idx)
            )[1]
            out["dedup.index_bytes"] = _du(idx)[0]
            out["dedup.minhash_verified_dups_indexed_s"] = ctx.call(
                "operators.dedup.minhash_verified_dups_indexed",
                lambda: _noop(dd.minhash_verified_dups_indexed(survivors, idx)),
            )[1]
            with ctx.tracer.span("check"):
                served = {tuple(r) for r in dd.minhash_verified_dups_indexed(survivors, idx).select("a", "b").collect()}
                inplan = {tuple(r) for r in pairs.collect()}
        finally:
            pairs.unpersist()
            survivors.unpersist()
    return out, len(served ^ inplan)


WORKLOADS = {"extract": extract, "dedup": dedup}
