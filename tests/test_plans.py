"""Physical-plan shape assertions: the scale properties VERDICT flagged
must be visible in the executed plan, not just claimed in docstrings."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("CVOCR_TEST_SF_DIR", "/root/testdata/sf0.01")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_kmv_no_global_window_over_raw_hashes(spark):
    """The first (full-data) window must partition by (event_type, salt),
    never by event_type alone — a hot key's hashes spread over
    KMV_SALTS tasks (VERDICT item 8 'done' criterion)."""
    from cvocr_spark.operators import temporal

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = _plan(temporal.kmv_distinct_sketch(events))
    # exactly two Window nodes (WindowGroupLimit helpers excluded): the
    # salted partial pass and the tiny merge pass
    windows = [
        ln for ln in plan.splitlines()
        if "Window [row_number()" in ln
    ]
    assert len(windows) == 2, plan
    salted = [ln for ln in windows if "salt" in ln]
    assert len(salted) == 1, f"expected exactly one salted window:\n{plan}"
    # the unsalted (merge) window must be the plan PARENT of the prn<=K
    # filter (printed above it in top-down toString), i.e. it consumes
    # the partial-k output, never the raw hash stream
    unsalted = next(ln for ln in windows if "salt" not in ln)
    assert plan.find(unsalted) < plan.find("Filter (prn"), plan
    # Spark 4 additionally pushes a map-side rank limit before each
    # window shuffle — assert it's present so a regression is loud
    assert "WindowGroupLimit" in plan and ", Partial" in plan, plan


def test_topk_per_group_has_partial_rank_limit(spark):
    """The window top-k carries Spark 4's WindowGroupLimit map-side
    partial, so at scale each map task forwards <= k rows per group to
    the (4-partition) window — the '100x-safe' property VERDICT r1
    asked for, provided by the optimizer and pinned here."""
    from cvocr_spark.operators import windows

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    plan = _plan(windows.topk_per_group(li))
    assert "WindowGroupLimit" in plan and ", Partial" in plan, plan


def test_extraction_scan_prunes_columns_and_pushes_filters(spark):
    """The parquet scan under the Arrow stage must read ONLY
    (url, warc_ts, html) even from a wider table, with the html
    null-filter pushed into the scan — a scan reading extra columns for
    a 3-column kernel is wrong at any scale (task brief: ReadSchema /
    PushedFilters must be visible in the plan)."""
    import tempfile

    from cvocr_spark.fixtures import gen_pages_df
    from cvocr_spark.plans.job import extract_pages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    d = tempfile.mkdtemp(prefix="cvocr_prune_")
    gen_pages_df(spark, docs).selectExpr(
        "*", "length(html) as extra1", "'x' as extra2"
    ).write.mode("overwrite").parquet(d + "/pages")
    plan = _plan(extract_pages(spark.read.parquet(d + "/pages")))
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "ReadSchema: struct<url:string,warc_ts:timestamp,html:binary>" in scan, scan
    assert "extra1" not in scan and "extra2" not in scan, scan
    assert "PushedFilters: [IsNotNull(html)]" in scan, scan


def test_salted_fallback_exchanges_on_url_hash(spark):
    """extract_pages(salted=True) must place exactly one hash exchange
    on sha2(url) between the pruned scan and the Arrow stage — the
    documented unbucketed-input fallback; the bucketed design path has
    no exchange at all."""
    from cvocr_spark.fixtures import gen_pages_df
    from cvocr_spark.plans.job import extract_pages

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pages = gen_pages_df(spark, docs)
    salted = _plan(extract_pages(pages, n_partitions=8, salted=True))
    assert "Exchange hashpartitioning(sha2(cast(url" in salted, salted
    unsalted = _plan(extract_pages(pages, salted=False))
    assert "Exchange hashpartitioning(sha2(cast(url" not in unsalted


def _one_arrow_stage(plan: str) -> None:
    """Exactly one Arrow map node, no explode (Generate) and no
    interpreted lambda anywhere in the plan."""
    assert plan.count("MapInArrow ") == 1, plan[:3000]
    assert "Generate" not in plan, plan[:3000]
    assert "lambdafunction" not in plan, plan[:3000]


def test_minhash_signatures_are_flat_aggregates(spark):
    """Minhash signatures (k=8 and k=128) come from ONE pass of the
    per-document text kernel: one Arrow map node over the scan, never
    an explode -> aggregate plan or interpreted HOF array expressions
    (measured ~100 ms/doc at k=128; the 200k soak never finished on
    the HOF form)."""
    from cvocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    for sigs in (dedup.minhash_signatures(docs), dedup.minhash_signatures_wide(docs)):
        _one_arrow_stage(_plan(sigs))


def test_doc_fingerprint_is_flat_aggregate(spark):
    """doc_fingerprint's per-shingle md5 runs in the per-document text
    kernel: one Arrow map node, no explode and no interpreted
    array_min(transform(...)) fold (VERDICT r3 'What's wrong' #5)."""
    from cvocr_spark.operators import textstats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    _one_arrow_stage(_plan(textstats.doc_fingerprint(docs)))


def test_pq_rerank_is_flat_scoring(spark):
    """The PQ exact-rerank tail must use the shared flat scorer
    (explode -> three SUM aggregates + one qcosine float expr), not the
    interpreted aggregate(zip_with(...)) HOF it replaced (VERDICT r4
    wrong #2).  The quantizer's own transform() lambda on the scan is
    allowed; no lambda may touch the scoring aggregates."""
    import re as _re

    from cvocr_spark.operators import pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plan = _plan(pq.pq_adc_topk(emb, n_queries=2, k=2, rerank=10))
    assert "zip_with" not in plan, plan[:3000]
    assert not _re.search(r"aggregate\(lambdafunction", plan), plan[:3000]


def test_ivf_assignment_is_flat_aggregates(spark):
    """IVF centroid assignment must be the explode -> flat-SUM codegen
    plan: no higher-order function (lambda) anywhere — the old
    aggregate(zip_with(...)) per row per centroid was the measured
    ~100 ms/doc interpreted anti-pattern (VERDICT r2 item 2)."""
    from cvocr_spark.operators import ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    centroids = ivf._train(emb, ivf.IVF_K, ivf.IVF_ITERS)
    plan = _plan(ivf.assign_with_dists(emb, centroids))
    assert "lambdafunction" not in plan, plan[:3000]
    assert "zip_with" not in plan, plan[:3000]
    assert "HashAggregate" in plan, plan[:3000]


def test_ivf_index_search_prunes_list_partitions(spark):
    """The materialized-index search must reach the lists scan with a
    partition filter on cid — at crawl scale that is the difference
    between touching n_probe/k of the corpus and touching all of it."""
    import tempfile

    from cvocr_spark.operators import ivf

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = tempfile.mkdtemp(prefix="cvocr_ivf_plan_")
    ivf.build_ivf_index(emb, path)
    plan = _plan(ivf.ivf_search_index(spark, path, n_probe=2, n_queries=3))
    import re

    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "/lists" in ln]
    pruned = [
        ln for ln in scans if re.search(r"PartitionFilters: \[cid#\d+ IN \(", ln)
    ]
    assert pruned, f"no cid partition filter on the lists scan:\n{plan[:3000]}"


def test_ivfpq_serve_prunes_code_partitions(spark):
    """The materialized IVF-PQ serve path (r5) must reach the code-list
    scan with a cid partition filter — same scale property as the IVF
    pin above: ADC touches n_probe/k of the codes, never all of them."""
    import re
    import tempfile

    from cvocr_spark.operators import pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    path = tempfile.mkdtemp(prefix="cvocr_ivfpq_plan_")
    pq.build_ivfpq_index(emb, path)
    plan = _plan(pq.ivfpq_search_index(spark, path, n_probe=2, n_queries=3))
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and "/codes" in ln]
    pruned = [
        ln for ln in scans if re.search(r"PartitionFilters: \[cid#\d+ IN \(", ln)
    ]
    assert pruned, f"no cid partition filter on the codes scan:\n{plan[:3000]}"


def test_order_dependent_queries_have_partitioned_windows(spark):
    """sessionize / gaps-islands / as-of: every window must partition by
    user_id (a GLOBAL window would serialize 10^12 rows through one
    task) and the whole chain must reuse ONE exchange on user_id —
    lag + running-sum + label windows share their partitioning."""
    import re

    from cvocr_spark.operators import asof, windows

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    for df in (windows.sessionize(ev), windows.gaps_islands(ev),
               asof.asof_join_marks(ev)):
        plan = _plan(df)
        for ln in plan.splitlines():
            if "windowspecdefinition" in ln:
                assert "windowspecdefinition(user_id" in ln, ln
        ex = re.findall(r"Exchange hashpartitioning\(user_id", plan)
        assert len(ex) == 1, plan[:2500]


def test_dim_joins_broadcast_small_side(spark):
    """Joins against small dimension tables must build a broadcast hash
    relation (the corpus side never shuffles for the join) and no plan
    may contain a cartesian product."""
    from cvocr_spark.operators import asof, relational

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    for df in (relational.equi_join_agg(orders, customer),
               asof.big_join_smj(lineitem, orders)):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan[:2500]
        # AQE picks broadcast at this size; at scale the same plan
        # degrades gracefully to SMJ — both acceptable, cartesian never
        assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan[:2500]


def test_dedup_incremental_plan_shape(spark):
    """Incremental dedup's plan must stay linear in the two inputs:
    no cartesian product anywhere, and the exact phase's anti-join on
    the hash key visible — the shape that lets a daily batch probe a
    10^12-row index."""
    from cvocr_spark.operators import dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    existing, new_batch = dedup.incremental_split(docs)
    plan = _plan(dedup.dedup_incremental(new_batch, existing))
    assert "CartesianProduct" not in plan, plan[:3000]
    assert "LeftAnti" in plan, plan[:3000]


def test_kmv_values_unchanged_by_partial_plan(spark):
    """Two-level k-smallest == global k-smallest: spot-check the kth
    hash against a driver-side sort of all hashes."""
    from pyspark.sql import functions as F

    from cvocr_spark.functions import portable as P
    from cvocr_spark.operators import temporal

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = {
        r["event_type"]: r["kmv_estimate"]
        for r in temporal.kmv_distinct_sketch(events).collect()
    }
    h = F.expr(P.hash60_spark("cast(user_id as string)", "kmv"))
    for et, est in got.items():
        hashes = sorted(
            r["h"]
            for r in events.filter(F.col("event_type") == et)
            .select(F.col("user_id"), h.alias("h"))
            .distinct()
            .collect()
        )
        if len(hashes) >= temporal.KMV_K:
            kth = hashes[temporal.KMV_K - 1]
            want = round((temporal.KMV_K - 1) * float(2**60) / float(kth), 2)
            assert est == want, (et, est, want)


def test_webtext_analytics_plan_is_lambda_free(spark):
    """url_parts' path_depth must be the codegen regexp_count form, not
    the interpreted filter() higher-order function it replaced (r6,
    VERDICT r5 wrong #4): no lambda may survive anywhere in the
    oracled webtext_analytics plan."""
    from cvocr_spark.operators import urlstats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(urlstats.webtext_analytics(docs))
    assert "lambdafunction" not in plan, plan[:3000]


def test_stratified_sample_has_partial_rank_limit(spark):
    """The per-group quota must carry WindowGroupLimit map-side partials
    (rank <= n prunes each stratum to n rows per map task BEFORE the
    shuffle) — without it a hot stratum ships its entire row set."""
    from cvocr_spark.operators import sampling

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = _plan(sampling.stratified_sample(docs, "source", "doc_id", 3))
    assert "WindowGroupLimit" in plan and ", Partial" in plan, plan[:3000]


def _counting_rows(spark, monkeypatch, *names):
    """Wrap the text kernel's ``doctext.<name>`` row functions so each
    call adds 1 to an accumulator: {name: accumulator}."""
    from cvocr_spark.operators import doctext

    def counting(fn, acc):
        def row(text, **kw):
            acc.add(1)
            return fn(text, **kw)
        return row

    accs = {n: spark.sparkContext.accumulator(0) for n in names}
    for n, acc in accs.items():
        monkeypatch.setattr(doctext, n, counting(getattr(doctext, n), acc))
    return accs


def test_pair_operators_run_the_text_kernel_once(spark, monkeypatch):
    """The LSH pair operators pair each guarded bucket with one
    aggregate, never a self-join over the band frame: the plan holds
    ONE Arrow kernel node (a self-join has one per side, and over a
    persisted input the kernel then runs once per side), the
    aggregate groups by the guard's window partitioning without an
    exchange of its own, and the kernel evaluates each doc once."""
    from cvocr_spark.operators import dedup, simhash64

    docs = dedup.with_injected_dups(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    ).persist()
    n = docs.count()
    accs = _counting_rows(spark, monkeypatch, "_minhash_row", "_simhash64_row")
    for fn, acc in ((dedup.minhash_lsh_pairs, accs["_minhash_row"]),
                    (dedup.minhash_lsh_pairs_wide, accs["_minhash_row"]),
                    (simhash64.simhash64_neardup_pairs, accs["_simhash64_row"])):
        df = fn(docs)
        plan = _plan(df)
        assert plan.count("MapInArrow ") == 1, plan[:4000]
        below = plan[plan.index("ObjectHashAggregate"):]
        assert "Exchange" not in below[: below.index("Window [")], plan[:4000]
        before = acc.value
        assert df.collect(), fn.__name__
        assert acc.value - before == n, fn.__name__
    docs.unpersist()


def test_curation_evaluates_each_text_kernel_once(spark, tmp_path, monkeypatch):
    """One curate_corpus(cache=True), through its CC edge aggregate and
    its manifest write, evaluates the repetition kernel once per
    document and the minhash kernel once per quality survivor."""
    from cvocr_spark.operators import dedup, textstats
    from cvocr_spark.plans.curate import curate_corpus, release

    docs = dedup.with_injected_dups(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    )
    accs = _counting_rows(spark, monkeypatch, "_repetition_row", "_minhash_row")
    m = curate_corpus(docs)
    m.write.parquet(str(tmp_path / "manifest"))
    release(m)
    rep, mh = accs["_repetition_row"].value, accs["_minhash_row"].value
    monkeypatch.undo()
    n_docs = docs.count()
    n_survivors = textstats.corpus_filter(docs).filter("keep").count()
    assert 0 < n_survivors < n_docs
    assert (rep, mh) == (n_docs, n_survivors)
