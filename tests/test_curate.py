"""End-to-end curation pipeline: one manifest row per input doc, every
decision explained, deterministic across runs."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvocr_spark.operators import dedup  # noqa: E402
from cvocr_spark.plans.curate import curate_corpus, release  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _manifest(spark):
    docs = dedup.with_injected_dups(
        spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    )
    # eval set: the verbatim text of one corpus doc (guaranteed overlap)
    # plus an unrelated prompt
    ev = spark.createDataFrame(
        [(9001, docs.filter("doc_id = 7").collect()[0]["text"]),
         (9002, "completely unrelated benchmark prompt about orbital mechanics")],
        "doc_id bigint, text string",
    )
    m = curate_corpus(docs, ev)
    rows = m.collect()
    release(m)  # ADVICE r4: drop the cached graded frame after materializing
    return docs, rows


def test_curate_manifest_complete_and_consistent(spark):
    docs, rows = _manifest(spark)
    n = docs.count()
    assert len(rows) == n  # one row per input doc, kept or not
    by_id = {r["doc_id"]: r for r in rows}
    assert len(by_id) == n
    for r in rows:
        if r["keep"]:
            # a kept doc passed every stage and says so
            assert r["drop_reasons"] == ""
            assert r["is_keeper"] and not r["is_contaminated"]
            assert r["split"] in ("train", "eval")
            assert r["scrubbed"] is not None
        else:
            assert r["drop_reasons"] != ""

    # injected exact/near duplicates resolve to one keeper per cluster
    dup_rows = [r for r in rows if r["drop_reasons"] == "duplicate"]
    assert dup_rows, "injected dups must produce duplicate drops"
    for r in dup_rows:
        keeper = by_id[r["cluster_id"]]
        assert keeper["is_keeper"]

    # the doc whose text IS in the eval set gets flagged, not kept
    r7 = by_id[7]
    assert r7["is_contaminated"] or r7["drop_reasons"] != ""
    contaminated = [r for r in rows if r["drop_reasons"] == "contaminated"]
    assert contaminated, "eval-overlap doc must be dropped as contaminated"


def test_curate_deterministic(spark):
    _, a = _manifest(spark)
    _, b = _manifest(spark)
    key = lambda r: r["doc_id"]  # noqa: E731
    assert sorted(map(tuple, a), key=lambda t: t[0]) == sorted(
        map(tuple, b), key=lambda t: t[0]
    )


def test_curate_survives_nasty_corpus(spark):
    """NULL/empty/degenerate texts through the WHOLE composed pipeline
    — one bad row must not kill any stage (the ANSI stage-killer class
    the r3/r4 sweeps hunt), and every input doc must still get a
    manifest row with a decision."""
    rows = [
        (1, None),
        (2, ""),
        (3, " "),
        (4, "one"),
        (5, "x" * 5000),
        (6, "a normal looking document with several plain words in it "
            "and enough of them to pass the shortness gate easily today ok"),
        (7, "a normal looking document with several plain words in it "
            "and enough of them to pass the shortness gate easily today ok"),  # dup of 6
        (8, "!!! ??? ... ,,, ;;; :::"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    ev = spark.createDataFrame(
        [(900, "benchmark prompt that matches nothing in the corpus above")],
        "doc_id bigint, text string",
    )
    m = curate_corpus(docs, ev)
    out = {r["doc_id"]: r for r in m.collect()}
    release(m)
    assert set(out) == {r[0] for r in rows}
    # the exact-duplicate pair resolves to one keeper
    kept = [d for d in (6, 7) if out[d]["keep"]]
    assert len(kept) == 1
    dropped = 7 if kept == [6] else 6
    assert out[dropped]["drop_reasons"] == "duplicate"
    # degenerate docs carry their gate reasons, never crash
    for d in (1, 2, 3, 4, 8):
        assert not out[d]["keep"] and out[d]["drop_reasons"] != ""


def test_curation_manifest_oracle_cross_engine(spark):
    """The composite DuckDB restatement (curation_manifest_sql) must
    reproduce the Spark manifest ROW FOR ROW on the injected-dup fixture
    corpus — the same check the driver's contract slot hash-gates."""
    import duckdb

    from cvocr_spark.plans.curate import curation_manifest_sql

    sf = SF_DIR
    docs = dedup.with_injected_dups(
        spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    )
    ev = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .filter("doc_id % 50 = 7")
        .selectExpr("doc_id + 9000000 AS doc_id", "text")
    )
    m = curate_corpus(docs, ev, cache=False)
    key = lambda d: tuple((k, str(d[k])) for k in sorted(d))  # noqa: E731
    got = sorted(key(r.asDict()) for r in m.collect())

    con = duckdb.connect()
    for t in ("documents",):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    sql = curation_manifest_sql(
        corpus=dedup.injected_dups_sql(),
        eval_docs="SELECT doc_id + 9000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 7",
    )
    want = sorted(
        key(d) for d in con.execute(sql).fetch_arrow_table().to_pylist()
    )
    assert got == want


def test_curate_indexed_path_identical_manifest(spark, tmp_path):
    """VERDICT r4 next #8: the dedup_index_path switch (pair stage
    served from the materialized survivor band table) must produce a
    BYTE-IDENTICAL manifest to the in-plan form, build once per
    corpus generation (second call serves the stored index), and
    rebuild a torn index."""
    docs, rows = _manifest(spark)
    ev = spark.createDataFrame(
        [(9001, docs.filter("doc_id = 7").collect()[0]["text"]),
         (9002, "completely unrelated benchmark prompt about orbital mechanics")],
        "doc_id bigint, text string",
    )
    idx = str(tmp_path / "curate_dedup_idx")
    m = curate_corpus(docs, ev, dedup_index_path=idx)
    rows_idx = m.collect()
    release(m)
    key = lambda r: tuple(map(str, r))  # noqa: E731
    assert sorted(map(key, rows_idx)) == sorted(map(key, rows))
    assert os.path.exists(f"{idx}/_BUILT")

    # second run SERVES the stored index (marker short-circuits the
    # build) and still matches
    mtime = os.path.getmtime(f"{idx}/_BUILT")
    m2 = curate_corpus(docs, ev, dedup_index_path=idx)
    rows2 = m2.collect()
    release(m2)
    assert sorted(map(key, rows2)) == sorted(map(key, rows))
    assert os.path.getmtime(f"{idx}/_BUILT") == mtime  # no rebuild

    # torn index (marker gone) rebuilds rather than serving partial
    import shutil

    os.remove(f"{idx}/_BUILT")
    shutil.rmtree(f"{idx}/bands")
    m3 = curate_corpus(docs, ev, dedup_index_path=idx)
    rows3 = m3.collect()
    release(m3)
    assert sorted(map(key, rows3)) == sorted(map(key, rows))

    # STALE-CORPUS guard (r6, ADVICE r5): same path, CHANGED corpus —
    # the stored fingerprint mismatches, the index rebuilds, and the
    # manifest equals the from-scratch manifest of the NEW corpus
    # (before the guard, stale bands were served silently: the new
    # doc had no band rows, so its dups went undetected)
    extra = spark.createDataFrame(
        [(777, docs.filter("doc_id = 1").collect()[0]["text"])],
        "doc_id bigint, text string",
    )
    docs2 = docs.unionByName(extra)
    m4 = curate_corpus(docs2, ev, dedup_index_path=idx)
    rows4 = m4.collect()
    release(m4)
    m5 = curate_corpus(docs2, ev)  # in-plan ground truth, new corpus
    rows5 = m5.collect()
    release(m5)
    assert sorted(map(key, rows4)) == sorted(map(key, rows5))
    assert any(r["doc_id"] == 777 for r in rows4)


def test_curation_manifest_oracle_nasty_corpus(spark):
    """The composite oracle on the ADVERSARIAL corpus: NULL/empty/
    degenerate texts, PII with overlapping patterns, mixed scripts,
    exact + near dups, an eval-set hit — the parity-trap classes the
    r3/r4 sweeps found (NULL ratios, regexp 'g' flags, CASE over empty
    strings) must agree cross-engine through the WHOLE chained
    restatement, not just the happy-path fixture."""
    import duckdb

    from cvocr_spark.plans.curate import curation_manifest_sql

    # per-doc fillers: a SHARED filler would put the eval doc's 5-gram
    # shingles in every doc and contaminate the whole corpus (found by
    # this test's first draw — correct behavior, wrong fixture)
    fill = lambda tag: " ".join(f"{tag}{i}" for i in range(30))  # noqa: E731
    mail = f"mail me at alice@example.com or at user@192.168.1.10.com {fill('m')}"
    rows = [
        (1, None),
        (2, ""),
        (3, " "),
        (4, "one"),
        (5, "x " * 400),
        (6, mail),
        (7, mail),
        (8, f"汉字文本 and some latin plus и кириллица {fill('s')} extra"),
        (9, f"benchmark sentence that leaks into the eval set verbatim {fill('e')}"),
        (10, "!!! ??? ,,, ;;;"),
        (11, f"a near duplicate of the mail document alice@example.com {fill('m')}"),
    ]
    ev_rows = [(900, rows[8][1])]  # doc 9's text verbatim
    sdf = spark.createDataFrame(rows, "doc_id bigint, text string")
    sev = spark.createDataFrame(ev_rows, "doc_id bigint, text string")
    m = curate_corpus(sdf, sev, cache=False)
    key = lambda d: tuple((k, str(d[k])) for k in sorted(d))  # noqa: E731
    got = sorted(key(r.asDict()) for r in m.collect())

    con = duckdb.connect()
    con.execute("CREATE TABLE nasty_docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO nasty_docs VALUES (?, ?)", rows)
    con.execute("CREATE TABLE evals (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO evals VALUES (?, ?)", ev_rows)
    sql = curation_manifest_sql(
        # table named nasty_docs, NOT "corpus": the chained restatement
        # defines a CTE named corpus (the CTE-shadows-table parity trap)
        corpus="SELECT doc_id, text FROM nasty_docs",
        eval_docs="SELECT doc_id, text FROM evals",
    )
    want = sorted(
        key(d) for d in con.execute(sql).fetch_arrow_table().to_pylist()
    )
    assert got == want
    by_id = {dict(t)["doc_id"]: dict(t) for t in got}
    assert by_id["9"]["drop_reasons"] == "contaminated"
    assert by_id["1"]["drop_reasons"] == "no_text"
    dup_pair = {by_id["6"]["drop_reasons"], by_id["7"]["drop_reasons"]}
    assert dup_pair == {"", "duplicate"}


def test_curate_release_unpersists(spark):
    """ADVICE r4: release() must actually drop the cached graded frame —
    the per-call cached-frame leak class."""
    docs = spark.createDataFrame(
        [(1, "plain words repeated enough to pass every quality gate in "
             "this small corpus with several more distinct tokens today ok")],
        "doc_id bigint, text string",
    )
    m = curate_corpus(docs, None)
    m.collect()
    cached = m._curate_cached
    assert cached and all(df.storageLevel.useMemory for df in cached)
    release(m)
    assert all(not df.storageLevel.useMemory for df in cached)
