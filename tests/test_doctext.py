"""The per-document text kernel (operators/doctext.py) against the DuckDB
oracle forms: minhash (k=8 and k=128), repetition stats, simhash64 and
the fingerprint must be value-equal on adversarial texts — runs of
spaces, tabs and newlines, NULL, '', 1-2 words, dotted capital I and
CJK (hypothesis draws the corpora)."""

from __future__ import annotations

import os
import sys

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvocr_spark.functions import portable as P  # noqa: E402
from cvocr_spark.operators import dedup, simhash64, textstats  # noqa: E402

TOKENS = ["a", "b", "the", "İ", "ı", "日本語", "中文", "x\ty", "\n", "\t", "", " ", "é"]
TEXTS = st.one_of(st.none(), st.lists(st.sampled_from(TOKENS), max_size=12).map(" ".join))

_WORDS = P.words_duck("text")
_SHINGLES = f"list_distinct({P.shingles_duck(_WORDS)})"
_MH8 = ", ".join(
    f"{e} AS mh{j}" for j, e in enumerate(P.minhash_from_pairs_duck("mhp", dedup.MINHASH_K))
)
MINHASH_SQL = f"""
SELECT doc_id, {_MH8}
FROM (SELECT doc_id, {P.minhash_pairs_duck(_SHINGLES)} AS mhp FROM documents)
"""
MINHASH_WIDE_SQL = f"""
SELECT doc_id,
       list_transform(range(0, {P.MINHASH_WIDE_K}), j ->
         list_min(list_transform(mhp, p -> p.h1 + j * p.h2))) AS m
FROM (SELECT doc_id, {P.minhash_pairs_wide_duck(_SHINGLES)} AS mhp FROM documents)
"""
# NULL text has no words: the kernel emits no simhash row for it
SIMHASH_SQL = f"""
SELECT doc_id, {P.simhash64_half_duck('hp', 'lo')} AS sim_lo,
       {P.simhash64_half_duck('hp', 'hi')} AS sim_hi
FROM (SELECT doc_id, {P.simhash64_pairs_duck(_WORDS)} AS hp
      FROM documents WHERE text IS NOT NULL)
"""


def _rows(rows) -> list[tuple]:
    return sorted(tuple(r) for r in rows)


@settings(max_examples=10, deadline=None)
@given(st.lists(TEXTS, min_size=1, max_size=8))
def test_kernel_features_equal_duckdb(spark, texts):
    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)

    def duck(sql: str) -> list[tuple]:
        return _rows(con.execute(sql).fetchall())

    assert _rows(dedup.minhash_signatures(docs).collect()) == duck(MINHASH_SQL)
    wide = dedup.minhash_signatures_wide(docs).collect()
    assert _rows((r[0], list(r[1:])) for r in wide) == duck(MINHASH_WIDE_SQL)
    rep = textstats.repetition_stats(docs)
    cols = ", ".join(rep.columns)
    assert _rows(rep.collect()) == duck(
        f"SELECT {cols} FROM ({textstats.repetition_stats_sql()})"
    )
    assert _rows(simhash64.simhash64_signatures(docs).collect()) == duck(SIMHASH_SQL)
    assert _rows(textstats.doc_fingerprint(docs).collect()) == duck(
        textstats.doc_fingerprint_sql()
    )
    con.close()
