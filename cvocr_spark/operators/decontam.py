"""Eval-set decontamination — the n-gram overlap check every serious
pretraining pipeline runs before a split ships: a training document
that contains any n-word shingle of an evaluation document leaks the
benchmark, and the flag must be computed at corpus scale.

Plan shape: both sides shingle with the SAME portable n-gram builder,
hash to the portable 60-bit integer, and meet in a LEFT SEMI join on
the hash — the eval side is tiny by construction (benchmarks are
thousands of docs, not billions) so Catalyst broadcasts it and the
corpus side never shuffles; the corpus-side explode is linear and
feeds a distinct-by-doc semi-join result.  No HOF evaluates per
shingle: hashing happens AFTER explode in codegen.  Cross-engine
pinned in tests/test_decontam.py.

Reference analogue: the golden-comparison join (C5, extract.py:16-23)
— there comparing extraction to truth per line, here comparing a
corpus against a held-out set per n-gram.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P

NGRAM_N = 5  # overlap width; 13 is the common production value, 5
# keeps the fixture tests meaningful (docs are short)


def ngrams_spark(words: str, n: int) -> str:
    """n-word shingles (generalizes the 3-word portable builder);
    fewer than n words -> empty array (a too-short doc has no n-grams,
    and absence is handled by the flag join, not row padding)."""
    return (
        f"case when size({words}) >= {n} then "
        f"transform(sequence(1, size({words}) - {n} + 1), "
        f"i -> concat_ws(' ', slice({words}, i, {n}))) "
        f"else array() end"
    )


def ngrams_duck(words: str, n: int) -> str:
    return (
        f"case when len({words}) >= {n} then "
        f"list_transform(range(1, len({words}) - {n} + 2), "
        f"i -> array_to_string({words}[i:i+{n - 1}], ' ')) "
        f"else [] end"
    )


def decontaminate(
    docs: DataFrame, eval_docs: DataFrame, n: int = NGRAM_N
) -> DataFrame:
    """(doc_id, is_contaminated): True iff the document shares at least
    one n-word shingle with ANY eval document.  NULL/short texts are
    never contaminated (no n-grams)."""
    h = P.hash60_spark("g")

    def grams(df: DataFrame) -> DataFrame:
        w = P.words_spark("text")
        return df.select(
            "doc_id", F.explode(F.expr(ngrams_spark(w, n))).alias("g")
        ).select("doc_id", F.expr(h).alias("gh"))

    # the eval set is small BY CONSTRUCTION (benchmarks, not crawls) —
    # broadcast explicitly so the corpus side never shuffles on gram
    # hash even when source stats are missing (plan-pinned)
    eval_grams = F.broadcast(grams(eval_docs).select("gh").distinct())
    hits = (
        grams(docs)
        .join(eval_grams, "gh", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_contaminated", F.lit(True))
    )
    return docs.select("doc_id").join(hits, "doc_id", "left").select(
        "doc_id", F.coalesce("is_contaminated", F.lit(False)).alias("is_contaminated")
    )


def decontaminate_sql(docs: str, eval_docs: str, n: int = NGRAM_N) -> str:
    h = P.hash60_duck("g")
    w = P.words_duck("text")
    g = ngrams_duck(w, n)
    return f"""
    WITH d AS ({docs}), e AS ({eval_docs}),
    eg AS (
      SELECT DISTINCT {h} AS gh
      FROM (SELECT unnest({g}) AS g FROM e)
    ),
    dg AS (
      SELECT doc_id, {h} AS gh
      FROM (SELECT doc_id, unnest({g}) AS g FROM d)
    ),
    hits AS (
      SELECT DISTINCT doc_id FROM dg
      WHERE EXISTS (SELECT 1 FROM eg WHERE eg.gh = dg.gh)
    )
    SELECT d.doc_id,
           (hits.doc_id IS NOT NULL) AS is_contaminated
    FROM d LEFT JOIN hits ON d.doc_id = hits.doc_id
    """
