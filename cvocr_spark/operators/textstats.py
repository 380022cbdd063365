"""Text-analysis operators over the documents table — the
training-data-pipeline extensions: token counting, quality scoring,
language-ID heuristic, document fingerprinting (SURVEY §2c F5 scalar
functions, grown into first-class column ops).

Per-row features are column expressions (JVM-side, whole-stage
codegen); the shingle features (fingerprint, repetition counts) come
from the per-document text kernel (doctext.py), with ratios and gates
as column expressions over its integers.  Each operator has an exact
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P
from . import doctext

_STOP_DUCK = "[" + ", ".join(f"'{w}'" for w in P.STOPWORDS) + "]"

# stopword-token count as ONE codegen regexp_count instead of the
# interpreted filter(split(...), w -> array_contains(...)) HOF it
# replaces (r6; the expression class this repo bans from per-row hot
# paths).  A token of split(text, ' ') equals a stopword iff the word
# appears bounded by start-of-input/space on the left and
# space/end-of-input on the right; the right bound is a LOOKAHEAD so
# adjacent stopwords ('the the') each match, and it uses \z (not $ —
# Java's $ also matches before a final newline, which would count a
# trailing 'the\n' token that split() keeps as 'the\n' != 'the').
# NULL text -> NULL, same as size(filter(split(NULL))) under ANSI.
_STOP_RE = "(^| )(" + "|".join(P.STOPWORDS) + ")(?=( |\\z))"


def _n_stop(col: str = "text"):
    return F.regexp_count(F.col(col), F.lit(_STOP_RE))


def token_stats(docs: DataFrame) -> DataFrame:
    """Token counting: whitespace tokens, distinct types, mean token
    length — integer arithmetic, one double division at the end."""
    words = F.split("text", " ")
    n_tokens = F.size(words)
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        F.size(F.array_distinct(words)).alias("n_types"),
        F.round(
            (F.length("text") - n_tokens + 1).cast("double") / n_tokens, 4
        ).alias("mean_tok_len"),
    )


TOKEN_STATS_SQL = """
SELECT doc_id,
       cast(length(string_split(text, ' ')) as int) AS n_tokens,
       cast(length(list_distinct(string_split(text, ' '))) as int) AS n_types,
       round(cast(length(text) - length(string_split(text, ' ')) + 1 as double)
             / length(string_split(text, ' ')), 4) AS mean_tok_len
FROM documents
"""


def quality_score(docs: DataFrame) -> DataFrame:
    """Quality scoring: length + stopword + type/token ratios composed
    into one deterministic score (the graft of the reference's patch
    shape-quality predicate, cut.h:324-356)."""
    words = F.split("text", " ")
    n_tokens = F.size(words).cast("double")
    n_stop = _n_stop()
    stop_ratio = n_stop / n_tokens
    type_ratio = F.size(F.array_distinct(words)) / n_tokens
    len_score = F.least(F.lit(1.0), n_tokens / 100.0)
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(type_ratio, 4).alias("type_ratio"),
        F.round(0.5 * len_score + 0.3 * (1.0 - stop_ratio) + 0.2 * type_ratio, 4).alias(
            "quality"
        ),
    )


def quality_score_sql(corpus: str = "SELECT * FROM documents") -> str:
    """Parameterized over the input corpus (the composite curation
    oracle feeds quality survivors of an injected-dup corpus, not the
    raw documents table)."""
    return f"""
WITH x AS (
  SELECT doc_id,
         cast(length(string_split(text, ' ')) as double) AS n_tokens,
         cast(length(list_filter(string_split(text, ' '),
                                 w -> list_contains({_STOP_DUCK}, w))) as double) AS n_stop,
         cast(length(list_distinct(string_split(text, ' '))) as double) AS n_types
  FROM ({corpus})
)
SELECT doc_id,
       round(n_stop / n_tokens, 4) AS stop_ratio,
       round(n_types / n_tokens, 4) AS type_ratio,
       round(0.5 * least(1.0, n_tokens / 100.0)
             + 0.3 * (1.0 - n_stop / n_tokens)
             + 0.2 * (n_types / n_tokens), 4) AS quality
FROM x
"""


QUALITY_SCORE_SQL = quality_score_sql()


def lang_id(docs: DataFrame) -> DataFrame:
    """Language-ID heuristic: marker-word + vowel-ratio + word-length
    features through a deterministic rule cascade (C1-shaped)."""
    words = F.split("text", " ")
    n_tokens = F.size(words).cast("double")
    n_stop = _n_stop()
    stop_ratio = n_stop / n_tokens
    mean_wlen = (F.length("text") - n_tokens + 1) / n_tokens
    vowels = F.length("text") - F.length(F.regexp_replace("text", "[aeiou]", ""))
    # nullif: empty text has length 0 — under ANSI mode (Spark 4
    # default) the bare division THROWS and one empty doc kills the
    # whole stage at crawl scale (DuckDB silently yields inf — a
    # cross-engine divergence besides).  NULL ratio falls through the
    # guess cascade to 'other' on both engines.
    vowel_ratio = vowels / F.nullif(F.length("text").cast("double"), F.lit(0.0))
    guess = (
        F.when(stop_ratio > 0.12, F.lit("en"))
        .when(mean_wlen > 4.6, F.lit("de"))
        .when(vowel_ratio > 0.28, F.lit("es"))
        .otherwise(F.lit("other"))
    )
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 4).alias("stop_ratio"),
        F.round(mean_wlen, 4).alias("mean_wlen"),
        F.round(vowel_ratio, 4).alias("vowel_ratio"),
        guess.alias("guess"),
    )


LANG_ID_SQL = f"""
WITH x AS (
  SELECT doc_id, text,
         cast(length(string_split(text, ' ')) as double) AS n_tokens,
         cast(length(list_filter(string_split(text, ' '),
                                 w -> list_contains({_STOP_DUCK}, w))) as double) AS n_stop,
         cast(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) as double) AS vowels
  FROM documents
)
SELECT doc_id,
       round(n_stop / n_tokens, 4) AS stop_ratio,
       round((length(text) - n_tokens + 1) / n_tokens, 4) AS mean_wlen,
       round(vowels / nullif(length(text), 0), 4) AS vowel_ratio,
       CASE WHEN n_stop / n_tokens > 0.12 THEN 'en'
            WHEN (length(text) - n_tokens + 1) / n_tokens > 4.6 THEN 'de'
            WHEN vowels / nullif(length(text), 0) > 0.28 THEN 'es'
            ELSE 'other' END AS guess
FROM x
"""


def doc_fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprinting: min-hash over rolling 3-word shingles
    (a 1-permutation minhash == rolling-hash fingerprint), from the
    per-document text kernel (tests/test_plans.py pins the one-Arrow-
    stage plan)."""
    return doctext.fingerprint(docs)


def doc_fingerprint_sql() -> str:
    words = P.words_duck("text")
    sh = P.shingles_duck(words)
    return (
        f"SELECT doc_id, list_min(list_transform({sh}, s -> md5(s))) AS fingerprint "
        "FROM documents"
    )


def repetition_stats(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition signals per document — the quality
    filters a pretraining pipeline runs after extraction:

      * distinct_word_ratio — types / tokens (low => template/spam)
      * top_word_fraction   — most frequent word / tokens
      * dup_trigram_fraction — 1 - distinct 3-shingles / total shingles
        (the "duplicate n-gram fraction" repetition filter)

    The integer counts come from the per-document text kernel
    (doctext.py, one Arrow pass); the ratios are column expressions.
    NULL text has no words and gets no row.
    """
    return doctext.repetition(docs).select(
        "doc_id",
        F.col("n_tokens").cast("int").alias("n_tokens"),
        F.round(F.col("n_types") / F.col("n_tokens"), 4).alias("distinct_word_ratio"),
        F.round(F.col("top_c") / F.col("n_tokens"), 4).alias("top_word_fraction"),
        F.round(
            1.0 - F.col("n_distinct_shingles") / F.col("n_shingles"), 4
        ).alias("dup_trigram_fraction"),
    )


def repetition_stats_sql(corpus: str = "SELECT * FROM documents") -> str:
    words = P.words_duck("text")
    shingles = P.shingles_duck(words)
    return f"""
    WITH corpus AS ({corpus}),
    w AS (SELECT doc_id, unnest({words}) AS w FROM corpus),
    wc AS (SELECT doc_id, w, count(*) AS c FROM w GROUP BY doc_id, w),
    word_stats AS (
      SELECT doc_id, sum(c) AS n_tokens, count(*) AS n_types, max(c) AS top_c
      FROM wc GROUP BY doc_id
    ),
    s AS (SELECT doc_id, unnest({shingles}) AS s FROM corpus),
    sc AS (SELECT doc_id, s, count(*) AS c FROM s GROUP BY doc_id, s),
    shingle_stats AS (
      SELECT doc_id, sum(c) AS n_shingles, count(*) AS n_distinct_shingles
      FROM sc GROUP BY doc_id
    )
    SELECT word_stats.doc_id,
           cast(n_tokens as int) AS n_tokens,
           round(cast(n_types as double) / n_tokens, 4) AS distinct_word_ratio,
           round(cast(top_c as double) / n_tokens, 4) AS top_word_fraction,
           round(1.0 - cast(n_distinct_shingles as double) / n_shingles, 4)
             AS dup_trigram_fraction
    FROM word_stats JOIN shingle_stats ON word_stats.doc_id = shingle_stats.doc_id
    """


# -- composite corpus filter (the decision a pretraining pipeline ships) -----

FILTER_MIN_QUALITY = 0.5
FILTER_MAX_DUP_TRIGRAM = 0.3
FILTER_MAX_TOP_WORD = 0.2
FILTER_MIN_TOKENS = 20


def corpus_filter(docs: DataFrame) -> DataFrame:
    """The composed keep/drop decision over all text-quality gates —
    what a training-data pipeline actually wires after extraction:
    length + quality score + repetition filters, with the failed gates
    named per doc (deterministic ','-joined reason string).  One join
    of the two per-doc stat frames; all gates JVM expressions."""
    q = quality_score(docs).select("doc_id", "quality")
    r = repetition_stats(docs)
    checks = [
        ("short", F.col("n_tokens") < FILTER_MIN_TOKENS),
        ("low_quality", F.col("quality") < FILTER_MIN_QUALITY),
        ("repetitive", F.col("dup_trigram_fraction") > FILTER_MAX_DUP_TRIGRAM),
        ("top_heavy", F.col("top_word_fraction") > FILTER_MAX_TOP_WORD),
    ]
    reasons = F.concat_ws(
        ",", *[F.when(cond, F.lit(name)) for name, cond in checks]
    )
    return (
        q.join(r, "doc_id")
        .select(
            "doc_id",
            "quality",
            "dup_trigram_fraction",
            reasons.alias("drop_reasons"),
        )
        .withColumn("keep", F.col("drop_reasons") == "")
    )


def corpus_filter_sql(corpus: str = "SELECT * FROM documents") -> str:
    rep = repetition_stats_sql(corpus)
    # ONE source of truth for the gate list: keep is derived from the
    # same interpolated expression as drop_reasons, so tuning a gate can
    # never desynchronize the two columns (ADVICE r2)
    reasons = f"""concat_ws(',',
             CASE WHEN r.n_tokens < {FILTER_MIN_TOKENS} THEN 'short' END,
             CASE WHEN q.quality < {FILTER_MIN_QUALITY} THEN 'low_quality' END,
             CASE WHEN r.dup_trigram_fraction > {FILTER_MAX_DUP_TRIGRAM} THEN 'repetitive' END,
             CASE WHEN r.top_word_fraction > {FILTER_MAX_TOP_WORD} THEN 'top_heavy' END
           )"""
    return f"""
    WITH q AS ({quality_score_sql(corpus)}),
    r AS ({rep})
    SELECT doc_id, quality, dup_trigram_fraction, drop_reasons,
           drop_reasons = '' AS keep
    FROM (
      SELECT q.doc_id, q.quality, r.dup_trigram_fraction,
             {reasons} AS drop_reasons
      FROM q JOIN r ON q.doc_id = r.doc_id
    )
    """
