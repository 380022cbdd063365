"""Cross-engine equality of the portable expression builders
(functions/portable.py) on ADVERSARIAL unicode — every DuckDB oracle in
the contract rests on these primitives agreeing bit-for-bit, and the
synthetic corpus is ASCII-ish, so the nasty cases (RTL, astral plane,
NFC/NFD, Turkish dotted I, embedded controls) are otherwise untested."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvocr_spark.functions import portable as P  # noqa: E402

ADVERSARIAL = [
    None,  # concat-vs-|| NULL divergence trap (see hash60_duck docstring)
    "",
    " ",
    "   ",
    "\t\nmixed whitespace\r\n",
    "plain ascii words here",
    "a",
    "a b",
    "a b c",
    "a b c d e",
    "word " * 2000,  # 10k chars, long-input path
    "中文 文本 分词 测试 样例",  # CJK
    "مرحبا بالعالم هذا نص عربي",  # Arabic RTL
    "שלום עולם זה טקסט עברי",  # Hebrew RTL
    "עברית and english מעורב text",  # mixed direction
    "café résumé naïve",  # NFC composed
    "café résumé naïve",  # NFD decomposed (differs!)
    "İstanbul ısparta DİYARBAKIR",  # Turkish dotted/dotless I
    "straße STRASSE ß",
    "emoji 😀 🚀 👨‍👩‍👧‍👦 test",  # astral plane + ZWJ sequence
    "math 𝕌𝕟𝕚𝕔𝕠𝕕𝕖 chars",
    "combining à́̂ marks",
    "zero​width‌joined‍words",
    "control\x01chars\x02embedded\x03",
    "quote's \"and\" `backtick` $dollar %percent",
    "trailing space ",
    " leading space",
    "double  space  between",
    "ｆｕｌｌｗｉｄｔｈ　ｌａｔｉｎ",  # fullwidth forms + ideographic space
    "ЕДИНИЦА кириллица текст",
    "Ελληνικά κείμενο δοκιμή",
]


@pytest.fixture(scope="module")
def frames(spark):
    rows = [(i, s) for i, s in enumerate(ADVERSARIAL)]
    sdf = spark.createDataFrame(rows, "id int, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t (id INTEGER, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    return sdf, con


def test_hash60_cross_engine(frames):
    sdf, con = frames
    import pyspark.sql.functions as F

    got = {
        r["id"]: (r["h"], r["hs"])
        for r in sdf.select(
            "id",
            F.expr(P.hash60_spark("text")).alias("h"),
            F.expr(P.hash60_spark("text", "salt")).alias("hs"),
        ).collect()
    }
    want = {
        i: (h, hs)
        for i, h, hs in con.execute(
            f"SELECT id, {P.hash60_duck('text')}, "
            f"{P.hash60_duck('text', 'salt')} FROM t"
        ).fetchall()
    }
    assert got == want


def test_words_and_shingles_cross_engine(frames):
    """The per-document text kernel's word split and 3-word shingle
    builder equal DuckDB's ``words_duck`` / ``shingles_duck``."""
    from cvocr_spark.operators import doctext

    sdf, con = frames
    got = {
        r["id"]: (
            None if r["text"] is None else doctext.words(r["text"]),
            doctext.shingles(r["text"]),
        )
        for r in sdf.collect()
    }
    w_d = P.words_duck("text")
    want = {
        i: (w, sh)
        for i, w, sh in con.execute(
            f"SELECT id, {w_d}, {P.shingles_duck(w_d)} FROM t"
        ).fetchall()
    }
    assert got == want


def test_ngrams_cross_engine_adversarial(frames):
    """The r4 n-word shingle builder (decontamination) must agree on
    the adversarial corpus exactly like the fixed 3-word builder."""
    import pyspark.sql.functions as F

    from cvocr_spark.operators import decontam

    sdf, con = frames
    for n in (2, 5):
        expr = decontam.ngrams_spark(P.words_spark("text"), n)
        got = {
            r["id"]: r["g"]
            for r in sdf.select("id", F.expr(expr).alias("g")).collect()
        }
        want = {
            i: g
            for i, g in con.execute(
                f"SELECT id, {decontam.ngrams_duck(P.words_duck('text'), n)} FROM t"
            ).fetchall()
        }
        assert got == want, f"n={n}"


def test_quantize_cross_engine(spark):
    """The r4 milli-quantizer (exact-integer ANN scoring) must round
    identically in both engines, including negative halves and values
    whose shortest decimal repr sits near a .5 boundary."""
    import duckdb as _d
    import pyspark.sql.functions as F

    vals = [
        [0.0015, -0.0015, 0.00249999999, -0.5, 0.5, 1.0, -1.0,
         0.1234567, -0.9999995, 2.6749999999999998, 0.0005, -0.0005],
    ]
    sdf = spark.createDataFrame([(1, vals[0])], "id int, embedding array<float>")
    got = sdf.select(F.expr(P.quantize_spark("embedding")).alias("q")).collect()[0]["q"]
    con = _d.connect()
    con.execute("CREATE TABLE t2 (id INTEGER, embedding FLOAT[])")
    con.execute("INSERT INTO t2 VALUES (1, ?)", [vals[0]])
    want = con.execute(f"SELECT {P.quantize_duck('embedding')} FROM t2").fetchone()[0]
    assert got == want, (got, want)
