"""One per-document text kernel: the features that read a document as its
split words and 3-word shingles — minhash, repetition counts, simhash64
and the fingerprint — each from ONE ``mapInArrow`` pass, one row per
document, no explode and no shuffle.

The rules are the DuckDB oracles' (functions/portable.py).  Words are
``text.split(' ')``, equal to Spark's ``split(text, ' ')`` and DuckDB's
``string_split``.  Shingles follow ``shingles_duck``: NULL text has the
one shingle '', fewer than 3 words give one shingle of the joined
words.  Hashes are md5 of the UTF-8 bytes, read as the hex-digit
windows the oracles cast to bigint.  Ratios, rounding and gates stay
Spark expressions over the kernel's integers.

One output row per input row, so callers pass unique doc_ids (the
``dedup_incremental_pairs`` contract).  NULL text gets no repetition or
simhash row (it has no words), and a minhash and fingerprint row.
``repetition_minhash`` is the curation's one pass: the repetition
counts and the minhash from one words/shingles split, the text passed
through, and a row of NULL features for NULL text.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from functools import partial

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema

from ..session import ensure_shipped

# the repetition counts, in output order
_REPETITION = "n_tokens n_types top_c n_shingles n_distinct_shingles".split()
_MASK32 = np.uint64((1 << 32) - 1)
_BITS32 = np.arange(32, dtype=np.uint64)


def words(text: str) -> list[str]:
    return text.split(" ")


def shingles(text: str | None) -> list[str]:
    return [""] if text is None else _shingles(words(text))


def _shingles(w: list[str]) -> list[str]:
    if len(w) < 3:
        return [" ".join(w)]
    return [f"{a} {b} {c}" for a, b, c in zip(w, w[1:], w[2:])]


def md5s(strings) -> np.ndarray:
    """(n, 2) uint64: each string's md5 digest as big-endian halves."""
    buf = b"".join(hashlib.md5(s.encode()).digest() for s in strings)
    return np.frombuffer(buf, dtype=">u8").astype(np.uint64).reshape(-1, 2)


def _hex_int(d: np.ndarray, off: int, n: int) -> np.ndarray:
    """int64 of hex digits ``off .. off+n-1`` (0-based) of each digest
    in ``d`` — SQL's bigint cast of ``substr(md5(s), off + 1, n)``."""
    end = 4 * (off + n)  # bits from the top of the 128-bit digest
    hi, lo = d[:, 0], d[:, 1]
    if end <= 64:
        v = hi >> np.uint64(64 - end)
    else:
        v = (hi << np.uint64(end - 64)) | (lo >> np.uint64(128 - end))
    return (v & np.uint64((1 << 4 * n) - 1)).astype(np.int64)


def _minhash(distinct: set[str], k: int, width: int) -> list[int]:
    """mh_j = min over the distinct shingles of h1 + j*h2, h1 and h2 the
    ``width``-hex halves of the shingle's md5."""
    d = md5s(distinct)
    h1, h2 = _hex_int(d, 0, width), _hex_int(d, width, width)
    return (h1[:, None] + h2[:, None] * np.arange(k)).min(axis=0).tolist()


def _minhash_row(text, k: int, width: int):
    return _minhash(set(shingles(text)), k, width)


def _counts(w: list[str], s: list[str], distinct: set[str]) -> tuple[int, ...]:
    c = Counter(w)
    return len(w), len(c), max(c.values()), len(s), len(distinct)


def _repetition_row(text):
    if text is None:
        return None
    w = words(text)
    s = _shingles(w)
    return _counts(w, s, set(s))


def _repetition_minhash_row(text, k: int, width: int):
    if text is None:
        return (None,) * (len(_REPETITION) + k)
    w = words(text)
    s = _shingles(w)
    distinct = set(s)
    return *_counts(w, s, distinct), *_minhash(distinct, k, width)


def _simhash_half(w: list[str], salt: str) -> int:
    """Bit b is set iff more than half of the words'
    ``hash60(salt:w) & 0xffffffff`` have it."""
    h = _hex_int(md5s(f"{salt}:{x}" for x in w), 0, 15).astype(np.uint64) & _MASK32
    ones = ((h[:, None] >> _BITS32) & np.uint64(1)).sum(axis=0)
    return int(np.left_shift(1, np.flatnonzero(2 * ones > len(w))).sum())


def _simhash64_row(text):
    if text is None:
        return None
    w = words(text)
    return _simhash_half(w, "s64lo"), _simhash_half(w, "s64hi")


def _fingerprint_row(text):
    d = md5s(set(shingles(text)))
    hi, lo = d[np.lexsort((d[:, 1], d[:, 0]))[0]]
    return (f"{int(hi):016x}{int(lo):016x}",)


def _map(
    docs: DataFrame, fields: list[tuple[str, T.DataType]], row, with_text: bool = False
) -> DataFrame:
    """The one batch driver: (doc_id, text) -> (doc_id, *fields), one
    row per text from ``row(text)``; a None row drops the document.
    ``with_text`` passes the text through after doc_id."""
    ensure_shipped(docs.sparkSession)
    slim = docs.select("doc_id", "text")
    through = ["doc_id", "text"] if with_text else ["doc_id"]
    schema = T.StructType(
        [*(slim.schema[c] for c in through), *(T.StructField(n, t) for n, t in fields)]
    )
    arrow = to_arrow_schema(schema)

    def run(batches):
        for rb in batches:
            rows = [row(t) for t in rb.column("text").to_pylist()]
            kept = [r for r in rows if r is not None]
            cols = list(zip(*kept)) if kept else [()] * len(fields)
            mask = pa.array([r is not None for r in rows])
            passed = [rb.column(c).filter(mask) for c in through]
            arrays = [pa.array(c, f.type) for c, f in zip(cols, list(arrow)[len(through):])]
            yield pa.RecordBatch.from_arrays([*passed, *arrays], schema=arrow)

    return slim.mapInArrow(run, schema)


def minhash(docs: DataFrame, k: int, width: int) -> DataFrame:
    """(doc_id, mh0 .. mh{k-1}) bigint."""
    fields = [(f"mh{j}", T.LongType()) for j in range(k)]
    return _map(docs, fields, partial(_minhash_row, k=k, width=width))


def repetition(docs: DataFrame) -> DataFrame:
    """(doc_id, text, n_tokens, n_types, top_c, n_shingles,
    n_distinct_shingles): word count, distinct words, count of the most
    frequent word, shingle count, distinct shingles (bigint), with the
    text passed through for the gates that also read it."""
    return _map(docs, [(n, T.LongType()) for n in _REPETITION], _repetition_row, True)


def repetition_minhash(docs: DataFrame, k: int, width: int) -> DataFrame:
    """(doc_id, text, <repetition counts>, mh0 .. mh{k-1}) bigint, one
    row per document: ``repetition`` and ``minhash`` from one pass, and
    NULL counts and minhashes for NULL text."""
    fields = [(n, T.LongType()) for n in _REPETITION] + [(f"mh{j}", T.LongType()) for j in range(k)]
    return _map(docs, fields, partial(_repetition_minhash_row, k=k, width=width), True)


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi) bigint."""
    return _map(docs, [("sim_lo", T.LongType()), ("sim_hi", T.LongType())], _simhash64_row)


def fingerprint(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint): the min md5 hex over the shingles."""
    return _map(docs, [("fingerprint", T.StringType())], _fingerprint_row)
