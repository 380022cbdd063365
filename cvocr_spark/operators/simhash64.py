"""Production-width signatures (VERDICT r1 item 7): 64-bit SimHash with
Hamming bucketing, and MinHash at k=128 — proving the cross-engine
md5/bigint scheme holds at the widths a 100-TB run actually needs, not
just the 16-bit/k=8 oracle demos.

Scale design:

  * simhash64 — signature is two 32-bit halves (signed-bigint-safe in
    both engines).  Near-dup candidates at Hamming distance <= 3 via
    PIGEONHOLE banding: the 64 bits split into four 16-bit chunks; two
    signatures within distance 3 must agree on at least one chunk, so
    pairing the members of each (chunk_id, chunk_val) bucket finds
    every such pair without a cross product.  The signatures come from
    the per-document text kernel (doctext.py), the one hot-bucket guard
    (dedup._safe_banded) drops degenerate chunks, one aggregate per
    bucket (dedup._bucket_pairs) pairs the rest, and the exact Hamming
    distance — bit_count(xor) on both halves — verifies candidates.
  * minhash k=128 — one md5 per shingle, halves narrowed to 52 bits so
    h1 + 127*h2 < 2^59 never overflows; the contract query digests the
    128 mins into one md5 so the oracle row stays narrow while still
    pinning every min exactly.

Reference: the signature family grafts the reference's per-patch
feature hashing (cut.h:365-384 similarity guard); widths follow the
standard crawl-dedup configuration (64-bit simhash, k≈128 minhash).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import portable as P
from . import doctext
from .dedup import _bucket_pairs, _safe_banded, minhash_signatures_wide

CHUNKS = 4           # 4 x 16-bit chunks: pigeonhole-complete for d <= 3
MAX_HAMMING = 3
MAX_BUCKET = 100     # hot-chunk guard (same rationale as dedup.MAX_BUCKET)
_M16 = (1 << 16) - 1


def simhash64_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi): 64-bit SimHash as two 32-bit halves.
    Every word votes on each bit of its two salted hash60 halves
    (``s64lo``/``s64hi``); a bit is set iff it wins more than half of
    the votes.  Computed by the per-document text kernel (doctext.py);
    NULL text has no words and gets no row."""
    return doctext.simhash64(docs)


def _chunked(sigs: DataFrame) -> DataFrame:
    chunk_cols = []
    for c in range(CHUNKS):
        half = F.col("sim_lo") if c < 2 else F.col("sim_hi")
        shift = 16 * (c % 2)
        chunk_cols.append(
            F.struct(
                F.lit(c).alias("chunk_id"),
                F.shiftright(half, shift).bitwiseAND(F.lit(_M16)).alias("chunk_val"),
            )
        )
    return sigs.select(
        "doc_id", "sim_lo", "sim_hi",
        F.explode(F.array(*chunk_cols)).alias("ch"),
    ).select("doc_id", "sim_lo", "sim_hi", "ch.chunk_id", "ch.chunk_val")


def simhash64_neardup_pairs(
    docs: DataFrame, max_hamming: int = MAX_HAMMING, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """(a, b, hamming): pairs within Hamming distance max_hamming.
    Pigeonhole-complete for max_hamming <= 3 with 4 chunks (minus any
    buckets the hot-chunk guard dropped)."""
    safe = _safe_banded(
        _chunked(simhash64_signatures(docs)), max_bucket, ("chunk_id", "chunk_val")
    )
    member = F.struct("doc_id", "sim_lo", "sim_hi")
    ham = F.bit_count(F.col("x.sim_lo").bitwiseXOR(F.col("y.sim_lo"))) + F.bit_count(
        F.col("x.sim_hi").bitwiseXOR(F.col("y.sim_hi"))
    )
    return (
        _bucket_pairs(safe, ("chunk_id", "chunk_val"), member)
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            ham.cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash64_neardup_pairs_sql(
    corpus: str = "documents",
    max_hamming: int = MAX_HAMMING,
    max_bucket: int = MAX_BUCKET,
) -> str:
    words = P.words_duck("text")
    chunks = " UNION ALL ".join(
        f"SELECT doc_id, sim_lo, sim_hi, {c} AS chunk_id, "
        f"(({'sim_lo' if c < 2 else 'sim_hi'} >> {16 * (c % 2)}) & {_M16}) AS chunk_val "
        f"FROM sigs"
        for c in range(CHUNKS)
    )
    ham = (
        "cast(bit_count(xor(a.sim_lo, b.sim_lo))"
        " + bit_count(xor(a.sim_hi, b.sim_hi)) as int)"
    )
    return f"""
    WITH corpus AS ({corpus}),
    paired AS (SELECT doc_id, {P.simhash64_pairs_duck(words)} AS hp FROM corpus),
    sigs AS (
      SELECT doc_id,
             {P.simhash64_half_duck('hp', 'lo')} AS sim_lo,
             {P.simhash64_half_duck('hp', 'hi')} AS sim_hi
      FROM paired
    ),
    chunked AS ({chunks}),
    safe AS (
      SELECT doc_id, sim_lo, sim_hi, chunk_id, chunk_val FROM (
        SELECT *, count(*) OVER (PARTITION BY chunk_id, chunk_val) AS bucket_n
        FROM chunked
      ) WHERE bucket_n <= {max_bucket}
    )
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, {ham} AS hamming
    FROM safe a JOIN safe b
      ON a.chunk_id = b.chunk_id AND a.chunk_val = b.chunk_val
     AND a.doc_id < b.doc_id
    WHERE {ham} <= {max_hamming}
    """


# -- minhash at production width k=128 ---------------------------------------


def minhash_k128_digest(docs: DataFrame) -> DataFrame:
    """(doc_id, sig_digest): md5 over all 128 minhash values — a narrow
    row that still pins every min exactly, green against DuckDB at the
    full production width."""
    sigs = minhash_signatures_wide(docs)
    joined = F.concat_ws(
        ",", *[F.col(f"mh{j}").cast("string") for j in range(P.MINHASH_WIDE_K)]
    )
    return sigs.select("doc_id", F.md5(joined).alias("sig_digest"))

