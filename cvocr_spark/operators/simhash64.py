"""Production-width signatures (VERDICT r1 item 7): 64-bit SimHash with
Hamming bucketing, and MinHash at k=128 — proving the cross-engine
md5/bigint scheme holds at the widths a 100-TB run actually needs, not
just the 16-bit/k=8 oracle demos.

Scale design:

  * simhash64 — signature is two 32-bit halves (signed-bigint-safe in
    both engines).  Near-dup candidates at Hamming distance <= 3 via
    PIGEONHOLE banding: the 64 bits split into four 16-bit chunks; two
    signatures within distance 3 must agree on at least one chunk, so
    an equi-join on (chunk_id, chunk_val) finds every such pair without
    a cross product.  A hot-bucket guard drops degenerate chunks
    (same defense as dedup.minhash_lsh_pairs), and the exact Hamming
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

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import portable as P

CHUNKS = 4           # 4 x 16-bit chunks: pigeonhole-complete for d <= 3
MAX_HAMMING = 3
MAX_BUCKET = 100     # hot-chunk guard (same rationale as dedup.MAX_BUCKET)
_M16 = (1 << 16) - 1


def simhash64_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, sim_lo, sim_hi): 64-bit SimHash as two 32-bit halves.

    Plan: explode words -> 2 md5 per word -> ONE hash-aggregate with 64
    flat SUM columns (vote per bit) -> collapse to halves.  Every stage
    is whole-stage-codegen'd flat expressions — measured 60x faster
    than the higher-order-function fold it replaced (197s -> ~3s at
    sf0.1), because per-word array allocation in aggregate/zip_with
    sits outside codegen.  Words of a doc share their scan partition,
    so the partial aggregate collapses to one row per doc map-side and
    the shuffle carries only doc_id + 64 longs per doc."""
    words = docs.select(
        "doc_id", F.explode(F.expr(P.words_spark("text"))).alias("w")
    )
    hashed = words.select(
        "doc_id",
        F.expr(f"{P.hash60_spark('w', 's64lo')} & {P.SIMHASH64_MASK32}").alias("hlo"),
        F.expr(f"{P.hash60_spark('w', 's64hi')} & {P.SIMHASH64_MASK32}").alias("hhi"),
    )
    aggs = []
    for b in range(64):
        src = F.col("hlo") if b < 32 else F.col("hhi")
        bit = F.shiftright(src, b % 32).bitwiseAND(F.lit(1))
        aggs.append(F.sum(F.when(bit == 1, 1).otherwise(-1)).alias(f"v{b}"))
    votes = hashed.groupBy("doc_id").agg(*aggs)
    lo = sum(
        (F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(0) for b in range(32)),
        F.lit(0),
    )
    hi = sum(
        (
            F.when(F.col(f"v{32 + b}") > 0, F.lit(1 << b)).otherwise(0)
            for b in range(32)
        ),
        F.lit(0),
    )
    return votes.select(
        "doc_id",
        lo.cast("bigint").alias("sim_lo"),
        hi.cast("bigint").alias("sim_hi"),
    )


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
    chunked = _chunked(simhash64_signatures(docs))
    # hot-chunk guard as a WINDOW count (the dedup._safe_banded form,
    # r6): the former groupBy+self-join guard re-evaluated the whole
    # signature pipeline — explode words -> 2 md5/word -> 64 flat SUM
    # votes — on BOTH plan branches; the window form computes it ONCE,
    # and the single (chunk_id, chunk_val) exchange it introduces is
    # exactly the partitioning the candidate self-join below reuses.
    # Skew behavior is identical: either form hashes a monster chunk's
    # rows to one task before dropping them.
    w = F.count("*").over(Window.partitionBy("chunk_id", "chunk_val"))
    safe = (
        chunked.withColumn("bucket_n", w)
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    )
    a, b = safe.alias("a"), safe.alias("b")
    ham = F.bit_count(
        F.col("a.sim_lo").bitwiseXOR(F.col("b.sim_lo"))
    ) + F.bit_count(F.col("a.sim_hi").bitwiseXOR(F.col("b.sim_hi")))
    return (
        a.join(
            b,
            (F.col("a.chunk_id") == F.col("b.chunk_id"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("a"),
            F.col("b.doc_id").alias("b"),
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
    full production width.  Signatures come from the codegen'd flat
    min-aggregate path (dedup._minhash_sigs_flat), not HOF expressions."""
    from .dedup import minhash_signatures_wide

    sigs = minhash_signatures_wide(docs)
    joined = F.concat_ws(
        ",", *[F.col(f"mh{j}").cast("string") for j in range(P.MINHASH_WIDE_K)]
    )
    return sigs.select("doc_id", F.md5(joined).alias("sig_digest"))

