"""Portable expression builders: the same deterministic computation as a
Spark SQL expression string AND a DuckDB SQL expression string.

The driver's correctness gate (CORRECTNESS_r{N}.json) compares Spark
results against DuckDB oracles by value-hash, so every cross-engine
function here must be EXACTLY reproducible in both dialects — the
reason everything hash-like is built on md5 hex (identical in both)
parsed into a 60-bit integer, never on engine-native hash functions
(Spark xxhash64 and DuckDB hash() disagree).

Why 15 hex digits: 60 bits < 63, so the parse can never overflow a
signed bigint under Spark's ANSI mode (default-on in Spark 4).
"""

from __future__ import annotations

STOPWORDS = ("the", "a", "of", "to", "and", "in")


def hash60_spark(s: str, salt: str | None = None) -> str:
    """Spark SQL: 60-bit integer from md5 of expression `s`."""
    inner = f"concat('{salt}:', {s})" if salt is not None else s
    return f"cast(conv(substr(md5({inner}), 1, 15), 16, 10) as bigint)"


def hash60_duck(s: str, salt: str | None = None) -> str:
    """DuckDB SQL: same 60-bit integer (hex literal cast).  The salt
    prefix uses ``||`` (NULL-propagating) rather than ``concat``:
    DuckDB's concat treats NULL as '' while Spark's returns NULL, so a
    concat-salted hash would silently hash NULL keys as the empty
    string and diverge from Spark (caught by the HLL null-key test)."""
    inner = f"('{salt}:' || {s})" if salt is not None else s
    return f"cast('0x' || substr(md5({inner}), 1, 15) as bigint)"


# -- tokenization ------------------------------------------------------------

def words_spark(col: str = "text") -> str:
    return f"split({col}, ' ')"


def words_duck(col: str = "text") -> str:
    return f"string_split({col}, ' ')"


# -- 3-word shingles (document fingerprinting / minhash base) ---------------
# DuckDB lists are 1-based; the size<3 guard keeps range() bounds valid.
# The Spark side builds shingles in the per-document text kernel
# (operators/doctext.py), with the same NULL/empty/short rules.

def shingles_duck(words: str) -> str:
    # coalesce in the else branch: NULL text -> NULL words -> Spark's
    # concat_ws yields '' there while array_to_string yields NULL;
    # both engines must agree on [''] (NULL text behaves like empty)
    return (
        f"case when length({words}) >= 3 then "
        f"list_transform(range(1, length({words}) - 1), "
        f"i -> concat({words}[i], ' ', {words}[i + 1], ' ', {words}[i + 2])) "
        f"else [coalesce(array_to_string({words}, ' '), '')] end"
    )


# -- minhash signature component (k hash functions via double hashing) ------
# ONE md5 per shingle: split the 32-hex digest into two 56-bit halves
# (h1 = hex[0:14], h2 = hex[14:28]) and derive hash_j = h1 + j*h2.
# Max value h1 + (k-1)*h2 < 2^56 * k — safe in bigint for k <= 63 under
# ANSI mode.  8x fewer md5 calls than salting the hash per function.
# The Spark side computes signatures in the per-document text kernel
# (operators/doctext.py); the list forms below are the DuckDB oracle's.


def minhash_pairs_duck(shingles: str) -> str:
    return (
        f"list_transform({shingles}, s -> "
        f"{{'h1': {hn_duck('md5(s)', 1, 14)}, 'h2': {hn_duck('md5(s)', 15, 14)}}})"
    )


def minhash_from_pairs_duck(pairs_col: str, k: int) -> list[str]:
    return [
        f"list_min(list_transform({pairs_col}, p -> p.h1 + {j}::bigint * p.h2))"
        for j in range(k)
    ]


# -- production-width minhash (k up to 128) ----------------------------------
# The 14-hex (56-bit) halves above cap k at 63 under signed-bigint ANSI
# math (h1 + (k-1)*h2 < 2^56 * k).  For k=128 use 13-hex (52-bit)
# halves: max h1 + 127*h2 < 2^52 * 128 = 2^59 — safe in both engines.

MINHASH_WIDE_K = 128


def minhash_pairs_wide_duck(shingles: str) -> str:
    return (
        f"list_transform({shingles}, s -> "
        f"{{'h1': {hn_duck('md5(s)', 1, 13)}, 'h2': {hn_duck('md5(s)', 14, 13)}}})"
    )


def hn_duck(hexpr: str, off: int, n: int) -> str:
    return f"cast('0x' || substr({hexpr}, {off}, {n}) as bigint)"


# -- 64-bit simhash as two 32-bit halves (bigint-safe in both engines) -------
# Two salted md5s per word (lo/hi), 32 bits each, one +-1 vote per word
# per bit.  The Spark side counts the votes in the per-document text
# kernel (operators/doctext.py); the DuckDB oracle states them as 64
# independent list_sums — different plan, identical values.

SIMHASH64_MASK32 = (1 << 32) - 1


def simhash64_pairs_duck(words: str) -> str:
    lo = hash60_duck("w", "s64lo")
    hi = hash60_duck("w", "s64hi")
    return (
        f"list_transform({words}, w -> "
        f"{{'lo': ({lo} & {SIMHASH64_MASK32}), 'hi': ({hi} & {SIMHASH64_MASK32})}})"
    )


def simhash64_half_duck(pairs_col: str, half: str) -> str:
    """32-bit half from 32 independent vote sums (oracle-side; values
    identical to the Spark fold)."""
    terms = []
    for b in range(32):
        src = f"h.{half}"
        vote = (
            f"list_sum(list_transform({pairs_col}, h -> "
            f"case when (({src} >> {b}) & 1) = 1 then 1 else -1 end))"
        )
        terms.append(f"(case when {vote} > 0 then {1 << b}::bigint else 0::bigint end)")
    return "(" + " + ".join(terms) + ")"


# -- cosine similarity over array<float> embeddings --------------------------
# Left-to-right folds in both engines over doubles => bit-identical sums.

def dot_spark(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0 as double), (acc, v) -> acc + v)"
    )


def norm_spark(a: str) -> str:
    return (
        f"sqrt(aggregate({a}, cast(0 as double), "
        f"(acc, x) -> acc + cast(x as double) * cast(x as double)))"
    )


def cosine_spark(a: str, b: str) -> str:
    return f"({dot_spark(a, b)} / nullif({norm_spark(a)} * {norm_spark(b)}, 0.0d))"


def dot_duck(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(cast(0 as double), "
        f"list_transform(range(1, len({a}) + 1), "
        f"i -> cast({a}[i] as double) * cast({b}[i] as double))), "
        f"(acc, v) -> acc + v)"
    )


def norm_duck(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(cast(0 as double), "
        f"list_transform({a}, x -> cast(x as double) * cast(x as double))), "
        f"(acc, v) -> acc + v))"
    )


def cosine_duck(a: str, b: str) -> str:
    return f"({dot_duck(a, b)} / nullif({norm_duck(a)} * {norm_duck(b)}, 0.0))"


# -- integer-quantized cosine (order-independent exact scoring) --------------
# Quantize every element to milli-units (the IVF quantizer, ivf.py:63-73),
# keep dot products and squared norms in EXACT int64 arithmetic, and only
# then divide in float: sqrt/multiply/divide are single correctly-rounded
# IEEE ops on identical integers, so ANY summation order — a numpy int64
# matmul, a SQL aggregate, a tree reduction — yields bit-identical doubles.
# This is what makes the vectorized ANN path hash-checkable cross-engine
# (the plain-float cosine fold above is order-DEPENDENT, hence sequential).

QUANT = 1000


def quantize_spark(a: str) -> str:
    return f"transform({a}, x -> cast(round(cast(x as double) * {QUANT}) as bigint))"


def quantize_duck(a: str) -> str:
    return (
        f"list_transform({a}, x -> cast(round(cast(x as double) * {QUANT}) as bigint))"
    )


def int_sqnorm_duck(a: str) -> str:
    # list_sum(BIGINT list) is HUGEINT in DuckDB — cast back (parity trap 5)
    return f"cast(list_sum(list_transform({a}, x -> x * x)) as bigint)"


def int_dot_duck(a: str, b: str) -> str:
    return (
        f"cast(list_sum(list_transform(range(1, len({a}) + 1), "
        f"i -> {a}[i] * {b}[i])) as bigint)"
    )


def qcosine_expr(dot: str, na: str, nb: str) -> str:
    """sim from exact integer columns — same text works in BOTH dialects
    (nullif keeps zero vectors NULL, not a divide error / NaN)."""
    return (
        f"(cast({dot} as double) / "
        f"nullif(sqrt(cast({na} as double)) * sqrt(cast({nb} as double)), "
        f"cast(0 as double)))"
    )


# -- seeded LSH hyperplanes (similarity-search scale path) -------------------
# Plane coefficients derive from md5 in PYTHON once (hashlib == SQL md5),
# then are embedded as exact x1000 integer literals in both dialects
# (similarity._planes_int).

def lsh_planes(n_planes: int, dim: int, seed: str = "lshplane") -> list[list[float]]:
    import hashlib

    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            v = int(h[:8], 16) % 2001  # 0..2000
            row.append(round(v / 1000.0 - 1.0, 3))  # [-1, 1], exact 3-dp literal
        planes.append(row)
    return planes

