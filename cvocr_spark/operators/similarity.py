"""Similarity search over embedding columns (array<float>) — the
training-data-pipeline ANN extensions.

Two paths, per the task brief:

  * brute-force cosine top-k — the correctness baseline.  The query
    side is tiny and broadcast; the corpus side streams.  Cost is
    O(|Q| * |corpus|) FLOPs but ZERO shuffle of the corpus: at 100 TB
    the corpus scan is the only pass, and the top-k per query is a
    partial-aggregable window over a (small) broadcast join output.
  * LSH-bucketed ANN — the scale path: sign-random-projection buckets
    (seeded hyperplanes, exact literals in both engines) turn the cross
    product into an equi-join on bucket id; only same-bucket pairs are
    scored.  Recall < 1 by construction; the bench compares both.

Everything folds left-to-right in doubles (functions/portable.py), so
DuckDB oracles match bit-for-bit after round(6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import portable as P
from .dedup import _safe_banded

N_PLANES = 4
DIM = 64


def _top_k(scored: DataFrame, k: int, order) -> DataFrame:
    """The one top-k-per-query tail: ``scored`` (query_id, neighbor_id,
    ...) plus rn = row_number by ``order`` then neighbor_id (int),
    keeping rn <= k.  ``F.desc`` sorts nulls last, so a NULL score
    (zero-norm vector) never outranks a real one."""
    w = Window.partitionBy("query_id").orderBy(order, "neighbor_id")
    return scored.withColumn("rn", F.row_number().over(w).cast("int")).filter(
        F.col("rn") <= k
    )


def cosine_topk(emb: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """Brute-force cosine top-k: queries = vec_id < n_queries."""
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    c = emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"))
    scored = (
        c.join(F.broadcast(q))  # corpus never shuffles; queries broadcast
        .withColumn("sim", F.round(F.expr(P.cosine_spark("qe", "ce")), 6))
        .select("query_id", "neighbor_id", "sim")
    )
    return _top_k(scored, k, F.desc("sim"))


def cosine_topk_sql(n_queries: int = 5, k: int = 5) -> str:
    cos = P.cosine_duck("q.embedding", "c.embedding")
    return f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({cos}, 6) AS sim
      FROM embeddings q, embeddings c
      WHERE q.vec_id < {n_queries}
    ), ranked AS (
      SELECT query_id, neighbor_id, sim,
             cast(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) as int) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, sim, rn FROM ranked WHERE rn <= {k}
    """


MAX_BUCKET = 2000  # hot-bucket guard for the neardup self-join


def cosine_neardup_pairs(
    emb: DataFrame,
    limit_id: int = 100,
    threshold: float = 0.995,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Embedding-cosine near-dup pairs among vec_id < limit_id, with
    injected exact copies (vec_id + 100000) so the fixture is non-empty.

    SCALE PATH (VERDICT r1): the self-join runs WITHIN sign-projection
    LSH buckets, never all-pairs — at 0.995 cosine two vectors almost
    surely share every hyperplane sign, so per-bucket joins find them
    while the cross product never materializes.  Buckets above
    ``max_bucket`` are dropped (skew guard).  Recall < 1 by
    construction (disclosed); tests/test_ann.py measures it against the
    bounded exact form below."""
    base = emb.filter(F.col("vec_id") < limit_id)
    dups = base.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = with_bucket(base.unionByName(dups))
    # as the executed (AQE) plan shows: the 4-dot-product bucket
    # expression and its bkt exchange run ONCE, the self-join's second
    # side reading them back as a ReusedExchange; the window count
    # runs once per side, and at the default limit AQE broadcasts one
    # side instead of joining on the bkt partitioning
    safe = _safe_banded(corpus, max_bucket, ("bkt",))
    a = safe.select("bkt", F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = safe.select("bkt", F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, ["bkt"])
        .filter(F.col("a") < F.col("b"))
        .withColumn("sim", F.round(F.expr(P.cosine_spark("ea", "eb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
        .distinct()
    )


def cosine_neardup_pairs_sql(
    limit_id: int = 100, threshold: float = 0.995, max_bucket: int = MAX_BUCKET
) -> str:
    cos = P.cosine_duck("x.ea", "y.eb")
    return f"""
    WITH corpus0 AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {limit_id}
      UNION ALL
      SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings
      WHERE vec_id < {limit_id} AND vec_id % 20 = 0
    ),
    corpus AS (
      SELECT vec_id, embedding, {_bucket_expr_duck('corpus0')} AS bkt FROM corpus0
    ),
    safe AS (
      SELECT vec_id, embedding, bkt FROM (
        SELECT *, count(*) OVER (PARTITION BY bkt) AS bucket_n FROM corpus
      ) WHERE bucket_n <= {max_bucket}
    ),
    x AS (SELECT bkt, vec_id AS a, embedding AS ea FROM safe),
    y AS (SELECT bkt, vec_id AS b, embedding AS eb FROM safe)
    SELECT DISTINCT a, b, round({cos}, 6) AS sim
    FROM x JOIN y USING (bkt)
    WHERE a < b AND round({cos}, 6) >= {threshold}
    """


def embedding_dedup_clusters(emb: DataFrame, limit_id: int = 100, threshold: float = 0.995) -> DataFrame:
    """Embedding-space dedup all the way to KEEPERS: LSH-routed cosine
    near-dup pairs -> connected components -> one keeper per cluster —
    the same pairs-are-not-enough resolution as the token-space
    dedup_clusters, over the vector modality."""
    from .dedup import dedup_clusters

    base = emb.filter(F.col("vec_id") < limit_id)
    dups = base.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = base.unionByName(dups).select(F.col("vec_id").alias("doc_id"))
    pairs = cosine_neardup_pairs(emb, limit_id, threshold).select("a", "b")
    return dedup_clusters(corpus, pairs).withColumnRenamed("doc_id", "vec_id")


def embedding_dedup_clusters_sql(limit_id: int = 100, threshold: float = 0.995) -> str:
    pairs_sql = cosine_neardup_pairs_sql(limit_id, threshold)
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    vcorpus AS (
      SELECT vec_id FROM embeddings WHERE vec_id < {limit_id}
      UNION ALL
      SELECT vec_id + 100000 AS vec_id FROM embeddings
      WHERE vec_id < {limit_id} AND vec_id % 20 = 0
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION
      SELECT b AS src, a AS dst FROM pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT c.vec_id,
           coalesce(l.cluster_id, c.vec_id) AS cluster_id,
           c.vec_id = coalesce(l.cluster_id, c.vec_id) AS is_keeper
    FROM vcorpus c LEFT JOIN labels l ON c.vec_id = l.node
    """


def cosine_neardup_exact(emb: DataFrame, limit_id: int = 100, threshold: float = 0.995) -> DataFrame:
    """All-pairs exact form — the BOUNDED verifier/recall baseline only
    (never run unbounded; the named operator is the LSH-routed one)."""
    base = emb.filter(F.col("vec_id") < limit_id)
    dups = base.filter(F.col("vec_id") % 20 == 0).withColumn(
        "vec_id", F.col("vec_id") + 100000
    )
    corpus = base.unionByName(dups)
    a = corpus.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = corpus.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .withColumn("sim", F.round(F.expr(P.cosine_spark("ea", "eb")), 6))
        .filter(F.col("sim") >= threshold)
        .select("a", "b", "sim")
    )


def _planes_int(n_planes: int) -> list[list[int]]:
    """Hyperplane coefficients as EXACT integers (the seeded planes are
    3-dp literals, so x1000 is lossless)."""
    return [
        [round(v * 1000) for v in row] for row in P.lsh_planes(n_planes, DIM)
    ]


def with_bucket(df: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Adds the sign-projection bucket id as FLAT integer arithmetic,
    staged as three narrow projections (quantized elements -> per-plane
    dot products -> bucket bits) so each generated function stays under
    janino's method-size limit: codegen verified up to n_planes=8; at
    12 (sweep-only, never a shipped config) whole-stage codegen still
    falls back to interpreted eval — correct, just slower.  Integer
    dots are
    exact and order-independent — the old float HOF fold
    (aggregate(zip_with(...)) per plane per row) was the interpreted
    anti-pattern this repo keeps measuring at ~100x (BENCH notes)."""
    vq = [
        F.expr(
            f"cast(round(cast(element_at(embedding, {d + 1}) as double)"
            f" * 1000) as bigint)"
        ).alias(f"_vq{d}")
        for d in range(DIM)
    ]
    # well-formed guard: under ANSI (Spark 4 default) element_at past
    # the array length THROWS, so ONE ragged or NULL embedding in a
    # crawl-scale table kills the whole stage.  Malformed vectors
    # cannot be bucketed meaningfully — drop them here (the corpus
    # filter is where a production pipeline counts them).
    staged = df.filter(F.size("embedding") == DIM).select("*", *vq)
    planes = _planes_int(n_planes)
    dots = []
    for p, row in enumerate(planes):
        terms = [F.col(f"_vq{d}") * F.lit(row[d]) for d in range(DIM) if row[d] != 0]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        dots.append(acc.alias(f"_dot{p}"))
    staged = staged.select("*", *dots)
    bkt = None
    for p in range(len(planes)):
        bit = F.when(F.col(f"_dot{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0))
        bkt = bit if bkt is None else bkt + bit
    return staged.withColumn("bkt", bkt).drop(
        *[f"_vq{d}" for d in range(DIM)], *[f"_dot{p}" for p in range(len(planes))]
    )


def _bucket_expr_duck(tbl: str, n_planes: int = N_PLANES) -> str:
    """Same integer dot products in DuckDB (bigint list_sum is exact,
    so summation order cannot flip a sign)."""
    bits = []
    for p, row in enumerate(_planes_int(n_planes)):
        coeffs = "[" + ", ".join(str(v) for v in row) + "]"
        dot = (
            f"list_sum(list_transform(range(1, {DIM} + 1), i -> "
            f"cast(round(cast({tbl}.embedding[i] as double) * 1000) as bigint)"
            f" * ({coeffs})[i]))"
        )
        bits.append(f"(case when {dot} > 0 then {1 << p} else 0 end)")
    return "(" + " + ".join(bits) + ")"


def lsh_ann_topk(emb: DataFrame, n_queries: int = 5, k: int = 3) -> DataFrame:
    """Scale-path ANN: score only same-bucket pairs (16 buckets here).
    At 10^12 rows the bucket id becomes the partition key: the corpus
    is written bucketed, and each query touches one bucket."""
    bucketed = with_bucket(emb)
    q = bucketed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"), "bkt"
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), "bkt"
    )
    scored = (
        c.join(F.broadcast(q), "bkt")
        .withColumn("sim", F.round(F.expr(P.cosine_spark("qe", "ce")), 6))
        .select("query_id", "neighbor_id", "sim")
    )
    return _top_k(scored, k, F.desc("sim"))


def _probe_flips(n_planes: int, radius: int) -> list[int]:
    """XOR masks for all probe buckets within Hamming distance
    ``radius`` of a query's own bucket (0 = the bucket itself)."""
    flips = [0] + [1 << p for p in range(n_planes)]
    if radius >= 2:
        flips += [
            (1 << p) | (1 << q)
            for p in range(n_planes)
            for q in range(p + 1, n_planes)
        ]
    return flips


def lsh_ann_multiprobe_topk(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 3,
    n_planes: int = N_PLANES,
    radius: int = 1,
) -> DataFrame:
    """Multi-probe LSH ANN: each query probes its own bucket plus every
    bucket within Hamming distance ``radius`` (sign flips) — the
    standard recall-vs-cost knob for sign-projection LSH.  The probe
    list explodes on the (tiny, broadcast) query side only, so at
    10^12 rows the corpus still sees exactly one bucket-pruned scan;
    the probed fraction is |probes| / 2^n_planes.  The recall@k sweep
    over (n_planes, radius) lives in tests/goldens/ann_recall.json
    (tests/sweep_ann_recall.py); the contract pins the documented
    operating point chosen there."""
    bucketed = with_bucket(emb, n_planes)
    probes = F.array(
        *[
            F.col("bkt").bitwiseXOR(F.lit(m))
            for m in _probe_flips(n_planes, radius)
        ]
    )
    q = (
        bucketed.filter(F.col("vec_id") < n_queries)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qe"),
            F.explode(probes).alias("bkt"),
        )
    )
    c = bucketed.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("ce"), "bkt"
    )
    scored = (
        c.join(F.broadcast(q), "bkt")
        .withColumn("sim", F.round(F.expr(P.cosine_spark("qe", "ce")), 6))
        .select("query_id", "neighbor_id", "sim")
        .distinct()  # a neighbor can match several probes of one query
    )
    return _top_k(scored, k, F.desc("sim"))


def lsh_ann_multiprobe_topk_sql(
    n_queries: int = 5, k: int = 3, n_planes: int = N_PLANES, radius: int = 1
) -> str:
    cos = P.cosine_duck("q.qe", "c.ce")
    probe_list = ", ".join(
        f"xor(bkt, {m})" if m else "bkt" for m in _probe_flips(n_planes, radius)
    )
    return f"""
    WITH bucketed AS (
      SELECT vec_id, embedding, {_bucket_expr_duck('embeddings', n_planes)} AS bkt
      FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, embedding AS qe,
             unnest([{probe_list}]) AS bkt
      FROM bucketed WHERE vec_id < {n_queries}
    ),
    c AS (SELECT vec_id AS neighbor_id, embedding AS ce, bkt FROM bucketed),
    scored AS (
      SELECT DISTINCT query_id, neighbor_id, round({cos}, 6) AS sim
      FROM c JOIN q USING (bkt)
    ),
    ranked AS (
      SELECT query_id, neighbor_id, sim,
             cast(row_number() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) as int) AS rn
      FROM scored
    )
    SELECT query_id, neighbor_id, sim, rn FROM ranked WHERE rn <= {k}
    """

