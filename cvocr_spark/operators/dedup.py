"""Deduplication operators over the documents table — the
training-data-pipeline extensions (task brief: exact, MinHash+LSH,
SimHash, n-gram Jaccard; embedding near-dup lives in similarity.py).

All hashing is md5-based (functions/portable.py) so every operator has
an exact DuckDB oracle.  Scale design:

  * exact dedup      — one hash-groupBy shuffle over md5(FULL text);
    at 100 TB this is the cheapest possible dedup (partial agg combines
    map-side).  The hash input is the whole document — two docs sharing
    a prefix but diverging later never merge.
  * minhash + LSH    — signatures come from the per-document text
    kernel (doctext.py: one Arrow pass, no shuffle); banding turns
    O(n^2) similarity into per-bucket pairing: shuffle on
    (band_id, band_val), pair only within buckets.  A
    HOT-BUCKET GUARD drops degenerate buckets (empty docs, templated
    boilerplate) above ``max_bucket`` members — the classic crawl-scale
    skew-killer where one band value would otherwise pair
    quadratically; skipped buckets are surfaced by
    ``lsh_skipped_buckets``.
  * band tables      — every band frame that is stored or passed
    between functions holds RAW (doc_id, band_id, band_val) rows, and
    every probe runs the hot-bucket guard itself over the whole side it
    probes (a bucket can be hot only in aggregate, so guarding per
    stored batch would miss it; guarding guarded rows changes nothing).
    ``_write_bands`` is the one writer (one ``batch_id`` partition per
    arrival, dynamic overwrite, so a replayed batch rewrites its own),
    ``_stored_bands`` the one reader.
  * jaccard verify   — ``verify_pairs_jaccard`` takes the CANDIDATE
    pair list (LSH output) and joins each pair to its two token sets:
    exact token-set Jaccard, linear in candidates, never a token
    self-join.  ``minhash_verified_dups`` wires LSH -> verify.
  * clusters         — ``dedup_clusters`` resolves candidate pairs into
    duplicate CLUSTERS (connected components) and marks one keeper per
    cluster: the graft of the reference's union-find region grouping
    (ergroup.cpp:47-64 merge loop, ergroup.cpp:163-171 find/compress).
    The edge count picks the engine: up to ``_SMALL_GRAPH_EDGES``
    directed edges the whole graph is solved by ONE vectorized numpy
    union-find task (one Arrow stage, no per-round Spark actions);
    above it, distributed min-label propagation runs in rounds.
    Pairs alone don't dedup a corpus; keepers do.
  * simhash          — the production-width 64-bit signature with
    Hamming bucketing lives in simhash64.py.

For a non-trivial fixture on synthetic data (which has no natural
dups), `with_injected_dups` unions in exact copies with doc_id+offset —
the graft of the reference's augmentation corpus (moreSample.py:24-62).
``generations`` > 1 injects chained copies (A, A', A'') so cluster
resolution has >2-member components to collapse.
"""

from __future__ import annotations

import shutil
import tempfile

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import durable
from ..functions import portable as P
from ..session import ensure_shipped
from . import doctext

DUP_OFFSET = 100000


def with_injected_dups(docs: DataFrame, every: int = 10, generations: int = 1) -> DataFrame:
    out = docs
    for g in range(1, generations + 1):
        dups = docs.filter(F.col("doc_id") % every == 0).withColumn(
            "doc_id", F.col("doc_id") + g * DUP_OFFSET
        )
        out = out.unionByName(dups)
    return out


def injected_dups_sql(every: int = 10, where: str = "TRUE", generations: int = 1) -> str:
    parts = [f"SELECT * FROM documents WHERE {where}"]
    for g in range(1, generations + 1):
        parts.append(
            f"SELECT doc_id + {g * DUP_OFFSET} AS doc_id, text, lang, source, n_chars"
            f" FROM documents WHERE ({where}) AND doc_id % {every} = 0"
        )
    return "\n    UNION ALL\n    ".join(parts)


def _text_key():
    """The full-text key '<length>:<md5>' of ``text``.  Length is
    prepended so even an md5 collision would additionally need equal
    lengths."""
    return F.concat(F.length("text").cast("string"), F.lit(":"), F.md5("text"))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact dedup by FULL-content hash: keep min doc_id per
    ``_text_key`` of the whole text."""
    return docs.groupBy(_text_key().alias("h")).agg(
        F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies")
    )


def exact_dedup_sql(corpus: str = "documents") -> str:
    return f"""
    SELECT (cast(length(text) as varchar) || ':' || md5(text)) AS h,
           min(doc_id) AS keeper, count(*) AS n_copies
    FROM ({corpus}) GROUP BY 1
    """


MINHASH_K = 8
BANDS = 4  # 4 bands x 2 rows
MAX_BUCKET = 100  # hot-bucket guard: band buckets larger than this are skipped


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """k=8 minhashes over distinct 3-word shingles; one md5 per shingle
    (14-hex double-hash halves, h1 + 7*h2 < 2^59)."""
    return doctext.minhash(docs, MINHASH_K, 14)


def _band(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """(doc_id, band_id, band_val) from (doc_id, mh0..): band ``b`` is
    minhashes ``b*rows .. b*rows+rows-1`` joined with '_'.  This is
    the raw (unguarded) band relation that every probe below and every
    stored band table holds."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band_id"),
            F.concat_ws("_", *[f"mh{b * rows + r}" for r in range(rows)]).alias("band_val"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("band")
    ).select("doc_id", "band.band_id", "band.band_val")


def _banded(docs: DataFrame) -> DataFrame:
    return _band(minhash_signatures(docs), BANDS, MINHASH_K // BANDS)


def _bucket_sizes(banded: DataFrame) -> DataFrame:
    # groupBy (not a window): partial aggregation combines map-side, so
    # even a monster bucket only ships one count row per map task
    return banded.groupBy("band_id", "band_val").agg(F.count("*").alias("bucket_n"))


def _safe_banded(
    banded: DataFrame, max_bucket: int, keys=("band_id", "band_val")
) -> DataFrame:
    """The one hot-bucket guard: drop the rows of every ``keys`` bucket
    with more than ``max_bucket`` members, as a WINDOW count over one
    shuffle of the rows.  Minhash bands, simhash64 chunks and the
    cosine LSH buckets all call it.  vs a groupBy+self-join guard: the
    upstream signature stage appears ONCE in the plan, and the single
    ``keys`` exchange it introduces is exactly the partitioning
    ``_bucket_pairs`` groups by, so pairing adds no exchange.  Skew
    behavior is identical — either form hashes a monster bucket's rows
    to one task before dropping them."""
    w = F.count("*").over(Window.partitionBy(*keys))
    return (
        banded.withColumn("bucket_n", w)
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
    )


def minhash_lsh_pairs(docs: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """Band the signatures (2 rows/band) and pair the docs of each band
    bucket: candidate near-dup pairs without a cross product.  Buckets
    larger than ``max_bucket`` are DROPPED before pairing (hot-bucket
    guard): a degenerate band value (10k identical boilerplate docs)
    would otherwise produce a single O(n^2) task at crawl scale.
    Skipped buckets are observable via ``lsh_skipped_buckets``."""
    return _self_candidates(_safe_banded(_banded(docs), max_bucket))


def _bucket_pairs(safe: DataFrame, keys, member) -> DataFrame:
    """(x, y) for every two members of one ``keys`` bucket of a guarded
    frame, x before y in ``member`` order: ONE aggregate per bucket
    (``sort_array(collect_list(member))``) and its i < j pairs.  vs a
    self-join, the frame (and the signature kernel under it) is
    evaluated once, and the aggregate groups by the guard's own window
    partitioning, so it adds no exchange.  Buckets with a NULL key pair
    nothing, as under an equi-join."""
    m = F.sort_array(F.collect_list(member)).alias("m")
    return (
        safe.dropna(subset=list(keys))
        .groupBy(*keys)
        .agg(m)
        .select("m", F.posexplode("m").alias("i", "x"))
        .select("x", F.explode(F.expr("slice(m, i + 2, size(m) - i - 1)")).alias("y"))
    )


def _self_candidates(bands: DataFrame) -> DataFrame:
    """Distinct (a, b), a < b, of docs sharing a band bucket of an
    already hot-bucket-guarded band frame."""
    return (
        _bucket_pairs(bands, ("band_id", "band_val"), F.col("doc_id"))
        .filter(F.col("x") < F.col("y"))
        .select(F.col("x").alias("a"), F.col("y").alias("b"))
        .distinct()
    )


def _cross_candidates(nb: DataFrame, eb: DataFrame) -> DataFrame:
    """Distinct (a = new doc, b = existing doc) sharing a band bucket —
    the new-vs-existing probe over two guarded band frames."""
    return (
        nb.alias("n")
        .join(
            eb.alias("e"),
            (F.col("n.band_id") == F.col("e.band_id"))
            & (F.col("n.band_val") == F.col("e.band_val")),
        )
        .select(F.col("n.doc_id").alias("a"), F.col("e.doc_id").alias("b"))
        .distinct()
    )


def _write_bands(bands: DataFrame, dir: str, batch_id: int) -> None:
    """Store raw band rows as the ``batch_id`` partition of the band
    table at ``dir``; a rewrite of the same batch replaces only that
    partition."""
    durable.overwrite_partitions(bands.withColumn("batch_id", F.lit(batch_id)), dir, "batch_id")


def _stored_bands(spark, dir: str) -> DataFrame:
    """The band table at ``dir``: (doc_id, band_id, band_val, batch_id).
    Explicit schema: an EMPTY table (a fresh crawl's first batch) has
    no data files to infer from, and probing one must find no
    candidates, not fail."""
    return spark.read.schema(
        "doc_id bigint, band_id int, band_val string, batch_id bigint"
    ).parquet(dir)


def lsh_skipped_buckets(docs: DataFrame, max_bucket: int = MAX_BUCKET) -> DataFrame:
    """The buckets the guard dropped: (band_id, band_val, bucket_n) —
    the triage view a 100-TB run logs alongside the pair output."""
    return _bucket_sizes(_banded(docs)).filter(F.col("bucket_n") > max_bucket)


def _lsh_pairs_ctes(corpus: str, max_bucket: int = MAX_BUCKET) -> str:
    """Shared DuckDB CTE chain corpus -> sigs -> banded -> lsh_pairs,
    with the same hot-bucket guard semantics as the Spark plan."""
    words = P.words_duck("text")
    shingles = f"list_distinct({P.shingles_duck(words)})"
    mh = P.minhash_from_pairs_duck("mhp", MINHASH_K)
    mh_select = ", ".join(f"{e} AS mh{j}" for j, e in enumerate(mh))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"concat(mh{2 * b}, '_', mh{2 * b + 1}) AS band_val FROM sigs"
        for b in range(BANDS)
    )
    return f"""
    corpus AS ({corpus}),
    paired AS (SELECT doc_id, {P.minhash_pairs_duck(shingles)} AS mhp FROM corpus),
    sigs AS (SELECT doc_id, {mh_select} FROM paired),
    banded AS ({bands}),
    safe AS (
      SELECT doc_id, band_id, band_val FROM (
        SELECT *, count(*) OVER (PARTITION BY band_id, band_val) AS bucket_n
        FROM banded
      ) WHERE bucket_n <= {max_bucket}
    ),
    lsh_pairs AS (
      SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
      FROM safe a JOIN safe b
        ON a.band_id = b.band_id AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
    )"""


# -- production-width banding: k=128, 16 bands x 8 rows ----------------------
# The k=8/4x2 config above is the oracle-friendly demo; its per-band
# collision prob s^2 admits ~30% false candidates at s=0.3 and, on
# template-heavy corpora, hot band values that the bucket guard then
# drops (losing true pairs).  The production config s^8 per band /
# 16 bands puts the S-curve threshold at J~0.9: measured on the 200k
# soak (soak_dedup.py), false candidates collapse and within-family
# recall at J>=0.9 is ~1.0.

WIDE_BANDS = 16
WIDE_ROWS = 8


def minhash_signatures_wide(docs: DataFrame) -> DataFrame:
    """k=128 minhashes (52-bit halves, h1 + 127*h2 < 2^59)."""
    return doctext.minhash(docs, P.MINHASH_WIDE_K, 13)


def _banded_wide(docs: DataFrame) -> DataFrame:
    return _band(minhash_signatures_wide(docs), WIDE_BANDS, WIDE_ROWS)


def minhash_lsh_pairs_wide(
    docs: DataFrame, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """Candidate pairs from k=128 minhash, 16 bands x 8 rows (52-bit
    double-hash halves; see functions/portable.py wide scheme)."""
    return _self_candidates(_safe_banded(_banded_wide(docs), max_bucket))


def minhash_lsh_pairs_wide_sql(
    corpus: str = "documents", max_bucket: int = MAX_BUCKET
) -> str:
    words = P.words_duck("text")
    shingles = f"list_distinct({P.shingles_duck(words)})"
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, "
        f"array_to_string(m[{b * WIDE_ROWS + 1}:{(b + 1) * WIDE_ROWS}], '_') AS band_val "
        f"FROM sigs"
        for b in range(WIDE_BANDS)
    )
    return f"""
    WITH corpus AS ({corpus}),
    paired AS (SELECT doc_id, {P.minhash_pairs_wide_duck(shingles)} AS mhp FROM corpus),
    sigs AS (
      SELECT doc_id,
             list_transform(range(0, {P.MINHASH_WIDE_K}), j ->
               list_min(list_transform(mhp, p -> p.h1 + j * p.h2))) AS m
      FROM paired
    ),
    banded AS ({bands}),
    safe AS (
      SELECT doc_id, band_id, band_val FROM (
        SELECT *, count(*) OVER (PARTITION BY band_id, band_val) AS bucket_n
        FROM banded
      ) WHERE bucket_n <= {max_bucket}
    )
    SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
    FROM safe a JOIN safe b
      ON a.band_id = b.band_id AND a.band_val = b.band_val
     AND a.doc_id < b.doc_id
    """


# --------------------------------------------------------------------------
# candidate-pair Jaccard verification (linear in candidates, no self-join)
# --------------------------------------------------------------------------


def verify_pairs_jaccard(
    pairs: DataFrame, docs: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact token-set Jaccard over a CANDIDATE pair list: join each
    (a, b) to its two distinct-token arrays and score with array
    intersection — cost linear in |pairs|, never a token self-join.
    This is the LSH->verify stage of a production dedup pipeline.
    (A candidate-id semi-join prefilter on the token sides — guide
    §3.2 — was A/B'd in r6 and REJECTED at both scales: at sf0.1 the
    extra distinct/semi joins cost ~1 s against a tiny corpus, and at
    the 200k soak the candidate set is corpus-sized, so the prefilter
    added shuffles and a pipeline-breaking checkpoint for nothing —
    incremental section 185 s -> 260 s with one-shot sections
    identical across the two runs.  Numbers in OPTIMIZATION_r06.md.)"""
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("toks")
    )
    ta = toks.select(F.col("doc_id").alias("a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col("doc_id").alias("b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    return (
        pairs.join(ta, "a")
        .join(tb, "b")
        .withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter").cast("double")
                / (F.size("toks_a") + F.size("toks_b") - F.col("inter")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def minhash_verified_dups(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """The full near-dup pipeline: LSH candidates -> exact Jaccard
    verification (the n-gram Jaccard capability, applied where it is
    linear: after candidate generation)."""
    return verify_pairs_jaccard(minhash_lsh_pairs(docs), docs, threshold)


def minhash_verified_dups_sql(corpus: str = "documents", threshold: float = 0.8) -> str:
    jac = (
        "round(cast(len(list_intersect(ta.toks, tb.toks)) as double)"
        " / (len(ta.toks) + len(tb.toks)"
        " - len(list_intersect(ta.toks, tb.toks))), 4)"
    )
    return f"""
    WITH {_lsh_pairs_ctes(corpus)},
    toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM corpus
    )
    SELECT p.a, p.b, {jac} AS jaccard
    FROM lsh_pairs p
    JOIN toks ta ON p.a = ta.doc_id
    JOIN toks tb ON p.b = tb.doc_id
    WHERE {jac} >= {threshold}
    """


# --------------------------------------------------------------------------
# duplicate-pair -> duplicate-cluster resolution (P12: the union-find graft)
# --------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None
) -> DataFrame:
    """Connected components over an undirected pair list.  Returns
    (node, label) with label = min node id in the component, one row
    per node that appears in a pair (pairs with a NULL end are dropped).

    Size rule: the directed edge set is materialized and counted ONCE.
    Up to ``_SMALL_GRAPH_EDGES`` directed edges the whole graph is one
    vectorized numpy union-find task (``_union_find_labels``): at that
    size a distributed round is a single task plus Spark's fixed
    scheduling cost, so per-round actions cost more than the graph
    computes.  Larger graphs run the distributed rounds
    (``_connected_components_rounds``).  ``max_iter`` and
    ``checkpoint_dir`` (durable round resume points) apply to the
    rounds path only; the one-task solve has no rounds to resume."""
    both, m, fp = _directed_edges(pairs)
    if m <= _SMALL_GRAPH_EDGES:
        ensure_shipped(pairs.sparkSession)  # the Arrow stage calls _union_find_labels
        # coalesce, not repartition: the edges are already materialized,
        # so one task can read every partition without a shuffle
        return both.coalesce(1).mapInArrow(_union_find_batches, "node bigint, label bigint")
    return _label_rounds(both, m, fp, max_iter, checkpoint_dir)[0]


# directed-edge count up to which connected components runs as one task
_SMALL_GRAPH_EDGES = 500_000


def _directed_edges(pairs: DataFrame) -> tuple[DataFrame, int, str]:
    """Both directions of every pair, distinct, NULL ends dropped,
    behind a lazy checkpoint — plus the edge count and an edge-set
    fingerprint (count + decimal sum of ``xxhash64(src, dst)``) from
    ONE aggregate, the action that also materializes the checkpoint.
    Both directions come from ONE scan of the (possibly expensive)
    upstream pair pipeline — a two-branch union would evaluate it
    twice."""
    both = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .dropna()
        .distinct()
        # lazy checkpoint: every consumer (count, one-task solve, or
        # the rounds path's self-loop branch) reads the materialized
        # edges instead of re-running the upstream pair pipeline
        .localCheckpoint(eager=False)
    )
    r = both.agg(
        F.count("*").alias("m"),
        F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return both, r["m"], f"{r['m']}:{r['h']}"


def _union_find_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized union-find over int64 edge arrays: returns (nodes,
    labels) with label = min node id of the node's component.  Nodes
    are indexed by ``np.unique`` (sorted, so the min index of a
    component is its min id).  Each pass hooks both endpoint roots of
    every still-split edge to the smaller root (``np.minimum.at``) and
    then pointer-jumps every node to its tree root; it stops when every
    edge has the same root on both ends.  Hooks only ever point to a
    smaller index, so the forest stays acyclic, and each pass removes
    at least one root per unfinished component."""
    nodes, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = idx[: len(src)], idx[len(src):]
    root = np.arange(len(nodes))
    while True:
        ru, rv = root[u], root[v]
        split = ru != rv
        if not split.any():
            return nodes, nodes[root]
        ru, rv = ru[split], rv[split]
        lo = np.minimum(ru, rv)
        np.minimum.at(root, ru, lo)
        np.minimum.at(root, rv, lo)
        jumped = root[root]
        while not np.array_equal(jumped, root):
            root, jumped = jumped, jumped[jumped]


def _union_find_batches(batches):
    """mapInArrow body of the one-task solve: every (src, dst) batch of
    the single partition -> one (node, label) batch."""
    import pyarrow as pa

    cols = [(b.column("src").to_numpy(), b.column("dst").to_numpy()) for b in batches]
    if not cols:
        return
    nodes, labels = _union_find_labels(
        np.concatenate([s for s, _ in cols]), np.concatenate([d for _, d in cols])
    )
    yield pa.RecordBatch.from_arrays([pa.array(nodes), pa.array(labels)], ["node", "label"])


# stats clamp cadence: inherited sizeInBytes digits double per round
# (see the clamp comment in the loop), so every 4th round keeps the
# estimate under ~100 digits for the life of the iteration
_STATS_CLAMP_EVERY = 4


def _connected_components_rounds(
    pairs: DataFrame, max_iter: int = 25, checkpoint_dir: str | None = None
) -> tuple[DataFrame, int]:
    """The distributed rounds engine over a pair list of ANY size —
    ``connected_components`` routes only graphs above
    ``_SMALL_GRAPH_EDGES`` directed edges here; tests and the soak's
    kill/resume demo call it directly.  ``checkpoint_dir`` holds the
    durable round frames (see ``_label_rounds``)."""
    return _label_rounds(*_directed_edges(pairs), max_iter, checkpoint_dir)


def _label_rounds(
    both: DataFrame, m: int, fp: str, max_iter: int, checkpoint_dir: str | None
) -> tuple[DataFrame, int]:
    """Min-label propagation WITH POINTER DOUBLING over the directed
    edge set ``both`` (``m`` edges, fingerprint ``fp``, from
    ``_directed_edges``) — each round fuses

      * propagate: label <- min of neighbors' labels
        (the union-find merge loop of the reference, ergroup.cpp:47-64,
        re-expressed as an equi-join on node id), and
      * shortcut:  label <- label(label)
        (every label value is itself a node id and label(m) <= m, so
        chasing one hop through the label table contracts the remaining
        distance to the component minimum geometrically — the find-root
        path compression of ergroup.cpp:163-171, batched)

    (the label-edge-fused single-join form was measured SLOWER here:
    16 rounds vs 15 and no broadcast-friendly small join, A/B in
    NOTES.md).  Propagation alone needs eccentricity rounds — a
    spam mirror-chain of depth 1000 would cost 1000 full-edge shuffles
    at crawl scale; with the shortcut, rounds = O(log component_size)
    (measured: 7 rounds for a depth-32 chain, 15 for a 2699-node
    near-path component), bounded by ``max_iter``.

    r6 plan shape: the edge table carries SELF-LOOPS and is persisted
    repartitioned+sorted by ``dst`` (the propagate join key), so each
    round is exactly TWO joins (shortcut self-join + propagate) and one
    partial-aggregable min — the former separate nbr_min/least() merge
    join is gone and the cached edge side satisfies the join's
    partitioning and ordering without a per-round exchange or sort.
    Rounds execute in PAIRS per driver action (see the in-loop
    comment).  Lineage is truncated every round (lazy localCheckpoint:
    the convergence agg is the action that materializes it), and
    every ``_STATS_CLAMP_EVERY`` rounds the label frame round-trips
    through parquet instead, which resets Catalyst's inherited
    size estimates (see the in-loop comment) and doubles as a durable
    resume point.  ``checkpoint_dir`` overrides the clamp location (on
    a real cluster: a shared-FS path; default is a driver tempdir,
    removed on return).  When ``checkpoint_dir`` holds ``round_<k>``
    frames from a killed prior run over the SAME pair list, the
    iteration RESUMES from the highest completed one instead of
    round 0 — the same crash-recovery contract as the extraction
    path's per-bucket manifests (tableio.py), applied to the one
    multi-round iterative operator: a crawl-scale CC run that dies at
    round 12 of 15 must not redo 12 full-edge joins.  Each frame
    carries the edge-set fingerprint ``fp`` in a ``_FINGERPRINT`` file
    written after the frame commits; frames whose fingerprint is
    missing or differs are cleared and the run starts from round 0.
    Frames are listed through ``durable.generations`` (committed =
    ``_SUCCESS`` present), so any Hadoop filesystem or URI works.

    Returns (labels, rounds_run) — the round count is asserted
    O(log depth) on an injected chain in tests/test_dedup.py; resume
    is asserted to converge from the restored round, with labels
    identical to the from-scratch run.
    """
    spark = both.sparkSession
    own_dir = checkpoint_dir is None
    clamp_dir = checkpoint_dir or tempfile.mkdtemp(prefix="cvocr_cc_")
    # SELF-LOOPS are appended so the per-round propagation is ONE join +
    # ONE aggregate: min over {self, neighbors} of the shortcut labels
    # equals the old least(label, coalesce(nbr_min, label)) without the
    # second (half ⋈ nbr_min) join per round.  The table is persisted
    # REPARTITIONED AND SORTED BY dst — the propagate join's key — so
    # the cached relation's partitioning/ordering satisfy the join
    # requirements and the per-round plan re-shuffles and re-sorts only
    # the (much narrower) label side, never the edge set (guide §2.4:
    # establish the partitioning once, reuse it every round).
    loops = both.select("src").distinct().withColumn("dst", F.col("src"))
    # SCALE-ADAPTIVE partitioning (guide §2.2): size the persisted edge
    # table from the edge count, not from the core count — the width
    # floors at the cluster parallelism and grows with the data (~2M
    # directed edges per partition), so a crawl-scale graph uses every
    # core AND gets as many partitions as its bytes demand.  (Graphs
    # small enough for one task take the one-task solve in
    # ``connected_components`` instead.)
    n_part = max(spark.sparkContext.defaultParallelism, -(-m // 2_000_000))
    edges = (
        both.unionByName(loops)
        .repartition(n_part, "dst")
        .sortWithinPartitions("dst")
        .persist()
    )
    labels = (
        edges.filter(F.col("src") == F.col("dst"))
        .select(F.col("src").alias("node"))
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    rounds = 0
    if not own_dir:
        done = durable.generations(spark, clamp_dir, "round_")
        if any(durable.read_fingerprint(spark, f"{clamp_dir}/round_{r}") != fp for r in done):
            # frames from a DIFFERENT edge set (or a kill between a
            # frame's commit and its fingerprint write): min propagation
            # never raises a label, so a foreign low label would survive
            # to the output — start over from round 0 instead
            durable.clear(spark, clamp_dir, "round_")
            done = []
        if done:
            # resume: restore the newest completed round's labels onto
            # the CURRENT node set (left join + coalesce keeps any node
            # the restored frame lacks at its own id); the fingerprint
            # check above guarantees the frame came from this edge set
            rounds = max(done)
            restored = spark.read.parquet(
                f"{clamp_dir}/round_{rounds}"
            ).withColumnRenamed("label", "r_label")
            labels = (
                labels.select("node")
                .join(restored, "node", "left")
                .select(
                    "node", F.coalesce("r_label", F.col("node")).alias("label")
                )
                .localCheckpoint()
            )
    # convergence probe: labels only DECREASE under min propagation, so
    # the label sum strictly decreases every non-converged round and is
    # equal iff nothing changed — one cheap agg action per round instead
    # of a self-join diff.  Summed as decimal(38,0): one int64 label per
    # node can reach ~2^60 for hash-derived ids, so at crawl-scale node
    # counts the int64 sum overflows and ANSI mode throws mid-iteration;
    # decimal(38,0) holds 10^12 nodes x 2^63 with room to spare.
    _label_sum = F.sum(F.col("label").cast("decimal(38,0)"))

    def _step(lbl: DataFrame) -> DataFrame:
        # shortcut FIRST against the (checkpointed) previous labels —
        # both sides of the self-join read materialized data.  Because
        # propagation then takes the min of NEIGHBORS' shortcut labels
        # (not raw labels), the contraction is strictly stronger than
        # shortcut-after-propagate.  (Chaining MORE shortcut hops per
        # round was A/B'd and REJECTED: on the sf0.1 pair graph rounds
        # stayed at 15 for 1, 2, and 3 hops — convergence here is
        # propagation-bound, not pointer-chase-bound — while each extra
        # hop squares the inherited-stats blow-up described at the
        # clamp below.)
        lut = lbl.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        half = lbl.join(lut, lbl["label"] == lut["l_node"], "left").select(
            "node", F.coalesce("l_label", "label").alias("label")
        )
        # propagate WITH self-loops: min over {self, neighbors} of the
        # shortcut labels — one join + one partial-aggregable groupBy
        # per round (the former separate nbr_min join + least() merge
        # join collapsed; self-loops guarantee every node survives)
        return (
            edges.join(half, edges["dst"] == half["node"])
            .select(F.col("src").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )

    def _clamp(lbl: DataFrame, r: int) -> DataFrame:
        # STATS CLAMP — Dataset.localCheckpoint truncates the
        # logical plan but INHERITS the pre-checkpoint plan's
        # Catalyst statistics into the new LogicalRDD, and the
        # size-only visitor estimates a join as the PRODUCT of its
        # children's sizeInBytes: with labels referenced twice per
        # round (shortcut self-join) the inherited estimate
        # squares every round.  Measured: digit count of
        # sizeInBytes doubles per round (2.8k digits by round 15),
        # and every stats consumer (broadcast-size checks, runtime
        # -filter injection) then multiplies those BigIntegers on
        # the DRIVER — at 3 shortcut hops this froze the driver in
        # Toom-Cook multiplication of ~10M-digit integers by round
        # 11.  A parquet round-trip is the one public-API reset:
        # the re-read scan carries real file-size stats.  Every
        # 4th round bounds the estimate at ~100 digits for free
        # (A/B: wall-neutral at sf0.1), and the written frame
        # doubles as a durable resume point for the iteration —
        # on a cluster, point checkpoint_dir at the shared FS.
        path = f"{clamp_dir}/round_{r}"
        lbl.write.mode("overwrite").parquet(path)
        durable.write_fingerprint(spark, path, fp)
        return spark.read.parquet(path)

    prev_sum = labels.agg(_label_sum).collect()[0][0]
    # TWO rounds per driver action (r6 optimization): at bench scale the
    # per-round wall is dominated by fixed action overhead (planning +
    # AQE stage scheduling of tiny shuffles), not aggregation work —
    # pairing rounds and probing BOTH sums in one union-agg action
    # halves that fixed cost, and at crawl scale costs at most one
    # speculative round's work in the final pair (the old loop paid the
    # same round as its explicit no-change confirmation).  Convergence
    # semantics are unchanged: sums only decrease; s1 == prev means
    # round r1 was the confirm round (return the r1 frame, drop r2's
    # speculative work), s2 == s1 means r2 was.  The stats clamp is
    # written only for a COMMITTED pair (after the convergence probe),
    # so resume points never include a dropped speculative round.
    while rounds < max_iter:
        r1 = rounds + 1
        la = _step(labels).localCheckpoint(eager=False)
        if r1 >= max_iter:  # odd max_iter tail: single-round action
            prev_sum = la.agg(_label_sum).collect()[0][0]
            labels, rounds = la, r1
            break
        r2 = r1 + 1
        lb = _step(la).localCheckpoint(eager=False)
        sums = dict(
            la.agg(_label_sum.alias("s")).select(F.lit(1).alias("k"), "s")
            .unionByName(
                lb.agg(_label_sum.alias("s")).select(F.lit(2).alias("k"), "s")
            )
            .collect()
        )
        if sums[1] == prev_sum:
            labels, rounds = la, r1  # converged; r2's speculative work dropped
            break
        labels, rounds, prev_sum = lb, r2, sums[2]
        if sums[2] == sums[1]:
            break
        if r2 % _STATS_CLAMP_EVERY == 0:
            labels = _clamp(labels, r2)
    edges.unpersist()
    if own_dir:
        # the final frame may still scan the clamp files — materialize
        # it into the block manager before deleting the tempdir
        if rounds >= _STATS_CLAMP_EVERY:
            labels = labels.localCheckpoint()
        shutil.rmtree(clamp_dir, ignore_errors=True)
    return labels, rounds


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, checkpoint_dir: str | None = None
) -> DataFrame:
    """pairs -> clusters -> one keeper per cluster, over the WHOLE
    corpus (docs not in any pair are their own singleton cluster).
    cluster_id = min doc_id in the component; is_keeper marks the one
    row per cluster a dedup pass keeps.  Graft of the reference's
    region grouping (ergroup.cpp:47-64,163-171) — there merging
    overlapping boxes, here merging near-duplicate documents.
    ``checkpoint_dir`` makes the label iteration resumable after a
    kill when the graph is large enough for the rounds path (see
    ``connected_components``)."""
    return anchor_clusters(docs, connected_components(pairs, checkpoint_dir=checkpoint_dir))


def anchor_clusters(docs: DataFrame, labels: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, is_keeper) for every doc of ``docs`` from a
    (node, label) frame: a doc no label covers is its own singleton
    cluster, and the keeper is the doc whose id is its cluster's."""
    return (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("node", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn("is_keeper", F.col("doc_id") == F.col("cluster_id"))
    )


def dedup_clusters_sql(corpus: str = "documents") -> str:
    """Recursive-CTE oracle: min reachable node id per node over the
    same LSH pair list."""
    return f"""
    WITH RECURSIVE {_lsh_pairs_ctes(corpus)},
    edges AS (
      SELECT a AS src, b AS dst FROM lsh_pairs
      UNION
      SELECT b AS src, a AS dst FROM lsh_pairs
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT c.doc_id,
           coalesce(l.cluster_id, c.doc_id) AS cluster_id,
           c.doc_id = coalesce(l.cluster_id, c.doc_id) AS is_keeper
    FROM corpus c LEFT JOIN labels l ON c.doc_id = l.node
    """


def dedup_clusters_verified(
    docs: DataFrame, threshold: float = 0.8, checkpoint_dir: str | None = None
) -> DataFrame:
    """The production default: cluster only VERIFIED pairs.  The 200k
    soak showed why — raw LSH candidates chain unrelated docs through
    false candidates; exact-Jaccard verification before CC bounds every
    merge by a measured similarity."""
    pairs = minhash_verified_dups(docs, threshold).select("a", "b")
    return dedup_clusters(docs, pairs, checkpoint_dir=checkpoint_dir)


def dedup_clusters_verified_sql(corpus: str = "documents", threshold: float = 0.8) -> str:
    jac = (
        "round(cast(len(list_intersect(ta.toks, tb.toks)) as double)"
        " / (len(ta.toks) + len(tb.toks)"
        " - len(list_intersect(ta.toks, tb.toks))), 4)"
    )
    return f"""
    WITH RECURSIVE {_lsh_pairs_ctes(corpus)},
    toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM corpus
    ),
    verified AS (
      SELECT p.a, p.b
      FROM lsh_pairs p
      JOIN toks ta ON p.a = ta.doc_id
      JOIN toks tb ON p.b = tb.doc_id
      WHERE {jac} >= {threshold}
    ),
    edges AS (
      SELECT a AS src, b AS dst FROM verified
      UNION
      SELECT b AS src, a AS dst FROM verified
    ),
    reach(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.node
    ),
    labels AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
    SELECT c.doc_id,
           coalesce(l.cluster_id, c.doc_id) AS cluster_id,
           c.doc_id = coalesce(l.cluster_id, c.doc_id) AS is_keeper
    FROM corpus c LEFT JOIN labels l ON c.doc_id = l.node
    """


def connected_components_incremental(
    prev_labels: DataFrame,
    new_pairs: DataFrame,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Fold a NEW batch of pairs into an EXISTING clustering without
    reprocessing historical edges — the growing-crawl shape for the
    pairs->clusters stage (composes with dedup_incremental, which
    produces exactly such cross-batch pairs).

    The previous clustering is equivalent to its LABEL EDGES
    (node -> label): min-label propagation over
    ``new_pairs ∪ label_edges`` reaches the same fixpoint as a
    from-scratch run over ``all_old_pairs ∪ new_pairs`` (each old
    component is star-contracted to its root — one edge per node —
    and any new pair touching it merges through the root).  Cost per
    batch: O(n_nodes + n_new_pairs) edges through the iteration
    instead of O(all pairs ever), and the star topology converges in
    O(log) rounds regardless of the original components' shapes.
    Equivalence to the from-scratch run is asserted in
    tests/test_dedup.py.

    The merged edge set takes the same size rule as
    ``connected_components`` (one-task solve or rounds;
    ``checkpoint_dir`` applies to the rounds path only).

    Returns the updated full label frame (same shape as
    ``connected_components``) — feed it back as ``prev_labels`` for
    the next batch."""
    label_edges = prev_labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("a"), F.col("label").alias("b")
    )
    merged = new_pairs.select("a", "b").unionByName(label_edges)
    labels = connected_components(merged, checkpoint_dir=checkpoint_dir)
    # nodes that were singletons before AND untouched by new pairs do
    # not appear in any edge — restore them (label = own id)
    singletons = prev_labels.select("node").join(
        labels.select("node"), "node", "left_anti"
    ).withColumn("label", F.col("node"))
    return labels.unionByName(singletons)


# --------------------------------------------------------------------------
# incremental dedup: new batch vs existing keeper index (VERDICT r2 item 4)
# --------------------------------------------------------------------------


def dedup_incremental(
    new_docs: DataFrame,
    existing: DataFrame,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the growing-crawl
    shape (reference analogue: the one-doc-at-a-time ingest path,
    upload.py:34-76): a 100-TB crawl never re-dedups the whole corpus
    per batch; it probes the stored index.

      phase 1 (exact):  anti-join on the full-text (length, md5) key;
        matches -> status 'dup_exact', matched_keeper = min existing
        doc_id with that hash.
      phase 2 (near):   band the REMAINING new docs' minhash signatures
        and equi-join against the existing band table (both sides
        hot-bucket-guarded), then exact-Jaccard-verify each candidate
        pair; matches >= threshold -> 'dup_near', matched_keeper = min
        verified existing doc_id.
      else              -> 'new_keeper', matched_keeper NULL.

    Decisions are per-new-doc vs EXISTING only; intra-batch dups are
    resolved by running the batch operators on the survivors (the two
    stages compose).  doc_id spaces must be disjoint.  At scale the
    existing side's hash/band tables are precomputed artifacts of past
    runs (the band table IS the stored LSH index); here they derive
    in-plan from `existing` so the DuckDB oracle can restate them.

    Returns (doc_id, status, matched_keeper) for every new doc.
    """
    return _incremental_decide(
        new_docs, existing, _exact_hash_table(existing), _banded(existing), threshold, max_bucket
    )


def _exact_hash_table(existing: DataFrame) -> DataFrame:
    """(h, matched_keeper): full-text key -> min doc_id."""
    return (
        existing.select(_text_key().alias("h"), "doc_id")
        .groupBy("h")
        .agg(F.min("doc_id").alias("matched_keeper"))
    )


def dedup_incremental_pairs(
    new_docs: DataFrame,
    existing: DataFrame,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
    new_bands: DataFrame | None = None,
    existing_bands: DataFrame | None = None,
) -> DataFrame:
    """ALL verified cross-batch near-dup pairs (a = new doc, b =
    existing doc) — the PAIR-level output of dedup_incremental's
    phase 2, which the per-doc decision form collapses to one min
    keeper per new doc.  Cluster MAINTENANCE needs every pair: a new
    doc matching two existing docs x and y must merge x's and y's
    components, which the collapsed (doc, min_keeper) edge alone
    cannot do.  Feed these, plus the batch-local verified pairs, into
    ``connected_components_incremental`` — the composed growing-crawl
    dedup (soak_dedup.py incremental section).  Exact cross-batch
    copies surface here too: identical texts share every band and
    verify at J = 1.0.

    CONTRACT: doc_ids must be globally unique across ``new_docs`` and
    ``existing`` (ADVICE r5) — the verify corpus is their plain union,
    so a doc_id re-delivered in a later batch would duplicate corpus
    rows and fan out the Jaccard join.  Both shipped callers satisfy
    it structurally: the streaming writer's exactly-once file source
    never re-delivers committed ids into `existing` (a replayed batch
    rewrites its own partition), and the soak slices disjoint variant
    ranges.  A dropDuplicates here would put an unconditional shuffle
    on every batch to defend against a caller bug — documented
    instead.

    ``new_bands`` / ``existing_bands``: raw band frames (e.g. rows of a
    stored band table) used instead of banding that side in-plan with
    ``_banded``, so a growing corpus is not re-minhashed every batch; a
    ``_banded_wide`` probe supplies both.  Pairs equal the in-plan
    form's whenever the supplied bands equal that side's banding
    (banding is per-row, so a union of per-batch band frames IS the
    banding of the union)."""
    # new_docs feeds the verify corpus and, unless its bands are given,
    # the banding: lazy localCheckpoint so it is evaluated once
    new = new_docs.select("doc_id", "text").localCheckpoint(eager=False)
    eb = _banded(existing) if existing_bands is None else existing_bands
    return _cross_verified(new, existing, eb, threshold, max_bucket, new_bands).select("a", "b")


def _cross_verified(
    new: DataFrame,
    existing: DataFrame,
    eb: DataFrame,
    threshold: float,
    max_bucket: int,
    nb: DataFrame | None = None,
) -> DataFrame:
    """The one new-vs-existing probe: band ``new`` (doc_id, text)
    unless its raw bands ``nb`` are given, guard both raw band sides,
    ``_cross_candidates``, then exact-Jaccard-verify over new ∪
    existing.  ``new`` has two consumers, so callers pass it behind a
    lazy localCheckpoint."""
    nb = _banded(new) if nb is None else nb
    cand = _cross_candidates(_safe_banded(nb, max_bucket), _safe_banded(eb, max_bucket))
    corpus = new.unionByName(existing.select("doc_id", "text"))
    return verify_pairs_jaccard(cand, corpus, threshold)


def batch_pairs(
    batch: DataFrame,
    existing: DataFrame | None,
    bands: DataFrame,
    dir: str,
    batch_id: int,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Verified pairs (a, b) that an arriving ``batch`` (doc_id, text)
    adds to a growing corpus: its raw ``bands`` (``_banded`` or
    ``_banded_wide`` of it) are stored as batch ``batch_id`` of the band
    table at ``dir``, then the batch-local pairs and, given ``existing``
    (every earlier batch's docs), the cross-batch ones are probed over
    the stored rows — no batch is ever minhashed twice."""
    _write_bands(bands, dir, batch_id)
    stored = _stored_bands(batch.sparkSession, dir)
    nb = stored.filter(F.col("batch_id") == batch_id)
    pairs = minhash_verified_dups_banded(batch, nb, threshold, max_bucket).select("a", "b")
    if existing is None:
        return pairs
    eb = stored.filter(F.col("batch_id") < batch_id)
    cross = dedup_incremental_pairs(
        batch, existing, threshold, max_bucket, new_bands=nb, existing_bands=eb
    )
    return pairs.unionByName(cross)


def build_dedup_index(existing: DataFrame, path: str) -> None:
    """Materialize the incremental-dedup index ONCE per corpus
    generation — the train/serve split for dedup (cf. the IVF index,
    ivf.py: build writes centroids + lists, search only probes).  Two
    parquet artifacts under ``path``:

      exact_hash/  (h, matched_keeper)  — phase-1 probe table
      bands/       the corpus's raw band table (``_write_bands``, one
                   batch: 0) — the stored LSH index

    Per-batch probing then skips the expensive corpus-side recompute
    (md5 + k minhashes over every shingle of the WHOLE corpus per
    batch — the part that grows with corpus size, not batch size).
    Verify-phase text lookups still read the corpus table itself:
    candidates are bounded by the LSH output, so that join is linear
    in candidates either way and duplicating every text into the
    index would double corpus storage for nothing.

    Terminal ``_BUILT`` marker (r5): cleared first, written only after
    BOTH artifacts land — the durable.py torn-build rule.  The
    ``index_fingerprint`` of the source corpus lands just before the
    marker: serve-many callers (curate_corpus's dedup_index_path
    switch) gate on ``durable.built(path, fp)`` with the corpus they
    are about to serve and rebuild on mismatch instead of silently
    probing stale bands."""
    spark = existing.sparkSession
    durable.begin(spark, path)
    _exact_hash_table(existing).write.mode("overwrite").parquet(
        f"{path}/exact_hash"
    )
    # dynamic overwrite keeps partitions it does not write (e.g. the
    # band_id=<k> dirs of an index in the older layout): start clean
    durable.delete(spark, f"{path}/bands")
    _write_bands(_banded(existing), f"{path}/bands", 0)
    durable.commit(spark, path, index_fingerprint(existing))


def index_fingerprint(existing: DataFrame) -> str:
    """What a dedup index is a function of: the (doc_id, text) corpus
    it was built over (``durable.fingerprint``)."""
    return durable.fingerprint(existing, ["doc_id", "text"])


def minhash_verified_dups_banded(
    docs: DataFrame,
    bands: DataFrame,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """``minhash_verified_dups`` over a PRECOMPUTED raw band frame
    (the ``_banded(docs)`` rows, e.g. read back from a stored band
    table): the signature pipeline is not re-derived; the hot-bucket
    guard, candidate pairing and exact-Jaccard verify are the same
    tail as the in-plan form, so pairs are identical whenever ``bands``
    equals ``_banded(docs)``."""
    cand = _self_candidates(_safe_banded(bands, max_bucket))
    return verify_pairs_jaccard(cand, docs, threshold)


def minhash_verified_dups_indexed(
    docs: DataFrame, index_path: str, threshold: float = 0.8
) -> DataFrame:
    """``minhash_verified_dups_banded`` over the band table that
    ``build_dedup_index`` stored for the SAME doc set: the signature +
    banding recompute — the part that grows with corpus size — is
    skipped entirely.  Manifest identity with the in-plan form is
    asserted in tests/test_curate.py."""
    bands = _stored_bands(docs.sparkSession, f"{index_path}/bands")
    return minhash_verified_dups_banded(docs, bands, threshold)


def dedup_incremental_indexed(
    new_docs: DataFrame,
    existing: DataFrame,
    index_path: str,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """``dedup_incremental`` probing the MATERIALIZED index written by
    ``build_dedup_index`` instead of re-deriving the corpus-side hash
    and band tables in-plan.  ``existing`` is still read for the
    verify-phase text lookups (see build_dedup_index docstring).
    Asserted equal to the in-plan variant on the contract fixture in
    tests/test_dedup.py."""
    spark = new_docs.sparkSession
    # explicit schema, as in _stored_bands: an EMPTY index degrades to
    # all-new_keeper, not a failure
    ex_hash = spark.read.schema("h string, matched_keeper bigint").parquet(
        f"{index_path}/exact_hash"
    )
    eb = _stored_bands(spark, f"{index_path}/bands")
    return _incremental_decide(new_docs, existing, ex_hash, eb, threshold, max_bucket)


def _incremental_decide(
    new_docs: DataFrame,
    existing: DataFrame,
    ex_hash: DataFrame,
    eb: DataFrame,
    threshold: float,
    max_bucket: int,
) -> DataFrame:
    """Shared decision core: phase-1 exact anti-join against ``ex_hash``,
    phase-2 ``_cross_verified`` of the rest against the raw existing
    bands ``eb``, else new_keeper."""
    nh = new_docs.select("doc_id", "text", _text_key().alias("h"))
    exact = nh.join(ex_hash, "h").select(
        "doc_id", F.lit("dup_exact").alias("status"), "matched_keeper"
    )
    # rest feeds THREE consumers (band probe, verify-token corpus,
    # new_keeper anti-join) — lazy localCheckpoint so the exact-phase
    # anti-join over the batch runs once per action, not three times
    # (r6; materialized by the caller's action, no extra job)
    rest = (
        nh.join(ex_hash, "h", "left_anti")
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    near = (
        _cross_verified(rest, existing, eb, threshold, max_bucket)
        .groupBy("a")
        .agg(F.min("b").alias("matched_keeper"))
        .select(
            F.col("a").alias("doc_id"),
            F.lit("dup_near").alias("status"),
            "matched_keeper",
        )
    )
    new_keepers = rest.join(near, "doc_id", "left_anti").select(
        "doc_id",
        F.lit("new_keeper").alias("status"),
        F.lit(None).cast("bigint").alias("matched_keeper"),
    )
    return exact.unionByName(near).unionByName(new_keepers)


def incremental_split_sql(every: int = 4) -> tuple[str, str]:
    """(existing, new_batch) corpus SQL over documents: existing = 3/4
    of the corpus; the new batch = the held-out quarter (mostly fresh)
    + exact copies of existing docs (phase-1 fixture) + near copies
    with one appended token (phase-2 fixture: J ~ n/(n+1) >= 0.9)."""
    existing = f"SELECT doc_id, text FROM documents WHERE doc_id % {every} <> 0"
    new_batch = f"""
    SELECT doc_id, text FROM documents WHERE doc_id % {every} = 0
    UNION ALL
    SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % {every} = 1
    UNION ALL
    SELECT doc_id + 200000 AS doc_id, concat(text, ' qqnearmarker') AS text
    FROM documents WHERE doc_id % {every} = 2
    """
    return existing, new_batch


def incremental_split(docs: DataFrame, every: int = 4) -> tuple[DataFrame, DataFrame]:
    """Spark side of incremental_split_sql (same fixture, same split)."""
    existing = docs.filter(F.col("doc_id") % every != 0).select("doc_id", "text")
    fresh = docs.filter(F.col("doc_id") % every == 0).select("doc_id", "text")
    exact_copies = docs.filter(F.col("doc_id") % every == 1).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    near_copies = docs.filter(F.col("doc_id") % every == 2).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" qqnearmarker")).alias("text"),
    )
    new_batch = fresh.unionByName(exact_copies).unionByName(near_copies)
    return existing, new_batch


def dedup_incremental_sql(
    existing: str,
    new_batch: str,
    threshold: float = 0.8,
    max_bucket: int = MAX_BUCKET,
) -> str:
    """DuckDB oracle: the same two-phase decision, restated over the
    same split corpus."""
    words = P.words_duck("text")
    shingles = f"list_distinct({P.shingles_duck(words)})"
    mh = P.minhash_from_pairs_duck("mhp", MINHASH_K)
    mh_select = ", ".join(f"{e} AS mh{j}" for j, e in enumerate(mh))

    def banded(src: str) -> str:
        bands = " UNION ALL ".join(
            f"SELECT doc_id, {b} AS band_id, "
            f"concat(mh{2 * b}, '_', mh{2 * b + 1}) AS band_val FROM {src}_sigs"
            for b in range(BANDS)
        )
        return bands

    jac = (
        "round(cast(len(list_intersect(ta.toks, tb.toks)) as double)"
        " / (len(ta.toks) + len(tb.toks)"
        " - len(list_intersect(ta.toks, tb.toks))), 4)"
    )
    return f"""
    WITH existing AS ({existing}),
    newb AS ({new_batch}),
    ex_hash AS (
      SELECT (cast(length(text) as varchar) || ':' || md5(text)) AS h,
             min(doc_id) AS matched_keeper
      FROM existing GROUP BY 1
    ),
    nh AS (
      SELECT doc_id, text,
             (cast(length(text) as varchar) || ':' || md5(text)) AS h
      FROM newb
    ),
    exact AS (
      SELECT nh.doc_id, 'dup_exact' AS status, e.matched_keeper
      FROM nh JOIN ex_hash e USING (h)
    ),
    -- NOT EXISTS, not NOT IN: with a NULL-text doc h is NULL, and NOT
    -- IN's three-valued logic silently drops the row (or empties rest
    -- entirely if ex_hash holds a NULL h) while the Spark side's
    -- left_anti keeps NULL-hash rows as new_keeper (ADVICE r3)
    rest AS (SELECT doc_id, text FROM nh
             WHERE NOT EXISTS (SELECT 1 FROM ex_hash e WHERE e.h = nh.h)),
    rest_paired AS (SELECT doc_id, {P.minhash_pairs_duck(shingles)} AS mhp FROM rest),
    rest_sigs AS (SELECT doc_id, {mh_select} FROM rest_paired),
    ex_paired AS (SELECT doc_id, {P.minhash_pairs_duck(shingles)} AS mhp FROM existing),
    ex_sigs AS (SELECT doc_id, {mh_select} FROM ex_paired),
    nb AS (
      SELECT doc_id, band_id, band_val FROM (
        SELECT *, count(*) OVER (PARTITION BY band_id, band_val) AS bucket_n
        FROM ({banded('rest')})
      ) WHERE bucket_n <= {max_bucket}
    ),
    eb AS (
      SELECT doc_id, band_id, band_val FROM (
        SELECT *, count(*) OVER (PARTITION BY band_id, band_val) AS bucket_n
        FROM ({banded('ex')})
      ) WHERE bucket_n <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT n.doc_id AS a, e.doc_id AS b
      FROM nb n JOIN eb e ON n.band_id = e.band_id AND n.band_val = e.band_val
    ),
    toks AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM rest
      UNION ALL
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM existing
    ),
    near AS (
      SELECT a AS doc_id, 'dup_near' AS status, min(b) AS matched_keeper
      FROM cand p
      JOIN toks ta ON p.a = ta.doc_id
      JOIN toks tb ON p.b = tb.doc_id
      WHERE {jac} >= {threshold}
      GROUP BY a
    ),
    newk AS (
      SELECT doc_id, 'new_keeper' AS status, cast(NULL as bigint) AS matched_keeper
      FROM rest r WHERE NOT EXISTS (SELECT 1 FROM near n WHERE n.doc_id = r.doc_id)
    )
    SELECT doc_id, status, matched_keeper FROM exact
    UNION ALL SELECT doc_id, status, matched_keeper FROM near
    UNION ALL SELECT doc_id, status, matched_keeper FROM newk
    """
