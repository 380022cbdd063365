"""Durable state on any Hadoop filesystem — the one module that knows
the on-disk commit protocol.  Every path goes through the Hadoop FS
API, so local dirs, ``file://`` URIs and cluster filesystems behave
the same (a local ``os.listdir`` silently lists nothing on a
non-local path).

  * ``_BUILT``        terminal marker of a multi-artifact build:
                      ``begin`` clears it first, ``commit`` writes it
                      last, so a build killed mid-write reads as
                      not-built, never as the stale previous build.
  * ``_FINGERPRINT``  the input the state was built from (``fingerprint``
                      of its files or content, and build params), written just
                      before the marker; ``built(path, fp)`` fails on a
                      missing or different one, so changed input
                      rebuilds instead of serving stale state.
  * ``<prefix><n>/``  numbered generations (CC ``round_<k>``, streaming
                      ``gen_<b>``) whose parquet ``_SUCCESS`` is the
                      commit; ``generations`` lists only committed ones.
  * ``<col>=<v>/``    partitions of a table that grows by batch or
                      bucket, written by ``overwrite_partitions``: a
                      replayed write replaces only its own partitions.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import functions as F


def _fs(spark, path: str):
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def exists(spark, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def delete(spark, path: str) -> None:
    """Recursive delete; a missing path is a no-op."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def overwrite_partitions(df, path: str, col: str) -> None:
    """Write ``df`` as parquet partitioned by ``col``, replacing only
    the ``col`` values it holds (dynamic partition overwrite): a batch
    replayed after a kill rewrites its own partitions instead of
    duplicating rows, and leaves every other partition alone."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )


def read_fingerprint(spark, path: str) -> str | None:
    """The fingerprint recorded under ``path``, or None (never written,
    or a torn write) — None never matches, forcing a rebuild."""
    fs, p = _fs(spark, f"{path}/_FINGERPRINT")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8").strip()
    finally:
        stream.close()


def write_fingerprint(spark, path: str, fp: str) -> None:
    fs, p = _fs(spark, f"{path}/_FINGERPRINT")
    out = fs.create(p, True)
    try:
        out.write(bytearray(fp.encode("utf-8")))
    finally:
        out.close()


def fingerprint(df, cols: list[str], *params) -> str:
    """What state built from ``df`` is a function of, then the build
    ``params`` — the ``fp`` to pass to ``commit``/``built`` so changed
    input rebuilds.

    A bare file scan (``spark.read`` with nothing on top) is keyed on
    its schema and every input file's (path, size, mtime): O(files) on
    the driver and no Spark job, so serve-many callers pay no scan per
    serve.  A rewrite lands new part files or a new size/mtime.  Any
    other frame is keyed on its content: row count + order-insensitive
    bit-XOR of a per-row xxhash64 of ``cols`` (one aggregate; never
    crosses the oracle boundary, so the JVM-native hash is fine)."""
    plan = df._jdf.queryExecution().analyzed()
    if (
        plan.getClass().getSimpleName() == "LogicalRelation"
        and plan.relation().getClass().getSimpleName() == "HadoopFsRelation"
    ):
        parts = [df.schema.simpleString()]
        for f in sorted(df.inputFiles()):
            fs, p = _fs(df.sparkSession, f)
            st = fs.getFileStatus(p)
            parts.append(f"{f}:{st.getLen()}:{st.getModificationTime()}")
        key = ["files", hashlib.sha256("|".join(parts).encode()).hexdigest()]
    else:
        r = (
            df.select(F.xxhash64(*cols).alias("h"))
            .agg(F.count("*").alias("n"), F.expr("bit_xor(h)").alias("x"))
            .collect()[0]
        )
        key = [r["n"], r["x"]]
    return ":".join(str(v) for v in (*key, *params))


def begin(spark, path: str) -> None:
    """Start a (re)build: clear the terminal marker before any write."""
    delete(spark, f"{path}/_BUILT")


def commit(spark, path: str, fp: str | None = None) -> None:
    """Finish a build: the fingerprint (if any), then the marker."""
    if fp is not None:
        write_fingerprint(spark, path, fp)
    fs, p = _fs(spark, f"{path}/_BUILT")
    fs.create(p, True).close()


def built(spark, path: str, fp: str | None = None) -> bool:
    """True iff the build committed and, when ``fp`` is given, was
    built from the input with that fingerprint."""
    return exists(spark, f"{path}/_BUILT") and (
        fp is None or read_fingerprint(spark, path) == fp
    )


def _numbered(spark, dir: str, prefix: str) -> list[int]:
    """Every ``<prefix><n>`` entry under ``dir``, committed or not.
    Other suffixes (a stray ``gen_1.tmp`` left by tooling, ``gen_01``)
    are skipped: one junk entry must not take down every later run."""
    fs, p = _fs(spark, dir)
    if not fs.exists(p):
        return []
    pat = re.compile(re.escape(prefix) + r"(0|[1-9]\d*)")
    return sorted(
        int(m.group(1))
        for st in fs.listStatus(p)
        if (m := pat.fullmatch(st.getPath().getName()))
    )


def generations(spark, dir: str, prefix: str) -> list[int]:
    """Ascending ``n`` of the COMMITTED ``<prefix><n>`` dirs under
    ``dir`` (``_SUCCESS`` present: a kill mid-write leaves none)."""
    return [
        n for n in _numbered(spark, dir, prefix)
        if exists(spark, f"{dir}/{prefix}{n}/_SUCCESS")
    ]


def clear(spark, dir: str, prefix: str) -> None:
    """Delete every ``<prefix><n>`` dir under ``dir``, torn or not."""
    for n in _numbered(spark, dir, prefix):
        delete(spark, f"{dir}/{prefix}{n}")


def retain(spark, dir: str, prefix: str, keep: int) -> None:
    """Delete all but the newest ``keep`` committed generations."""
    for n in generations(spark, dir, prefix)[:-keep]:
        delete(spark, f"{dir}/{prefix}{n}")
