"""The durable-state layer: one module owns filesystem access for
resumable and served state (commit markers, fingerprints,
generations), so every such path works on any Hadoop filesystem."""

from __future__ import annotations

import os
import pathlib
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cvocr_spark import durable  # noqa: E402

_PKG = pathlib.Path(__file__).resolve().parent.parent / "cvocr_spark"


def test_filesystem_access_only_in_durable():
    """A hand-written state layer elsewhere (Hadoop FS handles, or a
    local-only listing that sees nothing on a non-local path) fails
    here: route it through cvocr_spark/durable.py instead."""
    offenders = [
        f"{path.relative_to(_PKG)}: {needle}"
        for path in sorted(_PKG.rglob("*.py"))
        if path.name != "durable.py"
        for needle in ("org.apache.hadoop.fs", "os.listdir")
        if needle in path.read_text()
    ]
    assert offenders == []


def test_generations_commit_and_retention_over_uri(spark, tmp_path):
    """Committed generations are the numeric ``<prefix><n>`` dirs with
    ``_SUCCESS``; junk and torn entries are skipped by the listing,
    ``clear`` removes torn ones too, ``retain`` only committed ones."""
    root = tmp_path / "state"
    for name in ("gen_0", "gen_2", "gen_10", "gen_3", "gen_1.tmp", "gen_x", "other_4"):
        (root / name).mkdir(parents=True)
    for name in ("gen_0", "gen_2", "gen_10", "gen_1.tmp"):
        (root / name / "_SUCCESS").touch()
    uri = root.as_uri()
    assert durable.generations(spark, uri, "gen_") == [0, 2, 10]
    assert durable.generations(spark, f"{uri}/missing", "gen_") == []

    durable.retain(spark, uri, "gen_", 2)
    assert sorted(os.listdir(root)) == ["gen_1.tmp", "gen_10", "gen_2", "gen_3", "gen_x", "other_4"]
    durable.clear(spark, uri, "gen_")
    assert sorted(os.listdir(root)) == ["gen_1.tmp", "gen_x", "other_4"]

    idx = f"{uri}/idx"
    assert not durable.built(spark, idx)
    durable.commit(spark, idx, "7:42")
    assert durable.built(spark, idx) and durable.built(spark, idx, "7:42")
    assert not durable.built(spark, idx, "7:43")
    durable.begin(spark, idx)
    assert not durable.built(spark, idx, "7:42")
    assert durable.read_fingerprint(spark, idx) == "7:42"


def test_fingerprint_of_file_scan_runs_no_job(spark, tmp_path):
    """A bare file scan is fingerprinted from its file listing on the
    driver (no Spark job, so serving a stored index costs no pass over
    its input); a rewrite changes it.  A derived frame is fingerprinted
    from its content by one aggregate job."""
    src = str(tmp_path / "src")
    spark.range(50).selectExpr("id AS vec_id").write.parquet(src)
    sc = spark.sparkContext

    def jobs(group, frame):
        sc.setJobGroup(group, group)
        try:
            fp = durable.fingerprint(frame, ["vec_id"], 8)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return fp, sc.statusTracker().getJobIdsForGroup(group)

    fp, ran = jobs("fp_files", spark.read.parquet(src))
    assert ran == [] and fp.startswith("files:") and fp.endswith(":8")
    assert durable.fingerprint(spark.read.parquet(src), ["vec_id"], 8) == fp
    spark.range(60).selectExpr("id AS vec_id").write.mode("overwrite").parquet(src)
    assert durable.fingerprint(spark.read.parquet(src), ["vec_id"], 8) != fp
    fp_rows, ran = jobs("fp_rows", spark.read.parquet(src).filter("vec_id < 10"))
    assert ran != [] and fp_rows.startswith("10:")
