#!/usr/bin/env python
"""In-process A/B of ``curate_corpus``: a parent checkout's against this
checkout's, on ONE SparkSession, in alternating repetitions (the order
flips every repetition), with the task count and wall of every stage
each curation ran.

The parent's ``cvocr_spark`` is loaded under another package name and
shipped to the Python workers under that name too, so both versions
build and run their plans side by side.

Input per seed: the benchmark's ``dedup`` inputs — 2500 rows of
``perfbench/data/documents.parquet`` chosen by the seed, written as 4
parquet parts and read back, plus injected exact copies; the eval set
is every doc with ``doc_id % 50 = 7``.  Each curation writes its
manifest to parquet and releases its cache, as the benchmark does; the
two sides' manifests are checked equal (sorted-row sha256).

Stage counts come from the application's event log: a stage's
operators are the scope names of its RDDs, and its wall is completion
minus submission.  Stages are named by what they run: a stage that
ran Python (its ``data returned from Python workers`` metric is set;
a stage that only reads a cached frame lists the kernel among its
RDDs but runs none) is ``cc_solve`` (the one-task ``MapInArrow``
behind a ``Coalesce``) or ``text_kernel``; any other stage is
``generate`` (it holds a ``Generate``: decontam's gram explode, the
pair explode) or ``other``.

  python plans/r07/curate_once_ab.py <parent_checkout> <out.json> [reps] [seeds]

``seeds`` is first-last, inclusive (default 401-403); ``reps`` per seed
and side (default 6).  Runs at local[4] with 4 shuffle partitions.
"""

from __future__ import annotations

import glob
import hashlib
import importlib
import importlib.util
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import zipfile
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(os.path.dirname(HERE))
ALIAS = "parent_cvocr_spark"
TAG = "curate_once_ab.run"


def _parent_package(spark, checkout: str, tmp: str):
    """Import the parent's package as ``ALIAS`` here and on the workers."""
    pkg = os.path.join(checkout, "cvocr_spark")
    zpath = f"{tmp}/{ALIAS}.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_STORED) as zf:
        for root, _dirs, files in os.walk(pkg):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    zf.write(full, os.path.join(ALIAS, os.path.relpath(full, pkg)))
    spark.sparkContext.addPyFile(zpath)
    spec = importlib.util.spec_from_file_location(
        ALIAS, os.path.join(pkg, "__init__.py"), submodule_search_locations=[pkg]
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules[ALIAS] = mod
    spec.loader.exec_module(mod)
    return lambda name: importlib.import_module(f"{ALIAS}.{name}")


def _quartiles(xs: list[float]) -> dict:
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else xs * 3
    return {"median": round(statistics.median(xs), 3), "q1": round(q[0], 3), "q3": round(q[2], 3)}


def _kind(ops: set[str], ran_python: bool) -> str:
    if ran_python:
        return "cc_solve" if "Coalesce" in ops else "text_kernel"
    return "generate" if "Generate" in ops else "other"


def stages_by_run(event_dir: str) -> dict[str, list[dict]]:
    """Per run tag: each completed stage's kind, task count, wall and
    operators, in submission order."""
    tag_of_stage: dict[int, str] = {}
    out: dict[str, list[dict]] = defaultdict(list)
    for path in sorted(glob.glob(f"{event_dir}/*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    tag = (ev.get("Properties") or {}).get(TAG)
                    if tag:
                        for sid in ev.get("Stage IDs", []):
                            tag_of_stage.setdefault(sid, tag)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    tag = tag_of_stage.get(info["Stage ID"])
                    if tag is None:
                        continue
                    ops = set()
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            ops.add(json.loads(scope)["name"])
                    ran_python = any(
                        a.get("Name") == "data returned from Python workers" and int(a.get("Value") or 0)
                        for a in info.get("Accumulables", [])
                    )
                    out[tag].append({
                        "stage": info["Stage ID"],
                        "kind": _kind(ops, ran_python),
                        "tasks": info["Number of Tasks"],
                        "wall_s": round((info["Completion Time"] - info["Submission Time"]) / 1000, 3),
                        "ops": sorted(ops),
                    })
    for stages in out.values():
        stages.sort(key=lambda s: s["stage"])
    return out


def main(parent: str, out: str, reps: int = 6, seeds: str = "401-403") -> None:
    tmp = tempfile.mkdtemp(prefix="curate_once_ab_")
    events = f"{tmp}/events"
    os.makedirs(events)
    os.makedirs(f"{tmp}/conf")
    with open(f"{tmp}/conf/spark-defaults.conf", "w") as f:
        f.write(f"spark.eventLog.enabled true\nspark.eventLog.dir file://{events}\n"
                "spark.eventLog.compress false\nspark.eventLog.rolling.enabled false\n"
                "spark.ui.showConsoleProgress false\n")
    os.environ["SPARK_CONF_DIR"] = f"{tmp}/conf"
    sys.path.insert(0, REPO)
    import pyarrow.parquet as pq

    from cvocr_spark.operators import dedup as dd
    from cvocr_spark.plans import curate as new_curate
    from cvocr_spark.session import build_session, ensure_shipped
    from perfbench import inputs

    spark = build_session(app="curate-once-ab", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    old_curate = _parent_package(spark, parent, tmp)("plans.curate")
    sides = {"parent": old_curate, "change": new_curate}
    sc = spark.sparkContext

    def curate(mod, docs, ev, path: str, tag: str) -> float:
        sc.setLocalProperty(TAG, tag)
        t0 = time.perf_counter()
        m = mod.curate_corpus(docs, ev)
        m.write.mode("overwrite").parquet(path)
        mod.release(m)
        wall = time.perf_counter() - t0
        sc.setLocalProperty(TAG, None)
        return wall

    def digest(path: str) -> str:
        rows = sorted(map(tuple, spark.read.parquet(path).collect()), key=repr)
        return hashlib.sha256(repr(rows).encode()).hexdigest()

    lo, hi = map(int, seeds.split("-"))
    result: dict = {}
    for seed in range(lo, hi + 1):
        d = f"{tmp}/in{seed}"
        inputs.write_parts(inputs.sample_documents(seed, 2500), d, 4)
        base = spark.read.parquet(d)
        docs = dd.with_injected_dups(base.select("doc_id", "text"))
        ev = base.filter("doc_id % 50 = 7").selectExpr("doc_id + 9000000 AS doc_id", "text")
        sha = {}
        for side, mod in sides.items():  # warm-up, and the rows check
            curate(mod, docs, ev, f"{tmp}/m_{side}", f"{seed}:{side}:warm")
            sha[side] = digest(f"{tmp}/m_{side}")
        walls = {"parent": [], "change": []}
        for r in range(reps):
            order = ("parent", "change") if r % 2 == 0 else ("change", "parent")
            for side in order:
                walls[side].append(
                    curate(sides[side], docs, ev, f"{tmp}/m_{side}", f"{seed}:{side}:{r}")
                )
        result[str(seed)] = {
            "docs": docs.count(),
            "manifest_sha256": sha,
            "manifests_equal": sha["parent"] == sha["change"],
            "parent_s": _quartiles(walls["parent"]),
            "change_s": _quartiles(walls["change"]),
            "change_over_parent_median": round(
                statistics.median(walls["change"]) / statistics.median(walls["parent"]), 3
            ),
            "walls": {k: [round(x, 3) for x in v] for k, v in walls.items()},
        }
        print(seed, json.dumps({k: v for k, v in result[str(seed)].items() if k != "walls"}), flush=True)
    spark.stop()

    per_run = stages_by_run(events)
    for seed in range(lo, hi + 1):
        entry = result[str(seed)]
        # the stage shape of each side's timed runs; every rep is listed
        # by kind as (tasks, median wall over the reps)
        for side in sides:
            runs = [per_run.get(f"{seed}:{side}:{r}", []) for r in range(reps)]
            shape = defaultdict(list)
            for stages in runs:
                for s in stages:
                    shape[(s["kind"], s["tasks"])].append(s["wall_s"])
            entry[f"{side}_stages"] = {
                f"{kind} x{tasks} tasks": {
                    "stages_per_run": round(len(w) / reps, 2),
                    "median_wall_s": round(statistics.median(w), 3),
                }
                for (kind, tasks), w in sorted(shape.items())
            }
            entry[f"{side}_last_run_stages"] = runs[-1]
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out, "w") as f:
        json.dump(
            {
                "what": (
                    "in-process A/B of curate_corpus, parent checkout vs this checkout; "
                    f"{reps} alternating reps per seed after one warm-up each; local[4] "
                    "on a 4-vCPU VM; the perfbench dedup inputs (2500 sampled docs in 4 "
                    "parquet parts plus injected copies, eval docs doc_id % 50 = 7)"
                ),
                "seeds": result,
            },
            f, indent=1, sort_keys=True,
        )


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2], *(int(a) for a in sys.argv[3:4]), *sys.argv[4:5])
