#!/usr/bin/env python3
"""One benchmark run: set up a local Spark session sized to the box, run one
seeded workload through the production entry points, check its outputs,
and print the metrics.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  The line before
it carries the same run's metrics under their per-workload names (for
example ``extract_docs_per_s``) and ``failed_ops_ratio``.

Everything the run writes goes under ``.perfbench_tmp/`` in the checkout,
removed on exit, except its results and span dumps, kept in
``.perfbench_results/`` so a traced run can report its overhead against
the last untraced run of the same workload.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_CORES = 4


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("extract", "dedup"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure(tmp: str, cores: int, event_dir: str | None) -> None:
    """Point every scratch path of Spark, the JVM and Python at ``tmp``."""
    from perfbench.tracing import eventlog_conf

    for d in ("local", "conf", "jtmp", "warehouse"):
        os.makedirs(f"{tmp}/{d}")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata under /tmp; JVM temp files under the run dir
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/jtmp -XX:-UsePerfData",
    }
    if event_dir is not None:
        os.makedirs(event_dir)
        conf.update(eventlog_conf(event_dir))
    with open(f"{tmp}/conf/spark-defaults.conf", "w", encoding="utf-8") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    os.environ.update(
        TMPDIR=tmp,
        SPARK_CONF_DIR=f"{tmp}/conf",
        SPARK_LOCAL_DIRS=f"{tmp}/local",
        SPARK_GRAFT_WAREHOUSE=f"{tmp}/warehouse",
        SPARK_GRAFT_CPUS=str(cores),
    )
    tempfile.tempdir = tmp


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    from perfbench.procs import reap_descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    reap_descendants()


def _load(path: str) -> dict | None:
    try:
        with open(path, encoding="utf-8") as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _save(path: str, obj: dict) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, indent=1, sort_keys=True)


def _units() -> tuple[dict[str, str], dict[str, str]]:
    """Units of the end-to-end and of the per-layer metrics BENCHMARK.json
    declares, by name."""
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    return tuple({m["name"]: m["unit"] for m in bench[key]} for key in ("end_to_end", "per_layer"))


def run(args: argparse.Namespace, tmp: str, cores: int) -> int:
    from perfbench import stats
    from perfbench.procs import PeakRss
    from perfbench.tracing import Tracer, phase_counters
    from perfbench.workloads import WORKLOADS, Ctx

    traced = bool(args.trace)
    e2e_units, layer_units = _units()
    event_dir = f"{tmp}/events" if traced else None
    _configure(tmp, cores, event_dir)
    results = os.path.join(ROOT, ".perfbench_results")
    run_id = uuid.uuid4().hex[:12]
    tracer = Tracer(run_id, traced)
    rss = PeakRss().start()

    from cvocr_spark.session import build_session, ensure_shipped

    with tracer.span("setup.session"):
        t0 = time.perf_counter()
        spark = build_session(app=f"perfbench-{args.workload}", master=f"local[{cores}]", shuffle_partitions=cores)
        session_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = Ctx(spark, tmp, cores, args.seed, args.seconds, tracer, rss)
        _, ship_s = ctx.call("session.ensure_shipped", ensure_shipped, spark)
        outcome = WORKLOADS[args.workload](ctx)
    finally:
        rss.stop()
        _stop_spark(spark)
    peak_mb = ctx.peak_rss_mb

    e2e = {
        "setup_s": session_s + ship_s + outcome.setup_s,
        "docs_per_s": outcome.docs_per_s,
    }
    named = {
        "setup_s": (e2e["setup_s"], "s"),
        **outcome.named,
        "peak_rss_mb": (peak_mb, "MB"),
        "failed_ops_ratio": (stats.failed_ops_ratio(outcome.failed, outcome.attempted), "ratio"),
    }
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "cores": cores,
        "trace": args.trace,
        "named": {k: {"value": v, "unit": u} for k, (v, u) in named.items()},
    }))

    untraced_path = os.path.join(results, f"{args.workload}-untraced.json")
    if traced:
        layers = dict.fromkeys(layer_units, 0)
        layers["session.build_s"] = session_s
        layers.update(outcome.layers)
        for p, counters in phase_counters(event_dir).items():
            for k, v in counters.items():
                layers[f"spark.{k}.{p}"] = v
        unknown = set(layers) - set(layer_units)
        if unknown:
            raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        base = _load(untraced_path)
        overhead = None
        if base is not None:
            overhead = {
                "against_seed": base["seed"],
                "traced_minus_untraced": {k: e2e[k] - base["e2e"][k] for k in e2e},
            }
        trace_path = os.path.join(results, f"trace-{args.workload}-seed{args.seed}-{run_id}.json")
        _save(trace_path, {
            "run_id": run_id,
            "workload": args.workload,
            "seed": args.seed,
            "e2e_traced": e2e,
            "tracing_overhead": overhead,
            "per_layer": layers,
            "self_s": tracer.self_s(),
            "spans": tracer.spans,
        })
        print(json.dumps({"trace_file": os.path.relpath(trace_path, ROOT), "tracing_overhead": overhead}))
        metrics = {k: {"value": v, "unit": layer_units[k]} for k, v in layers.items()}
    else:
        _save(untraced_path, {"seed": args.seed, "run_id": run_id, "e2e": e2e})
        metrics = {k: {"value": v, "unit": e2e_units[k]} for k, v in e2e.items()}

    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its scratch dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    try:
        import cvocr_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the cvocr_spark package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    scratch = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=scratch)
    try:
        return run(args, tmp, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass  # another run's dir is still there


if __name__ == "__main__":
    sys.exit(main())
