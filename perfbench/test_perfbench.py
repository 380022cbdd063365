"""Unit checks for the benchmark's own arithmetic and bookkeeping (no Spark).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from perfbench import inputs, stats
from perfbench.tracing import PHASES, SPAN_PROPERTY, Tracer, phase_counters

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_median_picks_middle_or_mean_of_middles():
    assert stats.median([3.0, 1.0, 2.0]) == 2.0
    assert stats.median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        stats.median([])


def test_failed_ops_ratio_base_is_attempted():
    # a wrong page counts against every page checked, not the ones that passed
    assert stats.failed_ops_ratio(1, 2003) == 1 / 2003
    assert stats.failed_ops_ratio(0, 5) == 0.0
    with pytest.raises(ValueError):
        stats.failed_ops_ratio(0, 0)
    with pytest.raises(ValueError):
        stats.failed_ops_ratio(6, 5)


def test_derived_differences():
    assert stats.exchange_s(2.25, 1.0) == 1.25
    assert stats.exchange_s(1.0, 1.5) == -0.5  # reported as measured
    assert stats.write_manifest_s(3.75, 2.25) == 1.5
    assert stats.kernel_post_us(900.0, 5.0, 440.0) == 455.0
    assert stats.busy_ratio(2.0, 1.0, 4) == 0.5
    assert stats.rate(2000, 4.0) == 500.0
    assert stats.ratio(3, 0) == 0.0
    with pytest.raises(ValueError):
        stats.busy_ratio(1.0, 0.0, 4)


def test_tracer_self_time_subtracts_children():
    tr = Tracer("r", enabled=True)
    tr.spans = [
        {"id": 0, "name": "main", "start": 0.0, "end": 10.0, "parent": None, "run_id": "r"},
        {"id": 1, "name": "op", "start": 1.0, "end": 4.0, "parent": 0, "run_id": "r"},
        {"id": 2, "name": "op", "start": 5.0, "end": 9.0, "parent": 0, "run_id": "r"},
        {"id": 3, "name": "inner", "start": 5.0, "end": 6.0, "parent": 2, "run_id": "r"},
    ]
    assert tr.self_s() == pytest.approx({"main": 3.0, "op": 6.0, "inner": 1.0})


def test_tracer_records_nesting_and_disabled_records_nothing():
    tr = Tracer("r", enabled=True)
    with tr.span("a"):
        with tr.span("b"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("a", None), ("b", 0)]
    off = Tracer("r", enabled=False)
    with off.span("a"):
        pass
    assert off.spans == []


def test_phase_counters_group_jobs_by_phase(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {SPAN_PROPERTY: "main"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1500, "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
            "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {"Executor Run Time": 9000}},
    ]
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = phase_counters(str(tmp_path))
    assert out["main"] == {"jobs": 1, "task_s": 2.0, "shuffle_write_bytes": 10, "spill_bytes": 3}
    assert out["setup"]["jobs"] == 0 and out["served"]["task_s"] == 0.0


def test_documents_are_a_seeded_sample():
    a, b = inputs.sample_documents(7, 300), inputs.sample_documents(7, 300)
    assert a.equals(b)
    assert not a.equals(inputs.sample_documents(8, 300))
    ids = a.column("doc_id").to_pylist()
    assert ids == sorted(ids) and len(set(ids)) == 300
    full = pq.read_table(inputs.DOCUMENTS)
    assert full.num_rows == 5000
    by_id = {r["doc_id"]: r for r in full.to_pylist()}
    assert all(by_id[r["doc_id"]] == r for r in a.to_pylist())


def test_stream_files_keep_order_and_rows(tmp_path):
    rows = [(i, f"t{i}") for i in range(25)] + [(1000 + i, f"t{i}") for i in range(0, 25, 10)]
    chunks = inputs.stream_files(rows, 3, 4, str(tmp_path))
    assert sorted(r for c in chunks for r in c) == sorted(rows)
    assert chunks == inputs.stream_files(list(reversed(rows)), 3, 4, str(tmp_path))
    mtimes = [os.path.getmtime(tmp_path / f"b{b:02d}.parquet") for b in range(4)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 4


def test_predictions_cite_declared_names():
    with open(os.path.join(ROOT, "perfbench", "predictions.json"), encoding="utf-8") as f:
        pred = json.load(f)
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    names = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]}
    e2e = {m["name"] for m in bench["end_to_end"]} | set(pred["named_metrics"])
    templates = {n.rsplit(".", 1)[0] for n in names if n.rsplit(".", 1)[-1].isdigit() or n.startswith("spark.")}
    for row in pred["layers"]:
        for m in row["metrics"]:
            assert m in names or m.rsplit(".", 1)[0] in templates, m
        if isinstance(row["moves"], dict):
            assert set(row["moves"]) == set(PHASES)
        else:
            assert set(row["moves"]) <= e2e, row["layer"]
        assert set(row["on"]) | set(row["not_on"]) <= {"extract", "dedup"}
