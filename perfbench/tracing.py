"""Spans recorded from the benchmark's side of each layer boundary, and Spark
engine counters read back from an event log.

A span is (id, name, start, end, parent, run_id).  Spans are held in memory
and written out once when the run ends.  Spark jobs are tagged with the
benchmark phase that launched them (a local property set around each
phase), so the event log can be grouped by phase after the session stops.
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.phase"
# Benchmark phases; the Spark counters are grouped by them.
PHASES = ("setup", "main", "served", "stream")


class Tracer:
    """Records nested spans when enabled; a no-op context otherwise."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "start": time.perf_counter() - self._t0,
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def self_s(self) -> dict[str, float]:
        """Per span name: duration minus the time its direct children cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["end"] is not None:
                out[s["name"]] += s["end"] - s["start"] - child[s["id"]]
        return dict(out)


@contextlib.contextmanager
def phase(spark, name: str, enabled: bool):
    """Tag the Spark jobs launched inside the block with phase ``name``."""
    if not enabled:
        yield
        return
    sc = spark.sparkContext
    prev = sc.getLocalProperty(SPAN_PROPERTY)
    sc.setLocalProperty(SPAN_PROPERTY, name)
    try:
        yield
    finally:
        sc.setLocalProperty(SPAN_PROPERTY, prev)


def eventlog_conf(event_dir: str) -> dict[str, str]:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + event_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def phase_counters(event_dir: str) -> dict[str, dict[str, float]]:
    """Per phase: jobs, summed task run time, shuffle bytes written and
    bytes spilled, from the (stopped) application's event log."""
    stage_phase: dict[int, str] = {}
    out = {p: {"jobs": 0, "task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0} for p in PHASES}
    for path in sorted(glob.glob(f"{event_dir}/*")):
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    p = (ev.get("Properties") or {}).get(SPAN_PROPERTY)
                    if p in out:
                        out[p]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_phase.setdefault(sid, p)
                elif kind == "SparkListenerTaskEnd":
                    p = stage_phase.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if p is None or not m:
                        continue
                    out[p]["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                    out[p]["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    out[p]["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out
