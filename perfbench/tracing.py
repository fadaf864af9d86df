"""Spans around operator calls, and Spark event-log counters per layer.

Every operator call the benchmark makes goes through ``Recorder.call``: it
times the call, keeps one span (name, start, end, parent, trace id) in
memory, counts the call as attempted (and failed if it raised), and in a
traced run tags the Spark jobs it launches with ``setJobGroup(<layer>)``.
After the session stops, ``fold_event_log`` reads the uncompressed JSON
event log and sums stage metrics per job group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict

#: job groups whose Spark counters the traced run reports
LAYERS = ("maker.build", "maker.merge", "categorizer", "mibf.build", "mibf.classify")

#: per-layer counter names, in report order
COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "python_s", "cpu_s",
    "arrow_to_py_bytes", "arrow_from_py_bytes", "shuffle_bytes",
    "fetch_wait_s", "result_bytes", "core_idle_frac",
)

#: group for the benchmark's own jobs (output checks, expected counts)
AUX_GROUP = "bench.aux"


class Recorder:
    """Spans, call counts and per-layer call times for one run."""

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []
        self.times: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.trace_id = "setup"
        self.parent: int | None = None

    def _group(self, name: str) -> None:
        if self.traced:
            self.sc.setJobGroup(name, name)

    def call(self, layer: str, fn):
        """Run one operator call as a span of ``layer``; re-raises failures."""
        self.attempted += 1
        self._group(layer)
        span = {"name": layer, "trace": self.trace_id, "parent": self.parent,
                "id": len(self.spans), "tagged": self.traced}
        t0 = time.perf_counter()
        try:
            return fn()
        except Exception:
            self.failed += 1
            span["error"] = True
            raise
        finally:
            t1 = time.perf_counter()
            self._group(AUX_GROUP)
            span["start"], span["end"] = t0, t1
            self.spans.append(span)
            if not span.get("error"):
                self.times[layer].append(t1 - t0)

    def last_s(self, layer: str) -> float:
        """Seconds of the latest successful call of ``layer``."""
        return self.times[layer][-1]

    def check(self, ok: bool, what: str) -> bool:
        """Count one output check as an attempted operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# CHECK FAILED: {what}", flush=True)
        return ok

    def open_span(self, name: str, trace_id: str) -> dict:
        """A parent span (one pass or batch); close it with ``close_span``."""
        self.trace_id = trace_id
        span = {"name": name, "trace": trace_id, "parent": None,
                "id": len(self.spans), "start": time.perf_counter()}
        self.spans.append(span)
        self.parent = span["id"]
        return span

    def close_span(self, span: dict) -> float:
        span["end"] = time.perf_counter()
        self.parent = None
        return span["end"] - span["start"]

    def _tagged(self, layer: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == layer and s.get("tagged")]

    def span_wall(self, layer: str) -> float:
        """Wall seconds of the calls of ``layer`` that tagged their jobs."""
        return sum(s["end"] - s["start"] for s in self._tagged(layer))

    def span_calls(self, layer: str) -> int:
        return len(self._tagged(layer))

    def write_spans(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _acc(stage_info: dict) -> dict[str, float]:
    out = {}
    for a in stage_info.get("Accumulables", []):
        try:
            out[a["Name"]] = float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum stage metrics per job group over every event log in ``log_dir``.

    Jobs come from ``SparkListenerJobStart`` (its ``spark.jobGroup.id``
    property and stage list), stage metrics from
    ``SparkListenerStageCompleted`` accumulables, failed tasks from
    ``SparkListenerTaskEnd`` reasons.
    """
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))  # rolling logs
    if not paths:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    stage_group: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    totals[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    t = totals[stage_group.get(info["Stage ID"], "")]
                    a = _acc(info)
                    t["stages"] += 1
                    t["tasks"] += info.get("Number of Tasks", 0)
                    t["python_s"] += a.get("time to run Python workers", 0.0) / 1e3
                    t["cpu_s"] += a.get("internal.metrics.executorCpuTime", 0.0) / 1e9
                    t["run_s"] += a.get("internal.metrics.executorRunTime", 0.0) / 1e3
                    t["arrow_to_py_bytes"] += a.get("data sent to Python workers", 0.0)
                    t["arrow_from_py_bytes"] += a.get("data returned from Python workers", 0.0)
                    t["shuffle_bytes"] += a.get("internal.metrics.shuffle.write.bytesWritten", 0.0)
                    t["fetch_wait_s"] += a.get("internal.metrics.shuffle.read.fetchWaitTime", 0.0) / 1e3
                    t["result_bytes"] += a.get("internal.metrics.resultSize", 0.0)
                elif kind == "SparkListenerTaskEnd":
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        totals[stage_group.get(ev.get("Stage ID"), "")]["failed_tasks"] += 1
    return {g: dict(v) for g, v in totals.items()}


def layer_counters(totals: dict, rec: Recorder, cores: int) -> dict[str, float]:
    """Per-call Spark counters for each layer in ``LAYERS``.

    Counts, seconds and bytes are averaged over the layer's calls;
    ``core_idle_frac`` = 1 - task time / (span wall x cores) over them all.
    A layer the workload never calls reports zeros.
    """
    out = {}
    for layer in LAYERS:
        t = totals.get(layer, {})
        calls = rec.span_calls(layer)
        wall = rec.span_wall(layer)
        for c in COUNTERS:
            if c == "core_idle_frac":
                v = 1.0 - t.get("run_s", 0.0) / (wall * cores) if wall > 0 else 0.0
            else:
                v = t.get(c, 0.0) / calls if calls else 0.0
            out[f"{layer}.{c}"] = v
    return out
