"""Phase timing and Spark telemetry for the benchmark's own calls.

Every call the benchmark makes into the engine runs inside
``Tracer.phase(op, phase)``.  The phase is always timed.  When tracing is
on, the phase also sets the Spark job group ``{workload}/{op}/{phase}``
and a ``perfbench.pass`` local property, so that every job, stage and
task in Spark's event log can be charged to the phase that started it.
``read_event_log`` turns the log into per-(pass, group) sums.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.enabled = False
        self.sc = None
        self.pass_no = 0
        #: (pass, job group, start_epoch_ms, end_epoch_ms)
        self.windows: list[tuple[int, str, float, float]] = []

    def attach(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled

    @contextmanager
    def phase(self, op: str, phase: str, times: dict):
        """Time ``phase`` of ``op`` into ``times[phase]`` (seconds)."""
        group = f"{self.workload}/{op}/{phase}"
        if self.enabled:
            self.sc.setLocalProperty("perfbench.pass", str(self.pass_no))
            self.sc.setJobGroup(group, phase)
        w0 = time.time()
        t0 = time.perf_counter()
        try:
            yield
        finally:
            times[phase] = times.get(phase, 0.0) + time.perf_counter() - t0
            if self.enabled:
                self.windows.append((self.pass_no, group, w0 * 1e3, time.time() * 1e3))
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("perfbench.pass", None)


def plan_seconds(df) -> float:
    """Catalyst analysis + optimization + planning time of ``df``'s own
    query execution, from its ``QueryPlanningTracker``."""
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:
        return 0.0
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1e3


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def read_event_log(log_dir: str, windows: list) -> dict:
    """Sum Spark's event log per ``(pass, group)``.

    Returns ``(sums, gaps)``: ``sums[(pass, group)]`` holds ``jobs``,
    ``tasks``, ``run_s``, ``gc_s``, ``input_bytes``,
    ``shuffle_write_bytes`` and ``job_s``; ``gaps[(pass, group)]`` is the
    part of that phase's window in which none of its own jobs was running.
    """
    jobs: dict[int, dict] = {}
    stage_owner: dict[int, tuple[str, str]] = {}
    sums: dict = defaultdict(lambda: defaultdict(float))
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    key = (props.get("perfbench.pass"), props.get("spark.jobGroup.id"))
                    jobs[ev["Job ID"]] = {"key": key, "start": ev["Submission Time"]}
                    for sid in ev.get("Stage IDs", []):
                        stage_owner.setdefault(sid, key)
                    sums[key]["jobs"] += 1
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j["end"] = ev["Completion Time"]
                        sums[j["key"]]["job_s"] += (j["end"] - j["start"]) / 1e3
                elif kind == "SparkListenerTaskEnd":
                    key = stage_owner.get(ev.get("Stage ID"), (None, None))
                    m = ev.get("Task Metrics") or {}
                    s = sums[key]
                    s["tasks"] += 1
                    s["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    s["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    s["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
    by_group: dict = defaultdict(list)
    for j in jobs.values():
        if "end" in j:
            by_group[j["key"]].append((j["start"], j["end"]))
    gap = {}
    for p, group, w0, w1 in windows:
        own = by_group.get((str(p), group), [])
        clipped = [(max(a, w0), min(b, w1)) for a, b in own if b > w0 and a < w1]
        gap[(p, group)] = max(0.0, (w1 - w0) - _union_ms(clipped)) / 1e3
    return {k: dict(v) for k, v in sums.items()}, gap
