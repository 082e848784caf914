"""Span recording and Spark event-log attribution for the traced run.

Spans are kept in memory (name, group, start, end, parent) and printed
with the run's report at the end.  A span's group is its layer and
also names the Spark job group of the jobs started inside it, so the
event log's task metrics can be summed per layer."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time


class Tracer:
    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, group: str | None = None):
        """Record a span; with ``group``, Spark jobs started inside it
        are tagged with that job group (restored on exit)."""
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "group": group,
               "parent": parent, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        sc = self.spark.sparkContext if self.spark is not None else None
        prev = sc.getLocalProperty("spark.jobGroup.id") if sc else None
        if sc is not None and group is not None:
            sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None and group is not None:
                if prev is None:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                else:
                    sc.setJobGroup(prev, prev)

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_times(self) -> dict[str, float]:
        """name -> summed self time over that name's spans."""
        return aggregate_self_times(self.spans)

    def group_busy(self, group: str) -> float:
        return group_busy(self.spans, group)

    def group_self(self, group: str) -> float:
        return group_self(self.spans, group)


def _covered(intervals: list[tuple[float, float]], lo: float,
             hi: float) -> float:
    """Length of the union of intervals, clipped to [lo, hi]."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part of its interval that its
    direct children cover."""
    kids = [(c["start"], c["end"]) for c in spans
            if c["parent"] == span["id"]]
    return (span["end"] - span["start"]) - _covered(
        kids, span["start"], span["end"])


def aggregate_self_times(spans: list[dict]) -> dict[str, float]:
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + self_time(s, spans)
    return out


def group_busy(spans: list[dict], group: str) -> float:
    """Wall time covered by the group's spans; a span nested in another
    span of the same group is counted once."""
    return _covered([(s["start"], s["end"]) for s in spans
                     if s.get("group") == group],
                    float("-inf"), float("inf"))


def group_self(spans: list[dict], group: str) -> float:
    """The group's summed self time: its busy time minus what spans of
    other groups nested inside it cover."""
    return sum(self_time(s, spans) for s in spans
               if s.get("group") == group)


# --- event log ----------------------------------------------------------------

PY_SENT = "data sent to Python workers"


EVENTS = ("SparkListenerStageSubmitted", "SparkListenerTaskEnd")


def read_event_log(log_dir: str) -> list[dict]:
    """The stage-submit and task-end events (the only ones
    ``stage_metrics`` reads; the log's SQL plan events are most of its
    bytes and are not parsed)."""
    events = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                head = line[:64]
                if any(f'"{e}"' in head for e in EVENTS):
                    events.append(json.loads(line))
    return events


def stage_metrics(events: list[dict]) -> dict[int, dict]:
    """stage id -> task metrics summed over the stage's tasks, tagged
    with the job group the stage was submitted under; times in
    seconds, sizes in bytes."""
    stages: dict[int, dict] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            sid = ev["Stage Info"]["Stage ID"]
            stages.setdefault(sid, _new_stage())["group"] = \
                props.get("spark.jobGroup.id")
        elif kind == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], _new_stage())
            m = ev.get("Task Metrics") or {}
            info = ev.get("Task Info") or {}
            st["tasks"] += 1
            st["task_s"].append(
                (info.get("Finish Time", 0) - info.get("Launch Time", 0))
                / 1000.0)
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            st["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                  + m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_read_bytes"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
            for acc in info.get("Accumulables") or ():
                if acc.get("Name") == PY_SENT:
                    st["python_bytes_sent"] += int(acc.get("Update") or 0)
    return stages


def _new_stage() -> dict:
    return {"group": None, "tasks": 0, "task_s": [], "run_s": 0.0,
            "cpu_s": 0.0, "gc_s": 0.0, "spill_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
            "python_bytes_sent": 0}


def group_totals(stages: dict, prefix: str) -> dict:
    """Summed stage metrics over job groups equal to or under
    ``prefix`` (``"sessionize"`` covers ``"sessionize.assign_visits"``)."""
    out = {k: 0 for k in ("tasks", "run_s", "cpu_s", "gc_s", "spill_bytes",
                          "shuffle_write_bytes", "python_bytes_sent")}
    for st in stages.values():
        g = st["group"] or ""
        if g == prefix or g.startswith(prefix + "."):
            for k in out:
                out[k] += st[k]
    return out


def task_skew(stages: dict, prefix: str) -> float:
    """max / median task time of the group's heaviest shuffle-reading
    stage (for sessionize: the conv_id window stage)."""
    cands = [st for st in stages.values()
             if (st["group"] or "").startswith(prefix)
             and st["shuffle_read_bytes"] > 0 and st["task_s"]]
    if not cands:
        return 0.0
    st = max(cands, key=lambda s: s["run_s"])
    med = statistics.median(st["task_s"])
    return max(st["task_s"]) / med if med > 0 else 0.0
