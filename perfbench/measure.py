"""Measurement helpers shared by the workloads: spans with self time,
percentile rules, the py4j round-trip counter, the Spark event-log parser
and peak-RSS reads. Nothing here imports pyspark at module load."""

from __future__ import annotations

import json
import math
import os
import statistics
import time

now = time.monotonic  # CLOCK_MONOTONIC: comparable across processes on Linux


class Tracer:
    """In-memory spans: (id, name, parent, rid, start, end). Spans are
    kept in a list and written out once, at the end of the run."""

    def __init__(self):
        self.spans: list[dict] = []

    def start(self, name: str, rid: str, parent: int | None = None) -> int:
        return self.add(name, rid, parent, now(), None)

    def end(self, sid: int) -> float:
        s = self.spans[sid]
        s["end"] = now()
        return s["end"] - s["start"]

    def add(self, name: str, rid: str, parent: int | None, start: float,
            end: float | None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "parent": parent, "rid": rid,
             "start": start, "end": end}
        )
        return len(self.spans) - 1

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(with_self_times(self.spans), fh)


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def with_self_times(spans: list[dict]) -> list[dict]:
    """Copy of ``spans`` with ``self`` = duration − the part of the span's
    interval that its direct children cover (overlapping children count
    once). A span left open by a failure counts as zero-length."""
    spans = [{**s, "end": s["start"] if s["end"] is None else s["end"]} for s in spans]
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self"] = s["end"] - s["start"] - covered(kids.get(s["id"], []), s["start"], s["end"])
    return spans


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(sorted_xs: list[float], p: float) -> float:
    """Nearest-rank p-quantile (0 < p ≤ 1) of an ascending list."""
    return sorted_xs[max(0, math.ceil(p * len(sorted_xs)) - 1)]


TAIL_LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def tail(xs: list[float]) -> tuple[float, float]:
    """The highest percentile of TAIL_LADDER with at least ten samples
    beyond it, as (value, percentile); p50 when there are fewer."""
    s = sorted(xs)
    for p in TAIL_LADDER:
        if len(s) - math.ceil(p * len(s)) >= 10:
            return quantile(s, p), p * 100
    return (quantile(s, 0.5), 50.0) if s else (0.0, 50.0)


def collect_garbage(spark) -> None:
    """Full collection in both the Python driver and the JVM, so each
    timed region starts from the same heap state."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 when unreadable."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Py4jCounter:
    """Counts py4j round trips by wrapping the gateway client's
    ``send_command``; ``count`` only grows, read it around a call."""

    def __init__(self, spark):
        self.count = 0
        client = spark.sparkContext._gateway._gateway_client
        inner = client.send_command

        def send_command(*args, **kwargs):
            self.count += 1
            return inner(*args, **kwargs)

        client.send_command = send_command


def parse_event_log(evdir: str) -> dict[str, dict]:
    """Per job group: jobs, completed stages, tasks, executor run time,
    GC time, shuffle read/write bytes and spill bytes. The parser follows
    scripts/profile_bench.py, keyed by ``spark.jobGroup.id`` instead of
    the job description."""
    job_group: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[int] = set()
    per_stage: dict[int, dict] = {}
    for root, _dirs, files in os.walk(evdir):
        for f in files:
            if "appstatus" in f:
                continue
            with open(os.path.join(root, f), errors="ignore") as fh:
                for line in fh:
                    try:
                        ev = json.loads(line)
                    except json.JSONDecodeError:
                        continue
                    e = ev.get("Event")
                    if e == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        job_group[ev["Job ID"]] = props.get("spark.jobGroup.id", "")
                        for si in ev.get("Stage Infos", []):
                            stage_job.setdefault(si["Stage ID"], ev["Job ID"])
                    elif e == "SparkListenerStageCompleted":
                        stages_done.add(ev["Stage Info"]["Stage ID"])
                    elif e == "SparkListenerTaskEnd":
                        tm = ev.get("Task Metrics") or {}
                        rec = per_stage.setdefault(
                            ev["Stage ID"],
                            {"tasks": 0, "run_ms": 0, "gc_ms": 0, "shuffle_read": 0,
                             "shuffle_write": 0, "spill": 0},
                        )
                        sr = tm.get("Shuffle Read Metrics") or {}
                        sw = tm.get("Shuffle Write Metrics") or {}
                        rec["tasks"] += 1
                        rec["run_ms"] += tm.get("Executor Run Time", 0)
                        rec["gc_ms"] += tm.get("JVM GC Time", 0)
                        rec["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                            "Local Bytes Read", 0
                        )
                        rec["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                        rec["spill"] += tm.get("Disk Bytes Spilled", 0)
    groups: dict[str, dict] = {}
    for jid, g in job_group.items():
        groups.setdefault(g, {"jobs": 0, "stages": 0, "tasks": 0, "task_time_s": 0.0,
                              "gc_s": 0.0, "shuffle_read_mb": 0.0,
                              "shuffle_write_mb": 0.0, "spill_mb": 0.0})["jobs"] += 1
    for sid, rec in per_stage.items():
        g = groups.get(job_group.get(stage_job.get(sid, -1), ""))
        if g is None:
            continue
        g["stages"] += sid in stages_done
        g["tasks"] += rec["tasks"]
        g["task_time_s"] += rec["run_ms"] / 1e3
        g["gc_s"] += rec["gc_ms"] / 1e3
        g["shuffle_read_mb"] += rec["shuffle_read"] / 1e6
        g["shuffle_write_mb"] += rec["shuffle_write"] / 1e6
        g["spill_mb"] += rec["spill"] / 1e6
    return groups
