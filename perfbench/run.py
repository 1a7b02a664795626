#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of batchprocessor_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke

Run from the repository root. Inputs are built (once, cached under
perfbench/.cache) before any clock starts; then the workload runs in a
fresh worker process (worker.py) whose start is the set-up clock's zero.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). The line before it,
``# report {...}``, repeats every metric with its sample count, the tail
percentile, ``error_rate`` and any failure. Workloads, metrics and the
layer each metric belongs to are described in perfbench/README.md.

``--smoke`` runs every workload at sf0.001 / a few thousand items, traced
and untraced, and asserts that every metric named in BENCHMARK.json is
emitted with its unit and a sample count.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
CPUS = 4  # local[4]: the host this benchmark is sized for has four cores
DRIVER_MEMORY = "2g"
WORKER_TIMEOUT_S = 170

# "primary": the metric trace.overhead compares between traced and untraced
# runs. proc_burst is runnable but not in BENCHMARK.json (README.md says why).
WORKLOADS = {
    "olap_sf0.1": {"kind": "olap", "sf": 0.1, "primary": "wall_s"},
    "proc_stream": {"kind": "proc", "primary": "latency_p50_s"},
    "proc_burst": {"kind": "proc", "primary": "wall_s"},
}

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}
PER_LAYER = {
    "session.start_s": "s",
    "catalog.first_load_s": "s",
    "builder.time_s": "s",
    "builder.jobs": "count",
    "builder.py4j_calls": "count",
    "plan.time_s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.time_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_time_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.busy_ratio": "ratio",
    "ingest.put_s": "s",
    "ingest.put_call_tail_s": "s",
    "ingest.pending_peak": "items",
    "ingest.spool_files": "count",
    "microbatch.epochs": "count",
    "microbatch.rows_mean": "items",
    "microbatch.trigger_ms_p50": "ms",
    "microbatch.add_batch_ms_p50": "ms",
    "microbatch.latest_offset_ms_p50": "ms",
    "microbatch.wal_commit_ms_p50": "ms",
    "flow.flushes": "count",
    "flow.batch_fill": "ratio",
    "flow.sink_call_p50_s": "s",
    "flow.in_flight_peak": "count",
    "flow.sem_waiters_peak": "count",
    "flow.retries": "count",
    "flow.dlq_items": "items",
    "flow.model_efficiency": "ratio",
    "sink.write_s": "s",
    "sink.files": "count",
    "gen.late_tail_s": "s",
    "trace.overhead": "ratio",
    "trace.accounted_share": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """PER_LAYER plus q.<name>.{build,plan,exec}_s for every olap query."""
    from olap import query_names

    out = dict(PER_LAYER)
    for name in query_names():
        for phase in ("build", "plan", "exec"):
            out[f"q.{name}.{phase}_s"] = "s"
    return out


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _check_checkout() -> None:
    for need in ("batchprocessor_spark", "bench.py", "scripts", "tests"):
        if not os.path.exists(os.path.join(ROOT, need)):
            _fail(f"{need} not found under {ROOT}: run from a full checkout")


def _session_alive(pgid: int) -> bool:
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _reap(proc: subprocess.Popen) -> None:
    """Kill whatever the worker left in its process group; wait until gone."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while _session_alive(proc.pid) and time.monotonic() < deadline:
        time.sleep(0.05)


def prepare(workload: str, sf: float | None) -> dict:
    """Build (or reuse) the workload's inputs; nothing here is timed."""
    spec = dict(WORKLOADS[workload])
    if spec["kind"] == "olap":
        from batchprocessor_spark.plans.registry import load_all

        import fixtures
        from olap import query_names

        spec["sf_dir"] = fixtures.ensure_tables(sf or spec["sf"])
        registry = load_all()
        spec["oracle_dir"] = fixtures.ensure_oracles(
            spec["sf_dir"], {n: registry[n] for n in query_names()}
        )
    return spec


def run_worker(workload: str, seed: int, seconds: int, trace: bool, spec: dict) -> dict:
    from olap import passes_for

    tag = f"{workload}-s{seed}-t{int(trace)}"
    work = os.path.join(WORK, tag)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d))
    args = {**spec, "workload": workload, "seed": seed, "seconds": seconds,
            "trace": trace, "cpus": CPUS, "work": work, "passes": passes_for(seconds),
            "out": os.path.join(work, "result.json")}
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "TMPDIR": os.path.join(work, "tmp"),
        # Both JVMs (launcher and driver) keep their temp files in the work dir.
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    log_path = os.path.join(work, "worker.log")
    with open(log_path, "w") as log:
        args["t_spawn"] = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(args)],
            cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            proc.wait(timeout=WORKER_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            _reap(proc)
    if proc.returncode != 0 or not os.path.exists(args["out"]):
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        _fail(f"worker for {workload} exited with {proc.returncode}", 1)
    with open(args["out"]) as fh:
        result = json.load(fh)
    result["work"] = work
    return result


def _overhead(workload: str, seed: int, result: dict, trace: bool) -> tuple[float, str]:
    """Store the untraced primary metric; in a traced run, compare with it."""
    key = WORKLOADS[workload]["primary"]
    path = os.path.join(WORK, "untraced", f"{workload}-s{seed}.json")
    value = result["e2e"][key]["value"]
    if not trace:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({key: value}, fh)
        return 0.0, ""
    try:
        with open(path) as fh:
            base = json.load(fh)[key]
    except (OSError, KeyError, json.JSONDecodeError):
        return 0.0, f"no untraced run of {workload} seed {seed} to compare"
    return (value - base) / base if base else 0.0, f"{key}: {value:.6g} traced vs {base:.6g}"


def run_once(workload, seed, seconds, trace, sf=None) -> dict:
    spec = prepare(workload, sf)
    result = run_worker(workload, seed, seconds, trace, spec)
    e2e = result["e2e"]
    attempted, failed = int(result["attempted"]), int(result["failed"])
    correct = failed == 0 and not result["errors"]
    e2e["error_rate"] = {"value": failed / attempted if attempted else 1.0,
                         "unit": "ratio", "samples": attempted}
    overhead, note = _overhead(workload, seed, result, trace)
    if trace:
        units = per_layer_units()
        layers = {k: float(result["layers"].get(k, 0.0)) for k in units}
        layers["trace.overhead"] = overhead
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(e2e[k]["value"]), "unit": u}
                   for k, u in END_TO_END.items()}
    report = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "end_to_end": e2e, "errors": result["errors"], "trace_overhead": note,
              "spans": os.path.join(result["work"], "spans.json")}
    print("# report " + json.dumps(report))
    return {"correct": correct, "attempted": max(attempted, 1), "failed": failed,
            "metrics": metrics}


def _check(ok: bool, what) -> None:
    if not ok:
        _fail(f"smoke check failed: {what}", 1)


def smoke() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    _check({w["name"] for w in bench["workloads"]} <= set(WORKLOADS), bench["workloads"])
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", workload,
                   "--seed", "7", "--seconds", "1", "--trace", str(trace), "--sf", "0.001"]
            out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            _check(out.returncode == 0 and len(lines) >= 2,
                   f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-3000:]}")
            final = json.loads(lines[-1])
            report = json.loads(lines[-2].removeprefix("# report "))
            _check(set(final) == {"correct", "attempted", "failed", "metrics"}, final.keys())
            _check(final["correct"] and final["failed"] == 0, report["errors"])
            want = want_layer if trace else want_e2e
            got = final["metrics"]
            _check(set(want) <= set(got), sorted(set(want) - set(got)))
            for metric, unit in want.items():
                _check(got[metric]["unit"] == unit, (metric, got[metric], unit))
                _check(math.isfinite(got[metric]["value"]), (metric, got[metric]))
                if not trace:
                    _check(report["end_to_end"][metric]["samples"] >= 1, metric)
            print(f"smoke ok: {workload} trace={trace}", file=sys.stderr)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, help="olap scale factor override (smoke runs)")
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    _check_checkout()
    sys.path.insert(0, ROOT)
    if a.smoke:
        smoke()
        return
    if not a.workload:
        ap.error("--workload is required")
    print(json.dumps(run_once(a.workload, a.seed, a.seconds, bool(a.trace), a.sf)))


if __name__ == "__main__":
    main()
