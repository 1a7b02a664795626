"""One measured run of one workload, in the fresh process that run.py
starts for it. Writes the run's result as JSON to the path in its
arguments; run.py turns that into the benchmark's output."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from measure import Tracer, now, parse_event_log, vm_hwm_mb


def _stop_jvm(spark) -> None:
    """Stop Spark, close the JVM's stdin (its exit signal) and wait for it."""
    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def main() -> None:
    a = json.loads(sys.argv[1])
    tracer = Tracer()
    olap_kind = a["kind"] == "olap"
    evdir = os.path.join(a["work"], "events")
    extra = {
        "spark.ui.showConsoleProgress": "false",
        # A fixed-size heap: no run-dependent resizing in time or in RSS.
        "spark.driver.extraJavaOptions": f"-Xms{os.environ['SPARK_DRIVER_MEMORY']}",
        "spark.sql.warehouse.dir": os.path.join(a["work"], "warehouse"),
    }
    if a["trace"] and olap_kind:
        os.makedirs(evdir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    from batchprocessor_spark.session import get_spark

    t = now()
    spark = get_spark(f"perfbench-{a['workload']}", cpus=a["cpus"], extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    session_s = now() - t
    tracer.add("session", "run", None, t, t + session_s)
    jvm_pid = spark.sparkContext._gateway.proc.pid

    if olap_kind:
        import olap as workload
    else:
        import proc as workload
    try:
        result = workload.run(spark, a, a["t_spawn"], session_s, tracer)
        result["e2e"]["peak_rss_mb"] = {
            "value": vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid), "unit": "MB", "samples": 1
        }
    finally:
        _stop_jvm(spark)
    if a["trace"] and olap_kind:
        result["layers"] = workload.layers_from_trace(result, parse_event_log(evdir), tracer)
    tracer.write(os.path.join(a["work"], "spans.json"))
    with open(a["out"], "w") as fh:
        json.dump(result, fh)


if __name__ == "__main__":
    main()
