"""proc_* workloads: the BatchProcessor facade, one producer thread,
``batch_size`` 1024, flush concurrency 4.

- ``proc_stream`` is open loop: the producer calls ``put_many`` every
  ``STREAM_TICK_S`` with the items due then, at ``STREAM_RATE`` items/s,
  well below the burst capacity. Each item carries its scheduled send
  offset; its latency runs from that due time to the return of the
  ``parquet_table_sink`` call that delivered it.
- ``proc_burst`` is closed loop, the reference's throughput model scaled
  to this host: ``put_many`` of ``BURST_PUT`` items as fast as the pending
  cap allows into a sink that stands in for a remote call of fixed
  ``BURST_SINK_S`` latency. Item latency runs from the start of the put
  call that carried it to the sink return.

Each run discards one full start/feed/stop processor cycle before timing.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
from pyspark.sql.streaming import StreamingQueryListener

from measure import Tracer, collect_garbage, median, now, tail

BATCH = 1024
CONCURRENCY = 4
STREAM_RATE = 2000  # items/s offered by the open-loop producer
STREAM_TICK_S = 0.05
BURST_ITEMS_PER_S = 65536  # burst items per requested second of run time
BURST_PUT = 4096
BURST_SINK_S = 0.02
WARMUP_ITEMS = 8192
SCHEMA = "id BIGINT, v DOUBLE, due DOUBLE"
POLL_S = 0.02
TRIGGER_PHASE_S = 0.5


class TimedSink:
    """Wraps a sink callable and records, per call, its start, end and the
    delivered ids."""

    def __init__(self, inner):
        self.inner = inner
        self.calls: list[tuple[float, float, np.ndarray]] = []

    def __call__(self, chunk) -> None:
        t0 = now()
        self.inner(chunk)
        self.calls.append((t0, now(), chunk["id"].to_numpy()))


def _sleep_sink(_chunk) -> None:
    time.sleep(BURST_SINK_S)


def _make_sink(workload: str, path: str) -> TimedSink:
    from batchprocessor_spark.streaming.sinks import parquet_table_sink

    return TimedSink(parquet_table_sink(path) if workload == "proc_stream" else _sleep_sink)


def _processor(spark, sink, workdir):
    from batchprocessor_spark.streaming.processor import BatchProcessor, ProcessorConfig

    cfg = ProcessorConfig(batch_size=BATCH, concurrency=CONCURRENCY)
    return BatchProcessor(spark, SCHEMA, sink, cfg, workdir=workdir)


class _Listener(StreamingQueryListener):
    """Collects each progress event's row count and phase durations."""

    def __init__(self):
        self.progress: list[dict] = []
        self.terminated = threading.Event()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append({"rows": p.numInputRows, "ms": dict(p.durationMs)})

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated.set()


class _StatPoller(threading.Thread):
    """Polls ``stat()`` for the peaks of pending items, in-flight sink
    calls and semaphore waiters."""

    def __init__(self, proc):
        super().__init__(daemon=True)
        self.proc = proc
        self.stop_evt = threading.Event()
        self.peak = {"pending": 0, "in_flight": 0, "sem_waiters": 0}

    def run(self) -> None:
        while not self.stop_evt.wait(POLL_S):
            st = self.proc.stat()
            for k in self.peak:
                self.peak[k] = max(self.peak[k], st[k])


def run(spark, a: dict, t_spawn: float, session_s: float, tracer: Tracer) -> dict:
    from fixtures import processor_items

    workload, trace, work = a["workload"], a["trace"], a["work"]
    stream = workload == "proc_stream"
    n = int((STREAM_RATE if stream else BURST_ITEMS_PER_S) * a["seconds"])
    chunk = int(STREAM_RATE * STREAM_TICK_S) if stream else BURST_PUT
    base, vals = processor_items(a["seed"], n + WARMUP_ITEMS)
    due = (np.arange(n) // chunk) * STREAM_TICK_S if stream else np.zeros(n)
    items = list(zip(range(base, base + n), vals[:n].tolist(), due.tolist()))
    warm = [(base + n + i, float(v), 0.0) for i, v in enumerate(vals[n:])]

    # Discarded cycle: the first processor in a JVM starts and drains slower.
    t = now()
    p = _processor(spark, _make_sink(workload, os.path.join(work, "warm-sink")),
                   os.path.join(work, "warm-proc")).start()
    p.put_many(warm)
    p.stop()
    p.close()
    tracer.add("warmup_cycle", "run", None, t, now())

    listener = None
    if trace:
        listener = _Listener()
        spark.streams.addListener(listener)
    sink_dir = os.path.join(work, "sink")
    sink = _make_sink(workload, sink_dir)
    t = now()
    p = _processor(spark, sink, os.path.join(work, "proc")).start()
    tracer.add("processor_start", "run", None, t, now())
    poller = _StatPoller(p) if trace else None
    if poller:
        poller.start()
    collect_garbage(spark)
    # processingTime triggers fire on wall-clock multiples of the interval.
    # Starting the producer at a fixed phase of that clock makes the wait
    # for the last trigger at stop() the same in every run instead of
    # uniform over one interval; the alignment sleep is not set-up work.
    align = (TRIGGER_PHASE_S - time.time()) % p.config.flush_interval_s
    time.sleep(align)

    put_start: list[float] = []
    put_dur: list[float] = []
    late: list[float] = []
    t0 = now()
    for k, lo in enumerate(range(0, n, chunk)):
        if stream:
            wait = t0 + k * STREAM_TICK_S - now()
            if wait > 0:
                time.sleep(wait)
            late.append(now() - (t0 + k * STREAM_TICK_S))
        ts = now()
        p.put_many(items[lo : lo + chunk])
        put_start.append(ts)
        put_dur.append(now() - ts)
    st = p.stop()
    t_end = now()
    if poller:
        poller.stop_evt.set()
        poller.join()
    sink_files = len([f for f in os.listdir(sink_dir) if f.endswith(".parquet")]) \
        if os.path.isdir(sink_dir) else 0
    p.close()
    cycle = tracer.add("cycle", "run", None, t0, t_end)
    for k, (ts, d) in enumerate(zip(put_start, put_dur)):
        tracer.add("put_many", f"put{k}", cycle, ts, ts + d)
    for k, (c0, c1, _ids) in enumerate(sink.calls):
        tracer.add("sink_call", f"flush{k}", cycle, c0, c1)

    # Delivery check and per-item latency.
    ids = np.concatenate([c[2] for c in sink.calls]) if sink.calls else np.zeros(0, np.int64)
    pos = ids - base
    known = (pos >= 0) & (pos < n)
    uniq = np.unique(pos[known])
    lost = n - len(uniq)
    dup = int(known.sum()) - len(uniq)
    stray = int((~known).sum())
    failed = lost + dup + stray
    errors = {}
    if failed:
        errors["delivery"] = f"lost={lost} duplicated={dup} unknown={stray}"
    if st["dlq_items"] or st["flushed_items"] != n:
        errors["stat"] = f"dlq_items={st['dlq_items']} flushed_items={st['flushed_items']} put={n}"
    if stream:
        origin = [t0 + due[c[2] - base] for c in sink.calls]
    else:
        starts = np.asarray(put_start)
        origin = [starts[(c[2] - base) // chunk] for c in sink.calls]
    lat = np.sort(np.concatenate(
        [np.full(len(c[2]), c[1]) - o for c, o in zip(sink.calls, origin)]
    )).tolist() if sink.calls else []
    tail_v, tail_p = tail(lat)
    wall = t_end - t0
    e2e = {
        "setup_s": {"value": t0 - t_spawn - align, "unit": "s", "samples": 1},
        "wall_s": {"value": wall, "unit": "s", "samples": 1},
        "latency_p50_s": {"value": median(lat), "unit": "s", "samples": len(lat)},
        "latency_tail_s": {"value": tail_v, "unit": "s", "samples": len(lat),
                           "percentile": tail_p},
        "items_per_s": {"value": n / wall, "unit": "1/s", "samples": n, "items": "items"},
    }
    result = {"e2e": e2e, "attempted": n, "failed": failed, "errors": errors,
              "layers": {"session.start_s": session_s}}
    if trace:
        result["layers"].update(
            _layers(st, sink, sink_files, put_dur, late, poller.peak, listener, spark, n, wall,
                    stream)
        )
    return result


def _layers(st, sink, sink_files, put_dur, late, peak, listener, spark, n, wall,
            stream) -> dict:
    listener.terminated.wait(5.0)
    spark.streams.removeListener(listener)
    epochs = [e for e in listener.progress if e["rows"] > 0]

    def p50(key):
        return median([e["ms"].get(key, 0) for e in epochs])

    call_s = [c[1] - c[0] for c in sink.calls]
    sink_p50 = median(call_s)
    return {
        "ingest.put_s": sum(put_dur),
        "ingest.put_call_tail_s": tail(put_dur)[0],
        "ingest.pending_peak": peak["pending"],
        "ingest.spool_files": st["spool_files"],
        "microbatch.epochs": len(epochs),
        "microbatch.rows_mean": sum(e["rows"] for e in epochs) / len(epochs) if epochs else 0.0,
        "microbatch.trigger_ms_p50": p50("triggerExecution"),
        "microbatch.add_batch_ms_p50": p50("addBatch"),
        "microbatch.latest_offset_ms_p50": p50("latestOffset"),
        "microbatch.wal_commit_ms_p50": p50("walCommit"),
        "flow.flushes": st["flushed_batches"],
        "flow.batch_fill": n / (st["flushed_batches"] * BATCH) if st["flushed_batches"] else 0.0,
        "flow.sink_call_p50_s": sink_p50,
        "flow.in_flight_peak": peak["in_flight"],
        "flow.sem_waiters_peak": peak["sem_waiters"],
        "flow.retries": st["retries"],
        "flow.dlq_items": st["dlq_items"],
        "flow.model_efficiency": (n / wall) / (CONCURRENCY * BATCH / sink_p50) if sink_p50 else 0.0,
        "sink.write_s": sum(call_s) if stream else 0.0,
        "sink.files": sink_files if stream else 0,
        "gen.late_tail_s": tail(late)[0] if late else 0.0,
    }
