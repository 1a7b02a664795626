"""olap_* workloads: the bench headline queries plus q_udf_cogrouped, one
client, closed loop. Protocol per run (fresh process):

1. session start (``session``), registry load, first-touch catalog loads
   of every table (``catalog``);
2. one warm-up pass that builds, plans and collects every query and
   compares it with its cached DuckDB oracle (the comparison itself is
   not timed and is excluded from ``setup_s``);
3. ``passes`` timed passes in a seeded query order fixed for the run; each
   query is built (``builder``), planned with ``executedPlan()`` alone
   (``plan``) and executed into the noop sink (``exec``).

Every query gets the same single warm-up and the same number of timed
samples, and timing always starts at pass index 1.
"""

from __future__ import annotations

import random

from measure import Py4jCounter, Tracer, collect_garbage, median, now, tail, with_self_times

CPUS = 4
PHASES = ("analysis", "optimization", "planning")
# A run of --seconds S times round(S / PASS_S) passes (at least one): the
# sample count follows the requested duration, never the program's speed.
# At --seconds 10 that is two passes, 40 query samples: with one pass the
# per-query latency median (an order statistic over 20 different queries)
# spread 17-24 % across seeds.
PASS_S = 5


def passes_for(seconds: int) -> int:
    return max(1, round(seconds / PASS_S))


def query_names() -> list[str]:
    from bench import HEADLINE

    return list(HEADLINE) + ["q_udf_cogrouped"]


class _Collected:
    """Stands in for a DataFrame in ``tests.oracle.compare`` so the rows
    collected inside the warm-up timing are the ones compared."""

    def __init__(self, pdf):
        self.pdf = pdf

    def toPandas(self):
        return self.pdf


def _phase_ms(qe) -> dict[str, float]:
    phases = qe.tracker().phases()
    out = {}
    for name in PHASES:
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def run(spark, a: dict, t_spawn: float, session_s: float, tracer: Tracer) -> dict:
    from batchprocessor_spark.plans.registry import load_all
    from batchprocessor_spark.sources.catalog import TABLES, load_table
    from fixtures import read_oracle
    from tests.oracle import compare

    sc = spark.sparkContext
    sf_dir, trace = a["sf_dir"], a["trace"]
    names = query_names()
    order = list(names)
    random.Random(a["seed"]).shuffle(order)
    registry = load_all()

    t = now()
    for name in TABLES:
        load_table(spark, sf_dir, name)
    catalog_s = now() - t
    tracer.add("catalog", "run", None, t, t + catalog_s)

    py4j = Py4jCounter(spark) if trace else None
    errors: dict[str, str] = {}
    attempted = 0
    compare_s = 0.0
    samples: list[dict] = []  # one record per (pass, query), timed passes only
    pass_walls: list[float] = []
    first_timed = None

    for p in range(1 + a["passes"]):
        timed = p > 0
        if timed:
            collect_garbage(spark)  # every timed pass starts from the same heap state
            first_timed = first_timed or now()
        pid = tracer.start("pass", f"p{p}")
        for name in order:
            if name in errors:
                continue
            attempted += 1
            rid = f"p{p}/{name}"
            qid = tracer.start("query", rid, pid)
            rec = {"pass": p, "query": name}
            try:
                if trace:
                    sc.setJobGroup(f"{rid}/build", rid)
                    calls = py4j.count
                b = tracer.start("build", rid, qid)
                df = registry[name].builder(spark, sf_dir)
                rec["build_s"] = tracer.end(b)
                if trace:
                    rec["py4j_calls"] = py4j.count - calls
                    sc.setJobGroup(f"{rid}/plan", rid)
                b = tracer.start("plan", rid, qid)
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                rec["plan_s"] = tracer.end(b)
                if trace:
                    rec.update(_phase_ms(qe))
                    sc.setJobGroup(f"{rid}/exec", rid)
                b = tracer.start("exec", rid, qid)
                if timed:
                    df.write.format("noop").mode("overwrite").save()
                    rec["exec_s"] = tracer.end(b)
                else:
                    collected = _Collected(df.toPandas())
                    tracer.end(b)
                    t = now()
                    try:
                        compare(collected, read_oracle(a["oracle_dir"], name), name)
                    finally:
                        compare_s += now() - t
            except Exception as exc:  # a failing query is counted, not fatal
                errors[name] = f"pass {p}: {type(exc).__name__}: {exc}"[:2000]
                continue
            finally:
                tracer.end(qid)
            if timed:
                rec["latency_s"] = rec["build_s"] + rec["plan_s"] + rec["exec_s"]
                samples.append(rec)
        wall = tracer.end(pid)
        if timed:
            pass_walls.append(wall)

    lat = [r["latency_s"] for r in samples]
    tail_v, tail_p = tail(lat)
    timed_s = sum(pass_walls)
    e2e = {
        "setup_s": {"value": first_timed - t_spawn - compare_s, "unit": "s", "samples": 1},
        "wall_s": {"value": median(pass_walls), "unit": "s", "samples": len(pass_walls)},
        "latency_p50_s": {"value": median(lat), "unit": "s", "samples": len(lat)},
        "latency_tail_s": {"value": tail_v, "unit": "s", "samples": len(lat),
                           "percentile": tail_p},
        "items_per_s": {"value": len(samples) / timed_s if timed_s else 0.0,
                        "unit": "1/s", "samples": len(samples), "items": "queries"},
    }
    return {"e2e": e2e, "attempted": attempted, "failed": len(errors), "errors": errors,
            "order": order, "samples": samples,
            "layers": {"session.start_s": session_s, "catalog.first_load_s": catalog_s}}


def layers_from_trace(result: dict, groups: dict[str, dict], tracer: Tracer) -> dict:
    """Per-layer metrics of the timed passes: per-pass sums, then the
    median over passes; per-query metrics are medians over passes."""
    samples = result["samples"]
    passes = sorted({r["pass"] for r in samples})
    names = query_names()
    spans = with_self_times(tracer.spans)
    self_by = {}
    for s in spans:
        if s["name"] in ("build", "plan", "exec"):
            self_by[(s["rid"], s["name"])] = s["self"]
    pass_wall = {int(s["rid"][1:]): s["end"] - s["start"]
                 for s in spans if s["name"] == "pass"}

    def per_pass(fn) -> float:
        return median([sum(fn(r) for r in samples if r["pass"] == p) for p in passes])

    def grp(r, phase, key):
        return groups.get(f"p{r['pass']}/{r['query']}/{phase}", {}).get(key, 0)

    out = dict(result["layers"])
    for layer in ("build", "plan", "exec"):
        out[f"{'builder' if layer == 'build' else layer}.time_s"] = per_pass(
            lambda r, layer=layer: self_by.get((f"p{r['pass']}/{r['query']}", layer), 0.0)
        )
    out["builder.jobs"] = per_pass(lambda r: grp(r, "build", "jobs"))
    out["builder.py4j_calls"] = per_pass(lambda r: r.get("py4j_calls", 0))
    for ph in PHASES:
        out[f"plan.{ph}_ms"] = per_pass(lambda r, ph=ph: r.get(ph, 0.0))
    for key in ("jobs", "stages", "tasks", "task_time_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        out[f"exec.{key}"] = per_pass(lambda r, key=key: grp(r, "exec", key))
    out["exec.busy_ratio"] = (
        out["exec.task_time_s"] / (out["exec.time_s"] * CPUS) if out["exec.time_s"] else 0.0
    )
    for name in names:
        rs = [r for r in samples if r["query"] == name]
        for phase in ("build", "plan", "exec"):
            out[f"q.{name}.{phase}_s"] = median([r.get(f"{phase}_s", 0.0) for r in rs])
    walls = [pass_wall[p] for p in passes]
    out["trace.accounted_share"] = (
        (out["builder.time_s"] + out["plan.time_s"] + out["exec.time_s"]) / median(walls)
        if walls else 0.0
    )
    return out
