"""Per-layer metrics of a traced run, per query and per pass.

Layers are the program's modules or the Spark layer beneath them:

- ``session``: ``get_spark`` and the warm-up passes (per run);
- ``plans``: the ``QUERIES[name]`` call, with the jobs it starts;
- ``catalyst``: analysis, optimization and planning of the query's own plan,
  and the shape of its final (adaptive) physical plan;
- ``exec``: jobs started while planning and executing, from the event log;
  ``exec.s`` is the wall time of the execute phase;
- ``shuffle`` and ``sources``: task shuffle and input/output metrics of every
  job the query started, build phase included;
- ``result``: rows collected and the time to digest them.

A pass's value is the sum over its queries (``exec.max_task_skew``: the
maximum). A run reports the median over its timed passes. ``jvm.peak_rss_mb``
is the driver JVM's peak resident set over the timed passes; ``jvm.compile_s``
is the time its JIT compiler threads spent compiling during a pass;
``process.cpu_s`` is the CPU time of a pass summed over every process of the
run (Python driver, Spark JVM, Python workers), JIT and GC threads included; the
``operators.`` ratios are the quality outputs of ``q_ann_recall`` and
``q_minhash_wide_eval`` (run untimed where the workload does not time them).

Which end-to-end metric each layer metric should move, and where:

=========================================  ======================  =====================
layer metrics                              moves                   workload
=========================================  ======================  =====================
session.start_s, session.warmup_s          setup_s                 both
plans.build_s, plans.build_jobs            pass_s                  relational_maintain
catalyst.*                                 pass_s                  relational_maintain
exec.task_s, exec.cpu_s                    pass_s                  search_curate
exec.jobs, exec.stages, exec.idle_core_s   pass_s                  relational_maintain
exec.gc_s, shuffle.spill_mb                pass_s, live_mb         both
shuffle.*                                  pass_s                  search_curate
sources.*                                  pass_s                  relational_maintain
result.consume_s                           pass_s                  relational_maintain
jvm.peak_rss_mb                            live_mb                 both
jvm.compile_s                              pass_s                  both
process.cpu_s                              pass_s                  search_curate
operators.*                                (quality, no time)      both
traced.pass_s                              tracing overhead        both
=========================================  ======================  =====================

At these input sizes both workloads are bound by per-query fixed costs, so
``exec.idle_core_s`` exceeds ``exec.task_s`` on both; a kernel saving shows
in ``exec.task_s`` well before it shows in ``pass_s``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

from perfbench import tracing

UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms", "catalyst.plan_nodes": "count",
    "catalyst.exchanges": "count", "catalyst.reused_exchanges": "count",
    "catalyst.joins": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.failed_tasks": "count", "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.idle_core_s": "s", "exec.max_task_skew": "ratio",
    "shuffle.write_mb": "MiB", "shuffle.read_mb": "MiB", "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MiB",
    "sources.read_mb": "MiB", "sources.read_rows": "count", "sources.write_mb": "MiB",
    "sources.write_rows": "count", "sources.read_rows_per_result_row": "ratio",
    "result.consume_s": "s",
    "traced.pass_s": "s",
    "jvm.peak_rss_mb": "MiB", "jvm.compile_s": "s",
    "process.cpu_s": "s",
    "operators.ann_recall_at_10": "ratio", "operators.lsh_precision": "ratio",
    "operators.lsh_recall": "ratio",
}

_EXEC = ("jobs", "stages", "tasks", "failed_tasks", "task_s", "cpu_s", "gc_s")
_SUMMED = ("shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb",
           "read_mb", "read_rows", "write_mb", "write_rows")


def _query_metrics(q: dict, groups: dict, prefix: str, cores: int) -> dict[str, float]:
    phase = {p: groups.get(f"{prefix}|{p}", tracing.GroupMetrics()) for p in tracing.PHASES}
    run = [phase["plan"], phase["execute"]]
    m = {"plans.build_s": q.get("build_s", 0.0), "plans.build_jobs": float(q.get("build_jobs", 0)),
         **q.get("catalyst", {}), "exec.s": q.get("execute_s", 0.0)}
    for k in _EXEC:
        m[f"exec.{k}"] = float(sum(getattr(g, k) for g in run))
    m["exec.idle_core_s"] = cores * m["exec.s"] - m["exec.task_s"]
    m["exec.max_task_skew"] = max(g.max_task_skew for g in run)
    total = {k: sum(getattr(g, k) for g in phase.values()) for k in _SUMMED}
    m.update({
        "shuffle.write_mb": total["shuffle_write_mb"], "shuffle.read_mb": total["shuffle_read_mb"],
        "shuffle.fetch_wait_s": total["fetch_wait_s"], "shuffle.spill_mb": total["spill_mb"],
        "sources.read_mb": total["read_mb"], "sources.read_rows": total["read_rows"],
        "sources.write_mb": total["write_mb"], "sources.write_rows": total["write_rows"],
        "result.rows": float(q.get("rows", 0)), "result.consume_s": q.get("consume_s", 0.0),
    })
    return m


def per_layer(workload: str, passes: list[dict], tracer: tracing.Tracer, run_dir: str,
              cores: int, per_run: dict[str, float]) -> tuple[dict, dict]:
    """Per-layer metrics of the run, and the per-query, per-pass detail.

    ``per_run`` holds the metrics measured once per run (session, JVM and
    quality metrics); the rest are medians over the timed passes."""
    groups = tracing.parse_event_log(
        tracing.event_log_files(os.path.join(run_dir, "eventlog")))
    per_pass, per_query, self_times = [], {}, []
    for p in passes:
        sums: dict[str, float] = {}
        for q in p["queries"]:
            prefix = f"{workload}|{p['label']}|{q['query']}"
            m = _query_metrics(q, groups, prefix, cores)
            per_query.setdefault(q["query"], {})[p["label"]] = m
            for k, v in m.items():
                sums[k] = max(sums.get(k, 0.0), v) if k == "exec.max_task_skew" \
                    else sums.get(k, 0.0) + v
        sums["sources.read_rows_per_result_row"] = \
            sums["sources.read_rows"] / max(sums["result.rows"], 1.0)
        sums["traced.pass_s"] = p["seconds"]
        sums["process.cpu_s"] = p["cpu_s"]
        sums["jvm.compile_s"] = p["compile_s"]
        per_pass.append(sums)
        pspan = tracer.spans[p["span"]]
        queries = {s.query: {"seconds": s.seconds, "self_s": tracer.self_seconds(s.id)}
                   for s in tracer.children(p["span"])}
        self_times.append({
            "pass": p["label"], "wall_s": pspan.seconds,
            "pass_self_s": tracer.self_seconds(p["span"]),
            "query_s": {n: v["seconds"] for n, v in queries.items()},
            "query_self_s": {n: v["self_s"] for n, v in queries.items()},
            "sum_query_s": sum(v["seconds"] for v in queries.values()),
        })
    metrics = {k: (per_run[k] if k in per_run
                   else statistics.median(pp.get(k, 0.0) for pp in per_pass), unit)
               for k, unit in UNITS.items()}
    detail = {"per_pass": per_pass, "per_query": per_query, "pass_self_times": self_times,
              "spans": tracer.to_json()}
    return metrics, detail


def attach_overhead(record: dict, work_dir: str) -> None:
    """Tracing overhead against the latest untraced run of the same queries,
    preferring one with the same seed."""
    best = None
    for path in glob.glob(os.path.join(work_dir, "results", f"{record['workload']}-*.json")):
        with open(path, encoding="utf-8") as f:
            r = json.load(f)
        if r.get("queries") != record["queries"]:
            continue
        same_seed = r["seed"] == record["seed"]
        key = (same_seed, r["time"])
        if best is None or key > best[0]:
            best = (key, r)
    detail = record["trace_detail"]
    if best is None:
        detail["overhead"] = None
        return
    untraced = statistics.median(best[1]["pass_s"])
    traced = statistics.median(record["pass_s"])
    detail["overhead"] = {"untraced_pass_s": untraced, "traced_pass_s": traced,
                          "untraced_seed": best[1]["seed"],
                          "overhead_frac": traced / untraced - 1}
