#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S] [--trace 0|1]

Run from the root of a checkout. One run:

1. generates the workload's input with ``tools/gen_sf.generate(sf, dir, seed)``;
2. evaluates every query's DuckDB oracle once on that input (not timed);
3. sets up: ``session.get_spark`` sized to this machine, then untimed
   warm-up passes (``setup_s``);
4. runs timed passes until ``--seconds`` have elapsed. A pass submits the
   workload's queries one after another (a closed loop with one client).
   Each pass reads its own byte-identical copy of the input under a path no
   earlier pass has read. Each query is timed from the ``QUERIES[name]``
   call through the full collection of its result and the result digest,
   which is checked against the oracle digest;
5. prints ``{"correct", "attempted", "failed", "metrics"}`` as the last line
   of stdout: the end-to-end metrics with ``--trace 0``, the per-layer
   metrics with ``--trace 1``.

The traced run turns on the Spark event log and records spans; its details
(spans, per-query layer metrics, tracing overhead) go to
``.perfbench/traces/``. Every run's full record goes to
``.perfbench/results/``; ``perfbench/compare.py`` compares two sets of them.
Everything the run writes stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import gen_sf  # noqa: E402  (tools/gen_sf.py)
from pyspark import SparkContext  # noqa: E402

from create_proposals_using_vector_db_public_spark.plans import ORACLES, QUERIES  # noqa: E402
from create_proposals_using_vector_db_public_spark.session import get_spark  # noqa: E402
from perfbench import check, layers, tracing  # noqa: E402
from perfbench.workloads import PROBE_SF, QUALITY, QUALITY_METRICS, WORKLOADS, Workload  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench")
# Untimed passes after start-up. The first pass in a fresh JVM loads and
# compiles most of the code (15-20 s on 4 cores). The next ones still speed
# up while the JIT compiles hot code: with two warm-up passes the timed
# passes of search_curate fell from 5.2 s to 3.6 s within one run, so
# their median depended on how many passes fit. After three they are
# nearly flat. They never get quite flat, because every pass keeps the JIT
# compiler busy for seconds with newly generated code (``jvm.compile_s``).
WARMUP_PASSES = 3


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


class Machine:
    """Cores and memory of this machine, and the sizes derived from them."""

    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        # Spark task threads get half the cores. The other half runs what
        # each pass also needs: the JIT compiler threads (busy for 2-5 s in
        # each 3-5 s pass), GC and the Python driver. With a task thread per core
        # these competed with the tasks, and on 4 cores search_curate passes
        # took longer and spread more between runs than with two threads.
        self.cores = max(1, self.nproc // 2)
        self.mem_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") // (1 << 20)
        # A quarter of memory each for the driver heap and the DuckDB
        # oracle; the rest covers the JVM's off-heap use and Python.
        self.heap_mb = self.mem_mb // 4
        self.duck_mb = self.mem_mb // 4

    def describe(self) -> dict:
        import pyspark

        return {"nproc": self.nproc, "cores": self.cores, "mem_mb": self.mem_mb,
                "heap_mb": self.heap_mb, "spark": pyspark.__version__,
                "python": platform.python_version()}


def configure_env(run_dir: str, machine: Machine) -> None:
    """Point every scratch location inside the run directory and size Spark."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(machine.cores)
    os.environ["SPARK_DRIVER_MEM"] = f"{machine.heap_mb}m"
    # Python workers import the package (q_pickle_roundtrip needs it).
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def spark_conf(run_dir: str, trace: bool) -> dict[str, str]:
    conf = {
        # keep the JVM's temporary files (and its perf-data file, which
        # ignores java.io.tmpdir) out of the shared /tmp
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + log_dir,
                     "spark.eventLog.compress": "false"})
    return conf


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def copy_input(src: str, run_dir: str, label: str) -> str:
    """A byte-identical copy of the input under a path never read before."""
    dst = os.path.join(run_dir, "inputs", label)
    shutil.copytree(src, dst)
    return dst


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM, in MiB."""
    with open(f"/proc/{jvm_pid(spark)}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in the driver JVM's /proc status")


def live_memory_mb(spark) -> float:
    """Driver JVM heap in use after a full GC, plus its non-heap (class
    metadata, code cache): the memory the run still holds, in MiB."""
    jvm = spark._jvm
    jvm.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()) / (1 << 20)


def reset_peak_rss(spark) -> None:
    """Restart the JVM's peak-RSS counter so it covers only the timed passes."""
    try:
        with open(f"/proc/{jvm_pid(spark)}/clear_refs", "w", encoding="ascii") as f:
            f.write("5")
    except OSError as e:
        log(f"cannot reset peak RSS ({e}); peak_rss_mb covers set-up too")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it, reaped children included: the Python driver, the Spark
    JVM and the JVM's Python workers."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[1] is ppid; fields[11:15] are utime, stime, cutime, cstime
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


class Runner:
    """Runs queries, one phase per Spark job group, and checks their results."""

    def __init__(self, spark, workload: Workload, expected: dict, tracer: tracing.Tracer):
        self.spark = spark
        self.sc = spark.sparkContext
        self.workload = workload
        self.expected = expected
        self.tracer = tracer

    def _group(self, pass_label: str, name: str, phase: str) -> str:
        group = f"{self.workload.name}|{pass_label}|{name}|{phase}"
        self.sc.setJobGroup(group, group)
        return group

    def query(self, name: str, data_dir: str, pass_label: str, parent) -> dict:
        """Build, plan, execute and consume one query; check its digest."""
        out = {"query": name, "ok": False}
        tr = self.tracer
        t0 = time.perf_counter()
        try:
            with tr.span(name, parent, name) as qspan:
                build_group = self._group(pass_label, name, "build")
                with tr.span("build", qspan, name):
                    df = QUERIES[name](self.spark, data_dir)
                t1 = time.perf_counter()
                self._group(pass_label, name, "plan")
                with tr.span("plan", qspan, name):
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                t2 = time.perf_counter()
                self._group(pass_label, name, "execute")
                with tr.span("execute", qspan, name):
                    pdf = df.toPandas()
                t3 = time.perf_counter()
                with tr.span("consume", qspan, name):
                    got = check.digest(pdf)
                t4 = time.perf_counter()
        except Exception:
            out["error"] = traceback.format_exc(limit=3)
            out["seconds"] = time.perf_counter() - t0
            return out
        finally:
            self.sc.setJobGroup("", "")
        out.update(seconds=t4 - t0, build_s=t1 - t0, plan_s=t2 - t1, execute_s=t3 - t2,
                   consume_s=t4 - t3, rows=got.rows,
                   build_jobs=len(self.sc.statusTracker().getJobIdsForGroup(build_group)))
        out["problems"] = got.problems(self.expected[name])
        out["ok"] = not out["problems"]
        if tr.enabled:
            out["catalyst"] = tracing.plan_stats(qe)
        if name in QUALITY:
            out["quality"] = QUALITY[name](pdf)
        return out

    def compile_s(self) -> float:
        """Time the driver JVM's JIT compiler threads have spent compiling."""
        mx = self.spark._jvm.java.lang.management.ManagementFactory
        return mx.getCompilationMXBean().getTotalCompilationTime() / 1000

    def run_pass(self, names, data_dir: str, pass_label: str) -> dict:
        j0 = self.compile_s()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        with self.tracer.span(f"pass {pass_label}") as pspan:
            queries = [self.query(n, data_dir, pass_label, pspan) for n in names]
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        compile_s = self.compile_s() - j0
        for q in queries:
            if not q["ok"]:
                log(f"FAIL {pass_label} {q['query']}: "
                    + (q.get("error") or "; ".join(q["problems"])))
        return {"label": pass_label, "span": pspan, "seconds": wall, "cpu_s": cpu,
                "compile_s": compile_s, "queries": queries}


def build_jobs_changes(passes: list[dict]) -> list[str]:
    """Queries whose build-time job count differs between timed passes."""
    counts: dict[str, set] = {}
    for p in passes:
        for q in p["queries"]:
            counts.setdefault(q["query"], set()).add(q.get("build_jobs"))
    return sorted(n for n, c in counts.items() if len(c) > 1)


def generate(sf: float, out: str, seed: int, only=None) -> None:
    t = time.perf_counter()
    with contextlib.redirect_stdout(sys.stderr):
        gen_sf.generate(sf, out, seed=seed, only=only)
    log(f"generated sf{sf} seed {seed} in {time.perf_counter() - t:.1f}s")


def run(workload: Workload, seed: int, seconds: float, trace: bool, run_dir: str,
        machine: Machine) -> dict:
    names = list(workload.queries)
    probe_names = [n for n in QUALITY if n not in names] if trace else []
    data, probe_data = os.path.join(run_dir, "input"), os.path.join(run_dir, "probe-input")
    generate(workload.sf, data, seed, only=workload.tables)
    t = time.perf_counter()
    duck = (ORACLES, os.path.join(run_dir, "duckdb"), f"{machine.duck_mb}MB")
    expected = check.oracle_digests(data, names, *duck)
    if probe_names:
        generate(PROBE_SF, probe_data, seed, only={"documents", "embeddings"})
        expected.update(check.oracle_digests(probe_data, probe_names, *duck))
    log(f"oracles evaluated in {time.perf_counter() - t:.1f}s")

    tracer = tracing.Tracer(trace)
    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(run_dir, trace))
    start_s = time.perf_counter() - t0
    try:
        runner = Runner(spark, workload, expected, tracer)
        t1 = time.perf_counter()
        for i in range(WARMUP_PASSES):
            label = f"warmup{i}"
            w = runner.run_pass(names, copy_input(data, run_dir, label), label)
            log(f"{label}: {w['seconds']:.3f}s cpu {w['cpu_s']:.2f}s")
        warmup_s = time.perf_counter() - t1
        log(f"set-up {start_s:.2f}s start + {warmup_s:.2f}s warm-up")
        reset_peak_rss(spark)

        passes = []
        deadline = time.perf_counter() + seconds
        while not passes or time.perf_counter() < deadline:
            label = f"pass{len(passes)}"
            passes.append(runner.run_pass(names, copy_input(data, run_dir, label), label))
            log(f"{label}: {passes[-1]['seconds']:.3f}s cpu {passes[-1]['cpu_s']:.2f}s")
        peak_rss = peak_rss_mb(spark)
        live_mb = live_memory_mb(spark)
        # Quality queries this workload does not time run once, untimed, after
        # the timed passes, so the timed passes never run their code.
        probe = runner.run_pass(probe_names, probe_data, "probe") if probe_names else None
    finally:
        stop_spark(spark)

    timed = [q for p in passes for q in p["queries"]]
    failed = sum(not q["ok"] for q in timed)
    probe_queries = probe["queries"] if probe else []
    quality = {}
    for q in timed + probe_queries:
        for k, v in q.get("quality", {}).items():
            quality.setdefault(k, v)
    pass_s = [p["seconds"] for p in passes]
    record = {
        "workload": workload.name, "queries": names, "seed": seed, "seconds": seconds,
        "trace": int(trace),
        "sf": workload.sf, "machine": machine.describe(), "time": time.time(),
        "passes": len(passes), "pass_s": pass_s, "start_s": start_s, "warmup_s": warmup_s,
        "peak_rss_mb": peak_rss, "live_mb": live_mb,
        "quality": quality, "build_jobs_changed": build_jobs_changes(passes),
        "probe_failed": [q["query"] for q in probe_queries if not q["ok"]],
        "per_query": {p["label"]: {q["query"]: {k: v for k, v in q.items()
                                                if k not in ("catalyst", "query")}
                                   for q in p["queries"]} for p in passes},
    }
    if record["build_jobs_changed"]:
        log(f"build-time job count changes between passes: {record['build_jobs_changed']}")
    if trace:
        per_run = {"session.start_s": start_s, "session.warmup_s": warmup_s,
                   "jvm.peak_rss_mb": peak_rss, **quality}
        metrics, record["trace_detail"] = layers.per_layer(
            workload.name, passes, tracer, run_dir, machine.cores, per_run)
    else:
        metrics = {
            "pass_s": (statistics.median(pass_s), "s"),
            "setup_s": (start_s + warmup_s, "s"),
            "live_mb": (live_mb, "MiB"),
            "ok_frac": ((len(timed) - failed) / len(timed), "ratio"),
        }
    record["result"] = {
        "correct": failed == 0 and not record["probe_failed"]
        and (not trace or set(quality) == set(QUALITY_METRICS)),
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return record


def save(record: dict) -> str:
    kind = "traces" if record["trace"] else "results"
    os.makedirs(os.path.join(WORK, kind), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime(record["time"]))
    path = os.path.join(WORK, kind,
                        f"{record['workload']}-seed{record['seed']}-{stamp}-{os.getpid()}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1, default=str)
    return path


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=16.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    machine = Machine()
    log(f"workload {args.workload} seed {args.seed} seconds {args.seconds} trace {args.trace}; "
        + ", ".join(f"{k} {v}" for k, v in machine.describe().items()))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    configure_env(run_dir, machine)
    try:
        record = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace),
                     run_dir, machine)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    log("stopped and cleaned up")
    if args.trace:
        layers.attach_overhead(record, WORK)
        overhead = record["trace_detail"]["overhead"]
        if overhead:
            log(f"tracing overhead {overhead['overhead_frac']:+.1%} against untraced pass_s "
                f"{overhead['untraced_pass_s']:.3f}s (seed {overhead['untraced_seed']})")
    log(f"record written to {save(record)}")
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
