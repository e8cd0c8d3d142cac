"""Benchmark entry point.

    python3 perfbench/run.py --workload lakehouse --seed 1 --seconds 10 --trace 0

Runs one workload of ``perfbench/workloads.py`` in this process (Spark
``local[nproc]``), checks every operation's output, writes a full
artifact (host block, every metric, spans when traced) under
``.perfbench_work/results/`` and prints, as the last stdout line, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the
separate traced run, which reports the per-layer metrics.

Run from the root of a checkout; everything it writes stays under
``.perfbench_work/`` there. ``--scale`` shrinks the inputs for smoke
tests only.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

from perfbench import procfs  # noqa: E402
from perfbench.tracer import SparkCounters, Tracer  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    CORPUS_ENTRIES,
    OWN_UNITS,
    SERVE_ENDPOINTS,
    WAREHOUSE_ENTRIES,
    WORKLOADS,
    Ledger,
    du_bytes,
)

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
    "driver_peak_rss_mb": "MB",
    "ok_ratio": "ratio",
}

#: Log-lake layers whose summed self time is reported as ``<name>_s``.
LAKE_LAYERS = (
    "sources.logs.write_bronze",
    "plans.quality.run_quality_checks",
    "plans.pipeline.run_pipeline",
    "plans.pipeline.init_lake",
    "plans.pipeline.merge_batch_into_lake",
    "plans.lakehouse.write",
    "plans.lakehouse.merge",
    "plans.lakehouse.read",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric, in output order, with its unit."""
    out = {
        "session.start_s": "s",
        "cpu.jvm_s": "s",
        "cpu.py_workers_s": "s",
        "cpu.driver_py_s": "s",
        "trace.unattributed_s": "s",
        "trace.bench_s": "s",
        "trace.overhead_ratio": "ratio",
    }
    out.update({f"{name}_s": "s" for name in LAKE_LAYERS})
    out.update({
        "streaming.lake.drain_overhead_s": "s",
        "sources.logs.write_bronze.rows": "count",
        "sources.logs.write_bronze.bytes": "bytes",
        "plans.quality.run_quality_checks.jobs": "count",
        "plans.pipeline.merge_batch_into_lake.jobs_per_batch": "count",
        "plans.lakehouse.merge.files_per_batch": "count",
        "plans.lakehouse.merge.bytes_per_batch": "bytes",
    })
    out.update({f"operators.serve.{e}_p50_s": "s" for e in SERVE_ENDPOINTS})
    out["operators.serve.jobs_per_page_view"] = "count"
    for entry, mod in WAREHOUSE_ENTRIES.items():
        out[f"{mod}.{entry}_s"] = "s"
        for c in ("jobs", "stages", "tasks"):
            out[f"{mod}.{entry}.{c}"] = "count"
    for entry, mod in CORPUS_ENTRIES.items():
        out[f"{mod}.{entry}_s"] = "s"
        out[f"{mod}.{entry}.jobs"] = "count"
    return out


class Context:
    def __init__(self, args, run_dir: str, ledger):
        self.root = ROOT
        self.seed = args.seed
        self.seconds = args.seconds
        self.scale = args.scale
        self.run_dir = run_dir
        self.inputs = os.path.join(WORK, "inputs")
        self.ledger = ledger


def process_age_s() -> float:
    """Seconds since this process started (``/proc`` clock ticks)."""
    with open("/proc/self/stat") as fh:
        raw = fh.read()
    start_ticks = int(raw[raw.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


#: Driver heap as a share of host memory (the program's 16g default can
#: exceed the host). The heap is committed and touched at start (-Xms,
#: AlwaysPreTouch), so resident memory does not follow the JVM's heap
#: resizing and garbage-collection timing from run to run;
#: ``procfs.PeakMemory`` takes that constant out of ``peak_rss_mb``.
HEAP_SHARE = 0.15


def pin_env(run_dir: str, mem_bytes: int) -> dict[str, str]:
    """Run configuration chosen by the benchmark, not the program's defaults."""
    cores = len(os.sched_getaffinity(0))
    heap = f"{max(1, int(mem_bytes * HEAP_SHARE / 2**30))}g"
    tmp = os.path.join(run_dir, "tmp")
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # The program defaults to 16g; size the heap to the host instead.
        "SPARK_GRAFT_DRIVER_MEM": heap,
        # Spark's Python workers import the package, so it must be on their path.
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
    }
    # HotSpot writes its perf-data file under /tmp unless told not to.
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if o)
    os.environ.update(env)
    tempfile.tempdir = tmp
    # Program defaults: table caching stays off, as it is for users.
    os.environ.pop("SPARK_GRAFT_CACHE_TABLES", None)
    return env


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(tracer, root: int, wl, session_s: float,
                  cpu0: dict, cpu1: dict) -> dict[str, float]:
    """Reduce the traced pass, which ``wl`` has just run, to the per-layer
    metrics (0 where a layer did not run on this workload). The caller
    fills in ``trace.overhead_ratio``."""
    self_t = tracer.self_times(root)
    m = {name: 0.0 for name in per_layer_units()}
    m["session.start_s"] = session_s
    for k in ("cpu.jvm_s", "cpu.py_workers_s", "cpu.driver_py_s"):
        m[k] = cpu1[k] - cpu0[k]
    m["trace.unattributed_s"] = self_t.get("trace.unattributed", 0.0)
    m["trace.bench_s"] = sum(v for k, v in self_t.items() if k.startswith("bench."))
    for name in LAKE_LAYERS:
        m[f"{name}_s"] = self_t.get(name, 0.0)
    m["streaming.lake.drain_overhead_s"] = self_t.get("streaming.lake.stream_fct_maintenance", 0.0)
    m["plans.quality.run_quality_checks.jobs"] = tracer.count_totals(
        "plans.quality.run_quality_checks")["jobs"]
    merges = tracer.count_totals("plans.pipeline.merge_batch_into_lake")
    if merges["calls"]:
        m["plans.pipeline.merge_batch_into_lake.jobs_per_batch"] = merges["jobs"] / merges["calls"]
    rewrites = getattr(wl, "rewrites", [])
    if rewrites:
        m["plans.lakehouse.merge.files_per_batch"] = statistics.median(f for f, _ in rewrites)
        m["plans.lakehouse.merge.bytes_per_batch"] = statistics.median(b for _, b in rewrites)
    bronze = getattr(wl, "bronze", None)
    if bronze:
        import duckdb

        m["sources.logs.write_bronze.bytes"] = du_bytes(bronze)
        m["sources.logs.write_bronze.rows"] = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{bronze}/**/*.parquet')").fetchone()[0]
    jobs = 0
    for e in SERVE_ENDPOINTS:
        d = tracer.durations(f"operators.serve.{e}")
        if d:
            m[f"operators.serve.{e}_p50_s"] = statistics.median(d)
        jobs += tracer.count_totals(f"operators.serve.{e}")["jobs"]
    # Every page view makes one request of each kind.
    views = len(tracer.durations(f"operators.serve.{SERVE_ENDPOINTS[0]}"))
    if views:
        m["operators.serve.jobs_per_page_view"] = jobs / views
    for entries, counters in ((WAREHOUSE_ENTRIES, ("jobs", "stages", "tasks")),
                              (CORPUS_ENTRIES, ("jobs",))):
        for entry, mod in entries.items():
            span = f"{mod}.{entry}"
            d = tracer.durations(span)
            if not d:
                continue
            m[f"{span}_s"] = statistics.median(d)
            first = next(i for i, s in enumerate(tracer.spans) if s.name == span)
            counts = tracer.inclusive_counts(first)
            for c in counters:
                m[f"{span}.{c}"] = counts[c]
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke tests)")
    args = ap.parse_args(argv)

    try:
        import mini_log_lakehouse_spark
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(mini_log_lakehouse_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: the program is not in this checkout ({ROOT})", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    env = pin_env(run_dir, procfs.meminfo_bytes())
    load_start = os.getloadavg()

    from pyspark import SparkContext

    from mini_log_lakehouse_spark.session import get_spark

    ledger = Ledger()
    ctx = Context(args, run_dir, ledger)
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        extra_conf={"spark.driver.extraJavaOptions":
                    f"-Xms{env['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch "
                    f"-Djava.io.tmpdir={env['TMPDIR']}"},
    )
    session_s = time.perf_counter() - t0
    host = procfs.host_block(spark)
    host["load_start"] = load_start
    jvm_pid = getattr(SparkContext._gateway, "proc", None)
    jvm_pid = jvm_pid.pid if jvm_pid is not None else None
    artifact = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                "trace": args.trace, "scale": args.scale, "host": host, "env": env}
    try:
        wl = WORKLOADS[args.workload](spark, ctx)
        wl.prepare()
        setup_s = process_age_s() - wl.excluded_s
        if args.trace == 0:
            memory = procfs.PeakMemory(spark, jvm_pid)
            memory.start()
            res = wl.timed_pass("pass")
            peak, parts = memory.read()
            wl.verify()
            artifact["peak_rss_mb"] = parts
            values = {
                "setup_s": setup_s,
                "pass_s": res["pass_s"],
                "peak_rss_mb": peak,
                "driver_peak_rss_mb": parts["driver_py"],
                "ok_ratio": (ledger.attempted - ledger.failed) / max(ledger.attempted, 1),
            }
            units = END_TO_END
            artifact["workload_metrics"] = res
        else:
            # The traced pass runs between two untraced ones, and the
            # overhead ratio divides by their mean, so a host speed drift
            # across the three passes does not pass for tracing overhead.
            untraced = [wl.timed_pass("untraced-a", top_up=False)["pass_s"]]
            wl.verify()
            tracer = Tracer(SparkCounters(spark))
            for owner, attr, name in wl.layers():
                tracer.wrap(owner, attr, name)
            wl.tracer = tracer
            cpu0 = procfs.cpu_split(jvm_pid)
            try:
                with tracer.span("pass"):
                    traced = wl.timed_pass("traced", top_up=False)
            finally:
                tracer.uninstall()
                wl.tracer = None
            cpu1 = procfs.cpu_split(jvm_pid)
            wl.verify()
            values = layer_metrics(tracer, 0, wl, session_s, cpu0, cpu1)
            untraced.append(wl.timed_pass("untraced-b", top_up=False)["pass_s"])
            wl.verify()
            values["trace.overhead_ratio"] = traced["pass_s"] / statistics.mean(untraced)
            units = per_layer_units()
            artifact["spans"] = tracer.dump()
            artifact["pass_s"] = {"untraced": untraced, "traced": traced["pass_s"]}
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    host["load_end"] = os.getloadavg()
    result = {
        "correct": ledger.attempted > 0 and ledger.failed == 0,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    artifact["setup_s"] = {"total": setup_s, "session_s": session_s,
                           "excluded_s": wl.excluded_s}
    artifact["result"] = result
    out_dir = os.path.join(WORK, "results")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    own = artifact.get("workload_metrics", {})
    print(json.dumps({"workload_metrics": {
        k: {"value": own[k], "unit": u} for k, u in OWN_UNITS.items() if k in own}}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
