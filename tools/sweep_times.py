"""Time named registry queries (median of N warm iterations, noop sink
per guide §1.4) in ONE warm/bench-mode session and print a JSON dict.

Run: python tools/sweep_times.py [--sf SF_DIR] [--iters N] query [query ...]
     python tools/sweep_times.py --all            # every registry entry

The r16 optimization round's A/B harness (same methodology as the r15
sweep): each query is built fresh per iteration (no cross-iteration
result reuse), executed to the noop sink, labeled in the UI.

``compiles`` maps each query to ``[count, seconds]``: the Janino
compiles over its timed iterations (Spark's ``CodegenMetrics`` and
``CodeGenerator.compileTime``). The warm-up has compiled every shape,
so a nonzero count means an evicting codegen cache or code that
inlines a literal varying between iterations.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--out", default=None)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import bench
    from mini_log_lakehouse_spark.entry_registry import QUERIES
    from mini_log_lakehouse_spark.session import get_spark

    names = list(QUERIES) if args.all else args.queries
    machine = bench.host()
    spark = get_spark(app_name="sweep-times-r16")
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark._jvm
    compile_count = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount
    compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime
    out: dict[str, float] = {}
    compiles: dict[str, list] = {}
    for name in names:
        fn = QUERIES[name]
        spark.sparkContext.setJobDescription(f"warmup: {name}")
        fn(spark, args.sf).write.format("noop").mode("overwrite").save()
        times = []
        count0, ns0 = compile_count(), compile_ns()
        for i in range(args.iters):
            spark.sparkContext.setJobDescription(f"timed[{i}]: {name}")
            t0 = time.perf_counter()
            fn(spark, args.sf).write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t0)
        out[name] = round(statistics.median(times), 4)
        compiles[name] = [compile_count() - count0,
                          round((compile_ns() - ns0) / 1e9, 4)]
        print(f"{name}: {out[name]} s  (runs: {[round(t, 3) for t in times]}, "
              f"compiles: {compiles[name]})", file=sys.stderr)
    spark.stop()
    payload = json.dumps(
        {"sf_dir": args.sf, "iters": args.iters, "host": machine, "times": out,
         "compiles": compiles}
    )
    print(payload)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(payload + "\n")


if __name__ == "__main__":
    main()
