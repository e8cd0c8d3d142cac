"""Dump `.explain("formatted")` for named registry queries to
plans/r15/<name>_<tag>.txt — the optimization round's plan evidence
(before/after pairs for every query touched).

Run: python tools/opt_plans.py <tag> [sf_dir] [query ...]
Defaults: sf_dir=/root/testdata/sf0.1, queries=bench HEADLINE set.
Warm/bench mode (SPARK_GRAFT_CACHE_TABLES=1) so the captured plans are
the ones the bench actually executes (bucketed warehouse, cached dims).
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CACHE_TABLES", "1")
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    from mini_log_lakehouse_spark.entry_registry import QUERIES
    from mini_log_lakehouse_spark.session import get_spark

    names = sys.argv[3:]
    if not names:
        import bench

        names = list(bench.HEADLINE)
    spark = get_spark(app_name=f"opt-plans-{tag}")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r15"
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        fn = QUERIES[name]
        df = fn(spark, sf_dir)
        # One execution first: warm-mode plans change after the caches
        # and bucketed tables exist — capture the steady-state plan the
        # bench's timed iterations run, not the first-call build plan.
        df.collect()
        df = fn(spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {name} @ {sf_dir} ({tag})\n\n")
            fh.write(buf.getvalue())
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
