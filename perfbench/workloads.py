"""The two workloads.

Each workload drives the program only through its public functions
(``plans.pipeline``, ``plans.lakehouse``, ``streaming.lake``,
``operators.serve`` and the ``entry_registry`` callables). It has three
parts, called in this order by ``run.py``:

- ``prepare``: everything before timing (lake build, warm-up rounds).
  It counts toward ``setup_s``; the benchmark's own work inside it
  (input generation, expected results) is reported as ``excluded_s``.
- ``timed_pass(tag)``: the workload's fixed work, then more samples of
  its unit operation until ``--seconds`` have passed. It keeps what each
  operation returned; the returned dict holds ``pass_s`` and the
  workload's own metrics. ``tag`` names fresh directories, so further
  passes (the traced run's) repeat the same work.
- ``verify``: checks every operation of the pass just run. It runs after
  the pass, so the checks count neither in its time nor in its memory.
- ``layers``: the (owner, attribute, span name) triples the traced run
  wraps.
"""

from __future__ import annotations

import functools
import os
import pickle
import random
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

from perfbench import gen

FACT = "fct_requests_hourly"

#: Metrics that only one workload measures; printed and kept in the
#: artifact (the result line carries the metrics every workload has).
OWN_UNITS = {
    "ingest_rows_per_s": "rows/s",
    "freshness_p50_s": "s",
    "freshness_samples": "count",
    "stored_bytes_per_input_byte": "ratio",
    "query_p50_s": "s",
    "query_p95_s": "s",
    "query_samples": "count",
    "rounds": "count",
}


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    s = sorted(values)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def du_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class Ledger:
    """Operations attempted and failed; a failed check is a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr)
        return ok


class Workload:
    def __init__(self, spark, ctx):
        self.spark = spark
        self.ctx = ctx  # run.Context: dirs, seed, seconds, scale, ledger
        self.ledger = ctx.ledger
        self.excluded_s = 0.0
        self.tracer = None  # set only for the traced pass
        self.pending = []  # checks of the operations run so far

    def span(self, name: str, request_id: str | None = None):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, request_id)

    def bench(self, what: str):
        """Span for the benchmark's own work inside a pass; the traced
        run reports it apart from the layers, as ``trace.bench_s``."""
        return self.span(f"bench.{what}")

    def verify(self) -> None:
        pending, self.pending = self.pending, []
        for check in pending:
            check()

    def excluded(self, fn, *args):
        """Run the benchmark's own work outside setup_s."""
        t0 = time.perf_counter()
        out = fn(*args)
        self.excluded_s += time.perf_counter() - t0
        return out

    def fresh(self, *parts) -> str:
        path = os.path.join(self.ctx.run_dir, *parts)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def deadline_left(self, t0: float, top_up: bool) -> bool:
        return top_up and time.perf_counter() - t0 < self.ctx.seconds


# --- log lakehouse: write path, then read path ------------------------------


#: One dashboard page view, in the order its requests are made: the date
#: picker's ``available_dates``, then one request per panel for the date
#: picked (``hourly_breakdown`` has no caller).
SERVE_ENDPOINTS = (
    "available_dates", "kpi_totals", "hourly_trend", "top_endpoints", "errors_by_endpoint",
)

#: DuckDB twins of the serve queries, over one lake snapshot ``fct``.
_SERVE_SQL = {
    "available_dates": "SELECT DISTINCT date FROM fct ORDER BY date",
    "kpi_totals": (
        "SELECT CAST(SUM(requests) AS BIGINT) AS total_requests, "
        "CAST(SUM(errors) AS BIGINT) AS total_errors FROM fct WHERE date = DATE '{d}'"
    ),
    "hourly_trend": (
        "SELECT hour, CAST(SUM(requests) AS BIGINT), CAST(SUM(errors) AS BIGINT) "
        "FROM fct WHERE date = DATE '{d}' GROUP BY hour ORDER BY hour"
    ),
    "top_endpoints": (
        "SELECT endpoint, CAST(SUM(requests) AS BIGINT) AS r, CAST(SUM(errors) AS BIGINT) AS e "
        "FROM fct WHERE date = DATE '{d}' GROUP BY endpoint ORDER BY r DESC, e DESC"
    ),
    "errors_by_endpoint": (
        "SELECT endpoint, CAST(SUM(errors) AS BIGINT) AS e, CAST(SUM(requests) AS BIGINT) AS r "
        "FROM fct WHERE date = DATE '{d}' GROUP BY endpoint ORDER BY e DESC, r DESC"
    ),
}
TOP_K = 10


def _serve_canonical(kind: str, rows: list[tuple]) -> tuple:
    """Comparable form of a serve result. Rows the query orders only
    partially (ties on the sort keys) compare as a sorted set; for
    ``top_endpoints`` the endpoint names at a tied cut-off are
    arbitrary, so only the (requests, errors) sequence is compared
    there, plus membership of each returned row (checked separately)."""
    if kind == "top_endpoints":
        return tuple((r[1], r[2]) for r in rows)
    if kind == "kpi_totals":
        req, err = rows[0][0], rows[0][1]
        rate = rows[0][2] if len(rows[0]) == 3 else (err * 100.0 / req if req else 0.0)
        return ((req, err, f"{rate:.4f}"),)
    if kind == "available_dates":
        return tuple(str(r[0]) for r in rows)
    return tuple(sorted(tuple(str(v) for v in r) for r in rows))


class Lakehouse(Workload):
    """The reference's whole product on one lake. Write path: a 7-day
    backlog through ``run_pipeline`` + ``init_lake``, then one-day batches
    landed by atomic rename into a watched directory, drained by the
    streaming foreachBatch MERGE and probed with ``serve.kpi_totals``.
    Read path: a seeded closed-loop stream of dashboard page views over
    the lake just written. Each page view requests the available dates,
    then every panel for one date; each request resolves the latest
    snapshot with ``LakehouseTable.read()``, as a live API would, and
    collects."""

    BACKLOG_DAYS = 7
    LINES_PER_DAY = 10_000
    BATCHES = 3
    WARMUP_BATCHES = 2
    PAGE_VIEWS = 3
    #: Assumed share of page views that open the newest day; the others
    #: pick one of the older days uniformly.
    LATEST_SHARE = 0.5
    MIN_REQUEST_ROUNDS = 2

    def prepare(self):
        self.lines_per_day = max(int(self.LINES_PER_DAY * self.ctx.scale), 200)
        self.logs = self.excluded(
            gen.in_child, "logs", self.ctx.inputs, self.ctx.seed, "2025-11-01",
            self.BACKLOG_DAYS + self.BATCHES, self.lines_per_day,
        )
        self.totals = self.excluded(gen.load_totals, self.logs)
        self.days = sorted(f[:-4] for f in os.listdir(self.logs) if f.endswith(".log"))
        warm = self.excluded(
            gen.in_child, "logs", self.ctx.inputs, self.ctx.seed + 1_000_003, "2025-10-01",
            1 + self.WARMUP_BATCHES, max(self.lines_per_day // 4, 200),
        )
        warm_totals = gen.load_totals(warm)
        # Throwaway lake: the first merges and queries in a JVM are much
        # slower than later ones, so a few run here before anything is timed.
        files = sorted(f for f in os.listdir(warm) if f.endswith(".log"))
        root = self.fresh("warmup")
        first = self.fresh("warmup", "raw0")
        shutil.copy(os.path.join(warm, files[0]), first)
        bronze, lake = self.load_backlog(first, root)
        watch = self.fresh("warmup", "watch")
        for f in files[1:]:
            self.land_and_probe(warm, f, watch, bronze, lake, root, warm_totals)
        for kind in SERVE_ENDPOINTS:
            self.request(lake, kind, files[-1][:-4], "warmup")
        self.excluded(self.verify)
        rng = random.Random(self.ctx.seed)
        self.stream = []
        for _ in range(self.PAGE_VIEWS):
            if rng.random() < self.LATEST_SHARE:
                date = self.days[-1]
            else:
                date = rng.choice(self.days[:-1])
            self.stream.extend((kind, date) for kind in SERVE_ENDPOINTS)

    def load_backlog(self, raw_dir: str, root: str):
        """``run_pipeline`` + ``init_lake`` over every file in ``raw_dir``."""
        from mini_log_lakehouse_spark.plans import pipeline

        bronze, lake = os.path.join(root, "bronze"), os.path.join(root, "lake")
        pipeline.run_pipeline(self.spark, raw_dir, bronze)
        pipeline.init_lake(self.spark, bronze, lake)
        return bronze, lake

    def table(self, lake: str):
        from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable

        return LakehouseTable(self.spark, lake, FACT)

    def snapshot_dir(self, lake: str) -> str:
        """Directory of the latest published snapshot (``v<n>``)."""
        return os.path.join(lake, FACT, f"v{self.table(lake).latest_version()}")

    def land_and_probe(self, src_dir, name, watch, bronze, lake, root, totals) -> float:
        """Land one day file by atomic rename, drain it, probe its totals.
        Returns the freshness: landing until the probe returned (the
        probe's result is checked by ``verify``)."""
        from mini_log_lakehouse_spark.operators import serve
        from mini_log_lakehouse_spark.streaming import lake as stream_lake

        staging = os.path.join(root, "staging")
        os.makedirs(staging, exist_ok=True)
        with self.bench("copy"):
            shutil.copy(os.path.join(src_dir, name), staging)
        date = name[: -len(".log")]
        t0 = time.perf_counter()
        with self.span("lakehouse.batch", request_id=date):
            os.replace(os.path.join(staging, name), os.path.join(watch, name))
            stream_lake.stream_fct_maintenance(
                self.spark, watch, bronze, lake, os.path.join(root, "checkpoint")
            )
            with self.span("lakehouse.probe"):
                row = serve.kpi_totals(self.table(lake).read(), date).collect()[0]
        fresh = time.perf_counter() - t0
        if self.tracer is not None:
            with self.bench("rewrites"):
                snap = self.snapshot_dir(lake)
                self.rewrites.append((len(os.listdir(snap)), du_bytes(snap)))
        self.pending.append(lambda: self.check_probe(totals, date, row))
        return fresh

    def check_probe(self, totals: dict, date: str, row) -> None:
        want_req, want_err = totals["days"][date]
        want_rate = round(want_err * 100.0 / want_req, 6)
        self.ledger.record(
            row["total_requests"] == want_req
            and row["total_errors"] == want_err
            and abs(row["error_rate_pct"] - want_rate) < 1e-9,
            f"kpi_totals({date}) = {tuple(row)}, want ({want_req}, {want_err}, {want_rate})",
        )

    def request(self, lake: str, kind: str, date: str, rid: str):
        from mini_log_lakehouse_spark.operators import serve

        with self.span(f"operators.serve.{kind}", request_id=rid):
            fct = self.table(lake).read()
            fn = getattr(serve, kind)
            df = fn(fct) if kind == "available_dates" else fn(fct, date)
            return [tuple(r) for r in df.collect()]

    def timed_pass(self, tag: str, top_up: bool = True) -> dict:
        self.rewrites = []
        backlog, batches = self.days[: self.BACKLOG_DAYS], self.days[self.BACKLOG_DAYS:]
        root = self.fresh(tag)
        raw = self.fresh(tag, "raw")
        with self.bench("copy"):
            for d in backlog:
                shutil.copy(os.path.join(self.logs, f"{d}.log"), raw)
        watch = self.fresh(tag, "watch")

        t0 = time.perf_counter()
        bronze, lake = self.load_backlog(raw, root)
        ingest_s = time.perf_counter() - t0
        fresh = [
            self.land_and_probe(self.logs, f"{d}.log", watch, bronze, lake, root, self.totals)
            for d in batches
        ]
        self.bronze = bronze
        with self.bench("du"):
            stored = du_bytes(bronze) + du_bytes(os.path.join(lake, FACT))

        answers = []
        per_request: list[list[float]] = [[] for _ in self.stream]
        rounds = 0
        while rounds < self.MIN_REQUEST_ROUNDS or self.deadline_left(t0, top_up):
            for i, (kind, date) in enumerate(self.stream):
                q0 = time.perf_counter()
                rows = self.request(lake, kind, date, f"{tag}-{rounds}-{i}")
                per_request[i].append(time.perf_counter() - q0)
                answers.append((kind, date, rows))
            rounds += 1
        self.pending.append(lambda: self.check_lake(lake, answers))
        latencies = [t for ts in per_request for t in ts]
        return {
            # Fixed work, each repeated operation costed at its median:
            # the backlog, BATCHES batch cycles, one pass over the stream.
            "pass_s": ingest_s + len(batches) * statistics.median(fresh)
            + sum(statistics.median(ts) for ts in per_request),
            "ingest_rows_per_s": sum(self.totals["raw_lines"][d] for d in backlog) / ingest_s,
            "freshness_p50_s": statistics.median(fresh),
            "freshness_samples": len(fresh),
            "stored_bytes_per_input_byte": stored / sum(self.totals["raw_bytes"].values()),
            "query_p50_s": statistics.median(latencies),
            "query_p95_s": quantile(latencies, 0.95),
            "query_samples": len(latencies),
        }

    def check_lake(self, lake: str, answers: list) -> None:
        """The final fact, then every request's answer, on one snapshot."""
        self.check_fact(lake)
        expected = self.expected_results(lake)
        for kind, date, rows in answers:
            self.check_request(expected, kind, date, rows)

    def check_fact(self, lake: str) -> None:
        """The final fact must equal the generator's exact grain totals."""
        want = self.totals["grains"]
        got = {
            f"{r['date'].isoformat()}|{r['hour']}|{r['endpoint']}": (
                r["requests"], r["errors"], r["p95_bytes"])
            for r in self.table(lake).read().collect()
        }
        bad = [
            k for k, (req, err, p95) in want.items()
            if k not in got or got[k][:2] != (req, err)
            or abs(got[k][2] - p95) > 1e-9 * max(1.0, abs(p95))
        ]
        self.ledger.record(
            not bad and len(got) == len(want),
            f"final fact: {len(bad)} wrong grains of {len(want)}, {len(got)} rows read",
        )

    def expected_results(self, lake: str) -> dict:
        """Every distinct request, computed once by DuckDB on the snapshot."""
        import duckdb

        con = duckdb.connect()
        try:
            con.execute(
                f"CREATE VIEW fct AS SELECT * FROM read_parquet('{self.snapshot_dir(lake)}/*.parquet')"
            )
            out = {}
            for kind, date in set(self.stream):
                full = con.execute(_SERVE_SQL[kind].format(d=date)).fetchall()
                rows = full[:TOP_K] if kind == "top_endpoints" else full
                out[(kind, date)] = (_serve_canonical(kind, rows), set(full))
            return out
        finally:
            con.close()

    def check_request(self, expected: dict, kind: str, date: str, rows: list[tuple]) -> None:
        want, full = expected[(kind, date)]
        ok = _serve_canonical(kind, rows) == want
        if kind == "top_endpoints":
            ok = ok and all(r in full for r in rows)
        self.ledger.record(ok, f"{kind}({date}) = {rows[:3]}..., want {list(want)[:3]}...")

    def layers(self):
        from mini_log_lakehouse_spark.plans import pipeline
        from mini_log_lakehouse_spark.plans.lakehouse import LakehouseTable
        from mini_log_lakehouse_spark.streaming import lake as stream_lake

        return [
            (pipeline, "run_pipeline", "plans.pipeline.run_pipeline"),
            (pipeline, "init_lake", "plans.pipeline.init_lake"),
            (pipeline, "write_bronze", "sources.logs.write_bronze"),
            (pipeline, "run_quality_checks", "plans.quality.run_quality_checks"),
            (pipeline, "merge_batch_into_lake", "plans.pipeline.merge_batch_into_lake"),
            (LakehouseTable, "write", "plans.lakehouse.write"),
            (LakehouseTable, "merge", "plans.lakehouse.merge"),
            (LakehouseTable, "read", "plans.lakehouse.read"),
            (stream_lake, "stream_fct_maintenance", "streaming.lake.stream_fct_maintenance"),
        ]


# --- registry entries --------------------------------------------------------


def _dump(path: str, obj) -> None:
    with open(path, "wb") as fh:
        pickle.dump(obj, fh)


class _Collected:
    """A collected result in the shape ``oracle_harness.compare`` reads,
    so an execution is checked without running it again."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def digest(columns: list[str], rows) -> tuple:
    """Order-insensitive fingerprint of a result (exact float reprs): the
    sorted columns, the row count and the sum of the rows' hashes modulo
    2**64, taken a row at a time so that it needs no memory of its own."""
    import hashlib

    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = count = 0
    for r in rows:
        h = hashlib.sha1(repr(tuple(r[i] for i in order)).encode()).digest()
        total = (total + int.from_bytes(h[:8], "little")) % 2**64
        count += 1
    return tuple(sorted(columns)), count, total


#: JVM-only registry entries, with the module each lives in; the
#: per-layer metric of an entry is ``<module>.<entry>``.
WAREHOUSE_ENTRIES = {
    "errors_by_type": "operators.events",
    "tpch_q1_pricing_summary": "operators.relational",
    "orders_running_share": "operators.relational",
    "streaming_hourly_fact": "streaming.ingest",
    "streaming_error_followups": "streaming.joins",
}
#: One entry per driver-local tier: n-gram Jaccard GEMM, blocked-cosine
#: GEMM, connected components, dense triangles, dense link prediction.
#: The dedup entries also run the ``functions/`` hashing, text and
#: vector kernels in Python workers.
CORPUS_ENTRIES = {
    "dedup_ngram_jaccard": "operators.dedup",
    "dedup_embedding_cosine": "operators.dedup",
    "dedup_clusters": "operators.dedup",
    "user_cooccurrence_triangles": "operators.funnels",
    "user_link_prediction": "operators.funnels",
}

#: Entries whose DuckDB oracle is quadratic: checked on tables generated
#: at CHECK_SCALE of the workload's scale instead.
SLOW_ORACLE = frozenset({"dedup_ngram_jaccard", "dedup_clusters"})
CHECK_SCALE = 0.2


class Registry(Workload):
    """Registry entries over generated warehouse tables: JVM-only
    analytics (no Python worker) and the LLM-data operators (Python/Arrow
    workers, driver-local tiers). The seed fixes the tables and permutes
    entry order per round; each round reads a directory path not seen
    before in the session (per-round symlinks), so the operators'
    per-path memo caches never turn a timed execution into a dict lookup.

    The first round is warm-up and counts in ``setup_s``; every timed
    execution must reproduce its result's digest exactly. The warm-up
    results are saved to disk and checked against the DuckDB oracle
    (``tests/oracle_harness``) by the first ``verify``, after the first
    pass, so the oracle's memory never counts in a pass."""

    ENTRIES = {**WAREHOUSE_ENTRIES, **CORPUS_ENTRIES}
    SF = 0.005
    MIN_ROUNDS = 2

    def prepare(self):
        from mini_log_lakehouse_spark.entry_registry import ORACLES, QUERIES

        sys.path.insert(0, os.path.join(self.ctx.root, "tests"))
        import oracle_harness

        self.compare = oracle_harness.compare
        self.queries, self.oracles = QUERIES, ORACLES
        sf = self.SF * self.ctx.scale
        self.tables = self.excluded(gen.in_child, "warehouse", self.ctx.inputs, self.ctx.seed, sf)
        self.small = self.excluded(
            gen.in_child, "warehouse", self.ctx.inputs, self.ctx.seed, sf * CHECK_SCALE)
        self.round_no = 0
        self.rng = random.Random(self.ctx.seed)
        self.digests = {}
        d = self.round_dir(self.tables)
        saved = self.fresh("warmup-results")
        for name in self.order():
            columns, rows = self.execute(name, d)
            self.digests[name] = digest(columns, rows)
            if name in SLOW_ORACLE:
                self.pending.append(functools.partial(self.check_small, name))
            else:
                path = os.path.join(saved, f"{name}.pickle")
                self.excluded(_dump, path, (columns, rows))
                self.pending.append(functools.partial(self.check_saved, name, path, d))

    def order(self) -> list[str]:
        names = list(self.ENTRIES)
        self.rng.shuffle(names)
        return names

    def round_dir(self, tables: str) -> str:
        self.round_no += 1
        d = self.fresh("sf", f"r{self.round_no}")
        for f in os.listdir(tables):
            if f.endswith(".parquet"):
                os.symlink(os.path.join(tables, f), os.path.join(d, f))
        return d

    def execute(self, name: str, d: str):
        with self.span(f"{self.ENTRIES[name]}.{name}", request_id=f"r{self.round_no}"):
            df = self.queries[name](self.spark, d)
            return df.columns, df.collect()

    def check(self, name, columns, rows, d) -> None:
        try:
            self.compare(_Collected(columns, rows), self.oracles[name], d, name)
            ok, why = True, ""
        except AssertionError as exc:
            ok, why = False, str(exc)[:300]
        self.ledger.record(ok, f"{name}: {why}")

    def check_saved(self, name: str, path: str, d: str) -> None:
        with open(path, "rb") as fh:
            columns, rows = pickle.load(fh)
        self.check(name, columns, rows, d)

    def check_small(self, name: str) -> None:
        d = self.round_dir(self.small)
        self.check(name, *self.execute(name, d), d)

    def timed_pass(self, tag: str, top_up: bool = True) -> dict:
        per_entry: dict[str, list[float]] = {n: [] for n in self.ENTRIES}
        t0 = time.perf_counter()
        rounds = 0
        while rounds < self.MIN_ROUNDS or self.deadline_left(t0, top_up):
            d = self.round_dir(self.tables)
            for name in self.order():
                q0 = time.perf_counter()
                columns, rows = self.execute(name, d)
                per_entry[name].append(time.perf_counter() - q0)
                with self.bench("digest"):
                    got = digest(columns, rows)
                del rows
                self.pending.append(functools.partial(self.check_digest, name, rounds, got))
            rounds += 1
        medians = {n: statistics.median(v) for n, v in per_entry.items()}
        return {"pass_s": sum(medians.values()), "rounds": rounds, "entry_median_s": medians}

    def check_digest(self, name: str, round_no: int, got: tuple) -> None:
        self.ledger.record(
            got == self.digests[name],
            f"{name}: round {round_no} result differs from the checked one",
        )

    def layers(self):
        return []  # each entry execution opens its own span in execute()


WORKLOADS = {
    "lakehouse": Lakehouse,
    "registry": Registry,
}
