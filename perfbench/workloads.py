"""The benchmark's workloads: closed loop, one client, inputs from the seed.

``reference_queries``  the reference's query surface (Q0, Qa-Qh, V1, V2)
                       over the in-session materialized tables; each
                       round runs all eleven in a seed-shuffled order.
``daily_ingest``       ``history-load`` of a seed-cut prefix of the
                       source, then one ``daily-load --as-of`` per
                       following day against the full source; the only
                       workload that writes.

Every timed operation is checked: query results against the DuckDB
oracles, daily loads against an independent DuckDB count of the keys
each day brings. A run also checks the history-load row count, that
replaying the last day inserts nothing, and that the warehouse key
stays unique.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import os
import random
import re
import statistics
import sys
import time
import traceback
from collections import defaultdict

import checks
import fixture
from spans import JobStats, planning_ms, self_times, subtree

# Fixture scale: a fifth of the sf0.1 bench scale, so that every run
# fits the benchmark's time budget. A daily load's cost follows the
# warehouse's partition count more than its rows: measured with the same
# seed in interleaved runs (4 vCPUs, load probe 0.8-1.5 s), a load over
# this scale's whole ship span (79 month partitions, 115k rows, 203
# files written) took 7.2-8.0 s, one over a source cut to 18 months
# (19 partitions, 109k rows, 33 files) 5.3-6.3 s, and one at sf0.01
# (80 partitions, 58k rows) 6.4-7.7 s.
SF = 0.02

REFERENCE_QUERIES = (
    "q0_flagship_rainy_count",
    "qa_monthly_agency_tickets",
    "qb_total_tickets_since",
    "qc_avg_tickets_per_weekday",
    "qd_rainy_day_tickets",
    "qe_monthly_precipitation",
    "qf_monthly_speeding_fines",
    "qg_avg_tickets_per_hour",
    "qh_accidents_rain_vs_dry",
    "v1_violations_verification",
    "v2_weather_verification",
)

# history-load cutoffs are drawn from this range of days; the source
# keeps the fixture's whole ship span (1995-01 .. 2001-11), so every
# seed's warehouse holds 78-82 month partitions (1995-01 through the
# last day loaded)
CUTOFF_FIRST = dt.date(2001, 6, 1)
CUTOFF_DAYS = 122

# distinct warehouse keys per source day: the violations key is
# (month, l_orderkey*8 + l_linenumber, l_partkey, day) and the
# issue_date column never leaves the ship date's day
DAY_KEYS_SQL = """
SELECT CAST(l_shipdate AS DATE) AS d,
       count(DISTINCT CAST(l_orderkey * 8 + l_linenumber AS VARCHAR)
                      || '_' || CAST(l_partkey AS VARCHAR)) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1
"""


# Operations run in set-up before the measured window. A fresh JVM's
# operation times fall while the JIT compiles the hot paths: a round of
# the eleven queries from 2.0 s to a 1.2 s plateau, and daily loads from
# 13-15 s (the first also back-fills the weather days past the cutoff)
# over 9-11 s to a 6.5-7.7 s plateau from the third load on (load probe
# 1.2 s). One warm-up load takes the back-fill; the median of the
# window's three or more loads then falls on the plateau.
WARMUP_ROUNDS = 4
WARMUP_LOADS = 1
# Daily loads took 6-17 s in the measured runs as the shared host's load
# varied; the median of a window needs at least three of them.
MIN_WINDOW_OPS = 3


def query_rounds(seed: int):
    """Endless sequence of rounds, each all reference queries in a fresh
    seed-determined order."""
    rng = random.Random(f"reference_queries/{seed}")
    while True:
        names = list(REFERENCE_QUERIES)
        rng.shuffle(names)
        yield names


def history_cutoff(seed: int) -> dt.date:
    rng = random.Random(f"daily_ingest/{seed}")
    return CUTOFF_FIRST + dt.timedelta(days=rng.randrange(CUTOFF_DAYS))


class Run:
    """State of one benchmark run: timings, failures and, when traced,
    the tracer and the per-operation layer records."""

    def __init__(self, seed: int, seconds: float, tmp: str, tracer, import_s: float):
        self.seed = seed
        self.seconds = seconds
        self.tmp = tmp
        self.tracer = tracer
        self.import_s = import_s
        self.spark = None
        self.stats = None
        self.walls: list[float] = []
        self.window_s = 0.0
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.records: list[dict] = []
        self.setup: dict[str, float] = defaultdict(float)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"check failed: {what}", file=sys.stderr)

    def start_session(self) -> None:
        from dc_moving_violations_cloud_etl_spark.session import get_spark

        t = time.perf_counter()
        with self.span("session.start"):
            self.spark = get_spark()
        self.setup["session.start_s"] = time.perf_counter() - t
        if self.tracer:
            self.tracer.sc = self.spark.sparkContext
            self.stats = JobStats(self.spark.sparkContext)

    @staticmethod
    def attempt(fn):
        """``fn()``, or None when it raised; the caller's check then
        counts the failure."""
        try:
            return fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            return None

    def timed(self, fn):
        """``attempt`` one measured operation and record its wall."""
        if self.tracer:
            self.tracer.op = len(self.walls)
        t = time.perf_counter()
        out = self.attempt(fn)
        self.walls.append(time.perf_counter() - t)
        return out

    def harvest(self, op, extra: dict | None = None) -> dict:
        """Attribute the jobs of every span of ``op`` and fold them into
        one layer record (traced runs only)."""
        t = time.perf_counter()
        self.stats.settle()
        spans = [s for s in self.tracer.spans if s["op"] == op]
        own = self_times(spans)
        rec: dict[str, float] = defaultdict(float)
        all_jobs: list[int] = []
        for s in spans:
            rec[f"self.{s['layer']}"] += own[s["id"]]
            rec[f"name.{s['name']}"] += own[s["id"]]
            rec[f"calls.{s['name']}"] += 1
            if s["group"] is not None:
                s["jobs"] = self.stats.jobs(s["group"])
                rec[f"jobs.{s['layer']}"] += len(s["jobs"])
                all_jobs += s["jobs"]
        rec["jobs"] = len(all_jobs)
        for s in subtree(spans, "catalog.materialize"):
            rec["materialize_jobs"] += len(s.get("jobs", ()))
            if s["name"] == "catalog.materialize":
                rec["materialize_s"] += s["end"] - s["start"]
        rec.update(self.stats.stages(all_jobs))
        rec["cached_mb"] = self.stats.cached_mb()
        rec.update(extra or {})
        rec["harvest_s"] = time.perf_counter() - t
        self.tracer.op = "between"  # untimed work until the next operation
        return rec

    def window(self, step, round_size: int = 1) -> None:
        """Closed loop: call ``step`` until the measuring time is used
        and at least MIN_WINDOW_OPS operations ran, then finish the
        round, so every operation of a round is sampled equally often."""
        t0 = time.perf_counter()
        while (
            len(self.walls) < MIN_WINDOW_OPS
            or len(self.walls) % round_size
            or time.perf_counter() - t0 < self.seconds
        ):
            step()
        self.window_s = time.perf_counter() - t0
        if self.tracer:
            self.tracer.op = "checks"


def reference_queries(run: Run) -> None:
    from dc_moving_violations_cloud_etl_spark import catalog
    from dc_moving_violations_cloud_etl_spark.queries import get_oracles, get_queries

    fx = os.path.join(run.tmp, "fixture")
    fixture.generate(fx, run.seed, SF)
    builders, oracles = get_queries(), get_oracles()
    con = checks.duckdb_connect(fx, run.tmp)
    expected = {
        n: checks.result_hash(con.execute(oracles[n]).df()) for n in REFERENCE_QUERIES
    }
    con.close()

    t_setup = time.perf_counter()
    run.start_session()
    spark = run.spark
    with run.span("catalog.materialize"):
        catalog.violations(spark, fx).count()
        catalog.weather_daily(spark, fx).count()
    results: list[tuple[str, str]] = []

    def query(name: str):
        with run.span("queries.build"):
            df = builders[name](spark, fx)
        if run.tracer:
            with run.span("plan"):
                df._jdf.queryExecution().executedPlan()
        with run.span("exec.collect"):
            return df, df.toPandas()

    def checked(name: str, out) -> None:
        results.append((name, checks.result_hash(out[1]) if out else "<error>"))

    rounds = query_rounds(run.seed)
    for _ in range(WARMUP_ROUNDS):
        for name in next(rounds):
            checked(name, run.attempt(lambda: query(name)))
    run.setup_s = run.import_s + time.perf_counter() - t_setup
    if run.tracer:
        run.setup.update(run.harvest("setup"))

    pending: list[str] = []

    def step():
        if not pending:
            pending.extend(next(rounds))
        name = pending.pop(0)
        out = run.timed(lambda: query(name))
        checked(name, out)
        if run.tracer:
            extra = planning_ms(out[0]) if out else {}
            run.records.append(run.harvest(run.tracer.op, {f"plan.{k}_ms": v for k, v in extra.items()}))

    run.window(step, len(REFERENCE_QUERIES))
    failed = checks.count_failures(results, expected)
    run.attempted += len(results)
    run.failed += failed
    if failed:
        bad = sorted({n for n, h in results if h != expected[n]})
        print(f"result hash mismatch: {bad}", file=sys.stderr)


def _cli(argv: list[str]) -> str:
    """Run one engine command; returns what it printed."""
    from dc_moving_violations_cloud_etl_spark import cli

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main(argv)
    if rc != 0:
        raise RuntimeError(f"{argv[0]} exited {rc}")
    return buf.getvalue()


def _field(text: str, key: str) -> int | None:
    m = re.search(rf"\b{key}=(-?\d+)", text)
    return int(m.group(1)) if m else None


def _parquet_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(d, f))
                out[os.path.join(d, f)] = (st.st_ino, st.st_size)
    return out


def _written(before: dict, after: dict) -> dict[str, float]:
    """Parquet files that are new in ``after``: how many, in how many
    partition directories, their bytes and rows (from the footers)."""
    import pyarrow.parquet as pq

    new = [p for p, v in after.items() if before.get(p) != v]
    return {
        "files_written": len(new),
        "partitions_rewritten": len({os.path.dirname(p) for p in new}),
        "bytes_written": sum(after[p][1] for p in new),
        "rows_written": sum(pq.read_metadata(p).num_rows for p in new),
    }


def daily_ingest(run: Run) -> None:
    from dc_moving_violations_cloud_etl_spark import catalog

    full = os.path.join(run.tmp, "source")
    prefix = os.path.join(run.tmp, "source_prefix")
    wh = os.path.join(run.tmp, "warehouse")
    cutoff = history_cutoff(run.seed)
    fixture.generate(full, run.seed, SF)
    fixture.write_prefix(full, prefix, cutoff)
    con = checks.duckdb_connect(full, run.tmp)
    per_day = dict(con.execute(DAY_KEYS_SQL).fetchall())
    con.close()
    history_rows = sum(n for d, n in per_day.items() if d < cutoff)

    t_setup = time.perf_counter()
    run.start_session()
    t = time.perf_counter()
    with run.span("cli.history_load"):
        out = _cli(["history-load", "--sf-dir", prefix, "--warehouse", wh])
    run.setup["history_load_s"] = time.perf_counter() - t
    run.check(_field(out, "violations") == history_rows, "history-load row count")

    spark = run.spark
    inserted_total = 0
    as_of = cutoff

    def load(day: dt.date) -> int | None:
        with run.span("cli.daily_load"):
            out = _cli(["daily-load", "--sf-dir", full, "--warehouse", wh, "--as-of", day.isoformat()])
        return _field(out, "inserted")

    def next_day(fn) -> int | None:
        nonlocal as_of, inserted_total
        first, as_of = as_of, as_of + dt.timedelta(days=1)
        catalog.release(spark)  # each load derives its source afresh
        inserted = fn(as_of)
        want = sum(n for d, n in per_day.items() if first <= d < as_of)
        run.check(inserted == want, f"rows inserted as of {as_of}")
        inserted_total += inserted or 0
        return inserted

    # The first load after the history-load also back-fills the weather
    # days past the cutoff and pays most of the JVM's compiles of the
    # merge path.
    for _ in range(WARMUP_LOADS):
        next_day(lambda day: run.attempt(lambda: load(day)))
    run.setup_s = run.import_s + time.perf_counter() - t_setup
    if run.tracer:
        run.setup.update(run.harvest("setup"))

    def step():
        before = _parquet_files(f"{wh}/violations") if run.tracer else None
        inserted = next_day(lambda day: run.timed(lambda: load(day)))
        if run.tracer:
            wrote = _written(before, _parquet_files(f"{wh}/violations"))
            run.records.append(run.harvest(run.tracer.op, {"inserted": inserted or 0, **wrote}))

    run.window(step)

    catalog.release(spark)
    run.check(run.attempt(lambda: load(as_of)) == 0, "replay of the last day inserts nothing")
    con = checks.duckdb_connect(full, run.tmp)
    n, keys = con.execute(
        "SELECT count(*), count(DISTINCT violation_id) FROM "
        f"read_parquet('{wh}/violations/*/*.parquet')"
    ).fetchone()
    con.close()
    run.check(n == keys, "warehouse key unique")
    run.check(n == history_rows + inserted_total, "warehouse row count")


WORKLOADS = {
    "reference_queries": reference_queries,
    "daily_ingest": daily_ingest,
}


def _mean(records: list[dict], key: str) -> float:
    return statistics.fmean(r.get(key, 0.0) for r in records) if records else 0.0


def end_to_end_metrics(run: Run) -> dict[str, float]:
    return {
        "setup_s": run.setup_s,
        "op_p50_s": statistics.median(run.walls),
        "ops_per_s": len(run.walls) / run.window_s,
    }


def layer_metrics(run: Run, peak_rss_mb: float) -> dict[str, float]:
    """Per-layer metrics of a traced run: set-up values once, the rest
    as means per timed operation."""
    recs, setup = run.records, run.setup

    def total(key: str) -> float:
        return sum(r.get(key, 0.0) for r in recs)

    run_ms, cpu_ms = total("run_ms"), total("cpu_ms")
    rows, inserted = total("rows_written"), total("inserted")
    return {
        "session.start_s": setup["session.start_s"],
        "catalog.materialize_s": setup.get("materialize_s", 0.0),
        "catalog.materialize_jobs": setup.get("materialize_jobs", 0.0),
        "history_load_s": setup.get("history_load_s", 0.0),
        "cli.self_s": _mean(recs, "self.cli"),
        "catalog.self_s": _mean(recs, "self.catalog"),
        "queries.build_s": _mean(recs, "self.queries"),
        "plan.s": _mean(recs, "self.plan"),
        "plan.analysis_ms": _mean(recs, "plan.analysis_ms"),
        "plan.optimization_ms": _mean(recs, "plan.optimization_ms"),
        "plan.planning_ms": _mean(recs, "plan.planning_ms"),
        "exec.jobs": _mean(recs, "jobs"),
        "exec.stages": _mean(recs, "stages"),
        "exec.tasks": _mean(recs, "tasks"),
        "exec.run_ms": _mean(recs, "run_ms"),
        "exec.cpu_ms": _mean(recs, "cpu_ms"),
        "exec.wait_share": 1.0 - cpu_ms / run_ms if run_ms else 0.0,
        "exec.shuffle_read_bytes": _mean(recs, "shuffle_read_bytes"),
        "exec.shuffle_write_bytes": _mean(recs, "shuffle_write_bytes"),
        "exec.spill_bytes": _mean(recs, "spill_bytes"),
        "exec.collect_s": _mean(recs, "self.exec"),
        "incremental.watermark_s": _mean(recs, "name.incremental.get_watermark"),
        "incremental.merge_s": _mean(recs, "name.incremental.incremental_merge"),
        "incremental.rows_inserted": _mean(recs, "inserted"),
        "sinks.write_s": _mean(recs, "self.sinks"),
        "sinks.partitions_rewritten": _mean(recs, "partitions_rewritten"),
        "sinks.files_written": _mean(recs, "files_written"),
        "sinks.bytes_written": _mean(recs, "bytes_written"),
        "sinks.rows_written": _mean(recs, "rows_written"),
        "sinks.useful_row_ratio": inserted / rows if rows else 0.0,
        "daily_write_amplification": rows / inserted if inserted else 0.0,
        "caching.cached_mb": _mean(recs, "cached_mb"),
        "peak_rss_mb": peak_rss_mb,
        "trace.op_p50_s": statistics.median(run.walls),
        "trace.harvest_s": _mean(recs, "harvest_s"),
    }
