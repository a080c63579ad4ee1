"""Benchmark of the medallion pipeline: Bronze JSONL -> Silver (validation,
quality, cleanse, SCD2 merge, quarantine) -> Gold features.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 10 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``pipeline_backfill``: one generated Bronze day over all three sources
  goes into an empty Silver table through ``SilverPipeline.run_and_write``,
  then Gold is rebuilt from the current rows. Every timed iteration starts
  from an empty table.
- ``pipeline_daily``: set-up seeds a Silver table with a backfill day and
  one small day; every timed episode copies that table and runs the next
  ``DAYS_PER_EPISODE`` small days through Silver -> SCD2 merge -> Gold
  rebuild.

Load shape: a closed loop with one client (each call waits for the one
before) in this one process, on ``local[CPUS]``. Timed episodes repeat
until ``--seconds`` have passed, and at least ``min_episodes`` times.

Set-up (``setup_s``) is the median of ``SETUP_ROUNDS`` rounds of: start a
SparkSession through ``get_session`` (the first round launches the JVM,
later rounds restart the context in it) and generate the Bronze files.
After the rounds, one untimed pipeline run warms the JVM (the backfill's
warm-up day, or the daily workload's seeding backfill).

Every call's outputs are checked after its timer stops: the run_and_write
counters and the number of current Silver rows and Gold rows must equal the
generator's ground truth. An error anywhere in the run (set-up, a call, or
the trace summary) also counts as a failure.

``--trace 1`` runs the timed loop three times: as above, then in a new
SparkContext with the event log on and spans around the program's public
functions (spans.py), then untraced again. It prints the per-layer table,
normalised per Bronze day, and ``tracing.overhead_s``: the traced ``wall_s``
minus the mean of the two untraced ones.

The last line of standard output is the JSON result; the line before it
carries context (host check, calibration, per-call figures).
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from bronze import BASE_DATE, SOURCES, TRACKED, BronzeGenerator, DayTruth, write_day  # noqa: E402
from spans import Tracer, attribute, read_jobs, summarize, totals_by_name  # noqa: E402

# program modules: a checkout without the program fails here, before any result
import bench  # noqa: E402  (host check and calibration job)
from pyspark.sql import functions as F  # noqa: E402
from real_estate_data_pipeline_spark.io import readers  # noqa: E402
from real_estate_data_pipeline_spark.io.scd2 import Scd2Table  # noqa: E402
from real_estate_data_pipeline_spark.io.writers import write_parquet  # noqa: E402
from real_estate_data_pipeline_spark.pipeline.gold import GoldPipeline  # noqa: E402
from real_estate_data_pipeline_spark.pipeline.silver import SilverPipeline  # noqa: E402
from real_estate_data_pipeline_spark.quality.checks import QualityChecker  # noqa: E402
from real_estate_data_pipeline_spark.session import get_session  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEMORY = "2g"
YOUNG_GEN = "256m"
SETUP_ROUNDS = 3
BACKFILL_ROWS = 10_000
WARMUP_ROWS = 600
SEED_ROWS = 6_000
DAY_ROWS = 1_500
SEED_DAYS = 2  # the backfill day and one small day
DAYS_PER_EPISODE = 3
# top-level spans must cover the timed region's wall time to within this share
COVERAGE_TOLERANCE = 0.01
WORK = os.path.join(ROOT, ".perfbench_work")

GOLD_SPAN = "pipeline.gold.GoldPipeline.run"
TOP_SPANS = ("io.readers.read_bronze_json", "pipeline.silver.run_and_write", GOLD_SPAN)


# (owner, attribute, span name) of every public function the traced run
# wraps; Gold and its write_parquet sink share one span in ``run_day``
INSTRUMENTED = [
    (readers, "read_bronze_json", "io.readers.read_bronze_json"),
    (SilverPipeline, "run_and_write", "pipeline.silver.run_and_write"),
    (SilverPipeline, "run", "pipeline.silver.run"),
    (QualityChecker, "run", "quality.checks.QualityChecker.run"),
    (Scd2Table, "merge", "io.scd2.Scd2Table.merge"),
]


# ---------------------------------------------------------------------------
@dataclass
class Day:
    index: int
    dir: str
    bronze_bytes: int
    truth: DayTruth

    @property
    def batch_ts(self) -> str:
        """The SCD2 valid_from/valid_to stamp: the end of the crawl day."""
        return f"{BASE_DATE + dt.timedelta(days=self.index)} 23:59:59"


@dataclass
class Call:
    """One Bronze day through Silver and Gold, with its measurements."""

    latency_s: float
    rows: int
    bronze_bytes: int
    written_bytes: int


def du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def generate(seed: int, sizes: list[int], out_dir: str) -> list[Day]:
    """Bronze days 0..len(sizes)-1 for ``seed`` under ``out_dir``."""
    gen = BronzeGenerator(seed)
    days = []
    for d, n in enumerate(sizes):
        rows, truth = gen.day(d, n)
        day_dir = os.path.join(out_dir, f"day{d}")
        days.append(Day(d, day_dir, write_day(rows, day_dir), truth))
    return days


class CallFailed(Exception):
    """A pipeline call raised; ``run_day`` has already counted it."""


class Harness:
    """Owns the work directory, the SparkSession and the failure count."""

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.event_log = os.path.join(WORK, "eventlog")
        for sub in ("local", "tmp", "eventlog", "warehouse"):
            os.makedirs(os.path.join(WORK, sub), exist_ok=True)

    def start_session(self, event_log: bool = False) -> None:
        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed heap and young generation make peak RSS follow the data
            # the driver retains rather than G1's adaptive sizing
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_session("perfbench", extra_conf=conf)

    def table(self, path: str) -> Scd2Table:
        return Scd2Table(self.spark, path, key="universal_id", tracked=TRACKED,
                         order_col="ingested_at_utc")

    def run_day(self, day: Day, table: Scd2Table, out: str, tracer: Tracer | None) -> Call:
        """Bronze -> Silver (with quarantine) -> Gold for one day; only the
        pipeline calls are timed, the checks run after the timer stops."""
        spark = self.spark
        quarantine, gold = os.path.join(out, "quarantine"), os.path.join(out, "gold")
        before = du(table.path) + du(quarantine)
        span = tracer.span if tracer else (lambda name: nullcontext())
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            bronze = {s: readers.read_bronze_json(spark, os.path.join(day.dir, f"{s}.jsonl"))
                      for s in SOURCES}
            res = SilverPipeline(spark).run_and_write(
                bronze, table, quarantine_path=quarantine, batch_ts=F.lit(day.batch_ts))
            with span(GOLD_SPAN):
                current = table.read().filter("is_current")
                write_parquet(GoldPipeline(spark).run(current), gold, mode="overwrite")
            latency = time.perf_counter() - t0
            ok = self.check(day, res.counters, table, gold)
        except Exception as e:  # counted here; the workload stops in main()
            self.failed += 1
            raise CallFailed(f"day {day.index}") from e
        if not ok:
            self.failed += 1
        written = du(table.path) + du(quarantine) - before + du(gold)
        return Call(latency, day.truth.rows, day.bronze_bytes, written)

    def check(self, day: Day, counters: dict, table: Scd2Table, gold: str) -> bool:
        want = day.truth.counters()
        got = {k: counters.get(k) for k in want}
        current = table.read().filter("is_current").count()
        gold_rows = self.spark.read.parquet(gold).count()
        ok = got == want and current == gold_rows == day.truth.current_rows
        if not ok:
            print(f"perfbench: day {day.index} mismatch: counters {got} want {want}; "
                  f"current rows {current}, gold rows {gold_rows}, "
                  f"want {day.truth.current_rows}", file=sys.stderr)
        return ok

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def shutdown(self) -> None:
        """Stop Spark and wait for the gateway JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


# ---------------------------------------------------------------------------
class Workload:
    """Set-up inputs, the untimed warm-up, and one timed episode."""

    name = ""
    # the first episodes after one warm-up pass still run while the JIT
    # compiles; a fixed minimum keeps the median on warm episodes
    min_episodes = 1

    def __init__(self, h: Harness) -> None:
        self.h = h
        self.days: list[Day] = []

    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def episode(self, k: int, tracer: Tracer | None) -> list[Call]:
        raise NotImplementedError

    def space(self, k: int) -> tuple[int, int]:
        """(bytes under the episode's Silver table, Bronze bytes it ingested)."""
        raise NotImplementedError


class Backfill(Workload):
    name = "pipeline_backfill"
    min_episodes = 4

    def generate(self) -> None:
        inputs = os.path.join(WORK, "inputs")
        shutil.rmtree(inputs, ignore_errors=True)
        self.days = generate(self.h.seed, [BACKFILL_ROWS], inputs)
        # the warm-up day comes from another seed, so no timed input is cached
        self.warm = generate(self.h.seed + 1_000_003, [WARMUP_ROWS], os.path.join(inputs, "warm"))

    def warm_up(self) -> None:
        out = os.path.join(WORK, "warm")
        self.h.run_day(self.warm[0], self.h.table(os.path.join(out, "silver")), out, None)

    def episode(self, k: int, tracer: Tracer | None) -> list[Call]:
        out = os.path.join(WORK, f"ep{k}")
        return [self.h.run_day(self.days[0], self.h.table(os.path.join(out, "silver")), out, tracer)]

    def space(self, k: int) -> tuple[int, int]:
        return du(os.path.join(WORK, f"ep{k}", "silver")), self.days[0].bronze_bytes


class Daily(Workload):
    name = "pipeline_daily"

    def generate(self) -> None:
        inputs = os.path.join(WORK, "inputs")
        shutil.rmtree(inputs, ignore_errors=True)
        sizes = [SEED_ROWS] + [DAY_ROWS] * (SEED_DAYS - 1 + DAYS_PER_EPISODE)
        self.days = generate(self.h.seed, sizes, inputs)

    def warm_up(self) -> None:
        """Seed the Silver table with a backfill and one small day (which
        also runs the merge's join path once); every episode starts from a
        copy of it."""
        out = os.path.join(WORK, "seed")
        table = self.h.table(os.path.join(out, "silver"))
        for day in self.days[:SEED_DAYS]:
            self.h.run_day(day, table, out, None)

    def episode(self, k: int, tracer: Tracer | None) -> list[Call]:
        out = os.path.join(WORK, f"ep{k}")
        shutil.copytree(os.path.join(WORK, "seed", "silver"), os.path.join(out, "silver"))
        table = self.h.table(os.path.join(out, "silver"))
        return [self.h.run_day(day, table, out, tracer) for day in self.days[SEED_DAYS:]]

    def space(self, k: int) -> tuple[int, int]:
        return (du(os.path.join(WORK, f"ep{k}", "silver")),
                sum(d.bronze_bytes for d in self.days))


WORKLOADS = {w.name: w for w in (Backfill, Daily)}


# ---------------------------------------------------------------------------
@dataclass
class Episode:
    calls: list[Call]
    silver_bytes: int
    bronze_total: int

    @property
    def wall_s(self) -> float:
        return sum(c.latency_s for c in self.calls)


def timed_loop(w: Workload, seconds: float, first: int, tracer: Tracer | None) -> list[Episode]:
    """Episodes until ``seconds`` of timed work have passed, and at least
    ``w.min_episodes``. Each episode's directory is removed once measured."""
    episodes: list[Episode] = []
    k = first
    while len(episodes) < w.min_episodes or sum(e.wall_s for e in episodes) < seconds:
        calls = w.episode(k, tracer)
        episodes.append(Episode(calls, *w.space(k)))
        shutil.rmtree(os.path.join(WORK, f"ep{k}"), ignore_errors=True)
        k += 1
    return episodes


def end_to_end(episodes: list[Episode], peak_rss_mb: float, setup_s: float) -> dict:
    med = statistics.median
    days = [c.latency_s for e in episodes for c in e.calls]
    return {
        "setup_s": (setup_s, "s"),
        "wall_s": (med(e.wall_s for e in episodes), "s"),
        "rows_per_s": (med(sum(c.rows for c in e.calls) / e.wall_s for e in episodes), "rows/s"),
        "day_p50_s": (med(days), "s"),
        "write_amp": (med(sum(c.written_bytes for c in e.calls)
                          / sum(c.bronze_bytes for c in e.calls) for e in episodes), "B/B"),
        "space_amp": (med(e.silver_bytes / e.bronze_total for e in episodes), "B/B"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }


PER_LAYER = {
    "io.readers.read_bronze_json": ("wall_s", "jobs"),
    "pipeline.silver.run": ("self_s", "driver_s", "jobs", "task_s", "cpu_s"),
    "quality.checks.QualityChecker.run": ("wall_s", "jobs", "task_s"),
    "pipeline.silver.run_and_write": ("self_s", "bytes_written"),
    "io.scd2.Scd2Table.merge": ("wall_s", "driver_s", "jobs", "stages", "task_s", "cpu_s",
                                "shuffle_bytes", "spill_bytes", "bytes_written"),
    GOLD_SPAN: ("wall_s", "jobs", "task_s", "cpu_s", "bytes_written"),
}
SPARK_TOTALS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "shuffle_bytes",
                "spill_bytes")


def unit_of(metric: str) -> str:
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes") or metric == "bytes_written":
        return "B"
    return "count"


def per_layer(tracer: Tracer, log_dir: str, episodes: list[Episode],
              untraced_wall: float) -> tuple[dict, dict]:
    """Per-layer metrics per Bronze day, and trace context (coverage)."""
    jobs = read_jobs(log_dir)
    summary = summarize(tracer.spans, jobs)
    by_name = totals_by_name(tracer.spans, summary)
    n_days = sum(len(e.calls) for e in episodes)
    metrics = {}
    for span, names in PER_LAYER.items():
        for m in names:
            metrics[f"{span}.{m}"] = (by_name.get(span, {}).get(m, 0) / n_days, unit_of(m))
    merges = [s for s in tracer.spans if s.name == "io.scd2.Scd2Table.merge"]
    changes = sum(s.result["closed"] + s.result["inserted"] for s in merges)
    rows_written = sum(summary[s.id]["rows_written"] for s in merges)
    metrics["io.scd2.Scd2Table.merge.rows_written_per_change"] = (
        rows_written / changes if changes else 0.0, "ratio")
    for m in SPARK_TOTALS:  # every job charged to some span, once
        metrics[f"spark.{m}"] = (sum(r[m] for r in summary.values()) / n_days, unit_of(m))
    traced_wall = statistics.median(e.wall_s for e in episodes)
    metrics["tracing.overhead_s"] = (traced_wall - untraced_wall, "s")
    top = [s for s in tracer.spans if s.parent is None]
    timed = sum(e.wall_s for e in episodes)
    coverage = sum(s.wall_s for s in top) / timed
    unknown = {s.name for s in top} - set(TOP_SPANS)
    context = {
        "span_coverage": coverage,
        "span_coverage_tolerance": COVERAGE_TOLERANCE,
        "span_coverage_ok": abs(1 - coverage) <= COVERAGE_TOLERANCE and not unknown,
        "traced_days": n_days,
        "traced_wall_s": traced_wall,
        "untraced_wall_s": untraced_wall,
        "jobs_in_log": len(jobs),
        "jobs_outside_spans": sum(o is None for o in attribute(tracer.spans, jobs).values()),
    }
    return metrics, context


def print_table(title: str, metrics: dict) -> None:
    print(title)
    for name, (value, unit) in metrics.items():
        print(f"  {name:<58} {value:>16.6g} {unit}")


# ---------------------------------------------------------------------------
def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    stale = bench.preexisting_jvms()
    shutil.rmtree(WORK, ignore_errors=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "local"),
        "TMPDIR": os.path.join(WORK, "tmp"),
        # spark-submit's launcher JVM: no perf-data file in the system temp dir
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
    })
    h = Harness(args.seed)
    w = WORKLOADS[args.workload](h)
    context: dict = {"workload": w.name, "seed": args.seed, "cpus": CPUS,
                     "nproc": os.cpu_count(), "dirty_host": bool(stale),
                     "preexisting_jvms": len(stale)}
    metrics: dict = {}
    try:
        rounds = []
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            h.start_session()
            w.generate()
            rounds.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        w.warm_up()
        context.update(setup_rounds_s=rounds, warm_up_s=time.perf_counter() - t0,
                       calibration_s=bench.calibration(h.spark))

        episodes = timed_loop(w, args.seconds, 0, None)
        peak = (vm_hwm_kb(h.jvm_pid()) + vm_hwm_kb("self")) / 1024
        e2e = end_to_end(episodes, peak, statistics.median(rounds))
        if not args.trace:
            metrics = e2e
        context.update(
            day_latency_s=[c.latency_s for e in episodes for c in e.calls],
            episodes=len(episodes),
            bronze_rows_per_episode=sum(c.rows for c in episodes[0].calls),
            bronze_bytes_per_episode=sum(c.bronze_bytes for c in episodes[0].calls),
        )
        if args.trace:
            # untraced, traced, untraced: the JIT keeps warming from one
            # loop to the next, so the overhead is taken against the mean of
            # the loops on either side
            h.start_session(event_log=True)
            tracer = Tracer(run_id=f"{w.name}-{args.seed}")
            with tracer.instrument(INSTRUMENTED):
                traced = timed_loop(w, args.seconds, len(episodes), tracer)
            h.start_session()  # stopping the traced context closes its event log
            after = timed_loop(w, args.seconds, len(episodes) + len(traced), None)
            untraced_wall = (e2e["wall_s"][0] + statistics.median(e.wall_s for e in after)) / 2
            metrics, trace_ctx = per_layer(tracer, h.event_log, traced, untraced_wall)
            context.update(trace_ctx)
            h.attempted += 1  # the span-coverage check
            if not trace_ctx["span_coverage_ok"]:
                h.failed += 1
                print(f"perfbench: top-level spans cover {trace_ctx['span_coverage']:.4f} "
                      "of the timed wall time", file=sys.stderr)
    except CallFailed:  # already counted in run_day
        traceback.print_exc()
    except Exception:  # set-up, copying, or the trace summary failed
        h.attempted += 1
        h.failed += 1
        traceback.print_exc()
    finally:
        h.shutdown()
        shutil.rmtree(WORK, ignore_errors=True)

    context.update(attempted=h.attempted, failed=h.failed,
                   failed_frac=h.failed / max(h.attempted, 1))
    print_table(f"{w.name} seed={args.seed} trace={args.trace}", metrics)
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": h.failed == 0 and bool(metrics),
        "attempted": max(h.attempted, 1),
        "failed": h.failed if metrics else max(h.failed, 1),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
