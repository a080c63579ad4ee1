#!/usr/bin/env python
"""Headline benchmark: runs the bench-flagged catalog queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Each query is fully materialized via the noop sink (no driver collect,
no display cost). A warmup pass on sf0.001 triggers JIT/codegen so the
measured numbers reflect steady-state execution.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from real_estate_data_pipeline_spark.queries import CATALOG  # noqa: E402
from real_estate_data_pipeline_spark.session import get_session  # noqa: E402


def materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def preexisting_jvms() -> list[str]:
    """Other java/SparkSubmit processes already running on this host.

    A leftover idle JVM (documented round-4 incident) steals cores and
    inflates every timing 5-35% uniformly — exactly the signature that
    cost a round of noise-archaeology. Detect it BEFORE starting our own
    session and surface it in the bench JSON as ``dirty_host`` so a
    drifted number is attributable at a glance. /proc scan, no psutil
    dependency; returns short descriptions of the offending pids."""
    out: list[str] = []
    try:
        for pid in os.listdir("/proc"):
            if not pid.isdigit() or int(pid) == os.getpid():
                continue
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    argv = fh.read().decode("utf-8", "replace").split("\x00")
            except OSError:
                continue
            # the EXECUTABLE must be java — matching substrings anywhere
            # in the cmdline false-positives on shells whose command
            # text merely mentions java/spark (e.g. this script's own
            # invocation wrapper)
            exe = os.path.basename(argv[0]) if argv and argv[0] else ""
            cmd = " ".join(argv)
            if exe == "java" and ("spark" in cmd.lower()):
                out.append(f"pid {pid}: {cmd[:120].strip()}")
    except OSError:
        pass
    return out


def calibration(spark) -> float:
    """Fixed deterministic CPU-bound job (1e8-row hashed-range aggregate,
    32 partitions, zero IO) timed the same way the queries are. Host
    throughput drift — core steal, thermal, a noisy neighbor — shifts
    this number by the same factor it shifts every query, so a uniform
    bench inflation is attributable (and normalizable) instead of
    re-litigated each round: real regressions move query/calibration
    ratios; host drift moves only the calibration."""
    start = time.perf_counter()
    spark.range(0, 100_000_000, 1, 32).selectExpr(
        "sum(id * 2654435761 % 1000003) AS s"
    ).collect()
    return round(time.perf_counter() - start, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"bench: data dir not found: {sf_dir}")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    stale = preexisting_jvms()
    if stale:
        print(
            f"bench: WARNING — {len(stale)} pre-existing Spark JVM(s) on this "
            f"host will contend for cores: {stale}",
            file=sys.stderr,
        )
    # the post-loop tracker walk reads pass-0 jobs after warm-up and two
    # timed passes; keep every job and stage so none is evicted first
    spark = get_session(
        "bench",
        extra_conf={"spark.ui.retainedJobs": "10000", "spark.ui.retainedStages": "10000"},
    )

    bench_queries = {n: q for n, q in CATALOG.items() if q.bench}

    # Warmup at the smallest SF: JVM/codegen/parquet-footer caches.
    for name, q in bench_queries.items():
        try:
            materialize(q.fn(spark, "/root/testdata/sf0.001"))
        except Exception:
            pass

    # Page-cache warmup at the TARGET SF: decode every table once so the
    # first timed query over each table doesn't pay the cold-disk read
    # (count() alone won't do it — parquet count is metadata-only). The
    # round-5 catalog reorder exposed this: whichever query now runs
    # first over documents.parquet absorbed ~2 s of one-time IO that
    # best-of-2 couldn't amortize when pass 2 was skipped.
    from real_estate_data_pipeline_spark.queries import t as _t

    for tbl in (
        "region nation customer supplier part orders lineitem "
        "events documents embeddings"
    ).split():
        try:
            materialize(_t(spark, sf_dir, tbl))
        except Exception:
            pass

    # Calibration brackets the timed loop (min-of-2 reported): if both
    # sit near the README reference the host was healthy; if both are
    # uniformly inflated, query times can be normalized by the ratio.
    calib_before = calibration(spark)

    # Best-of-2 at the target SF: the host is shared, so a single pass
    # can catch a multi-second steal/GC spike on any one query; the min
    # of two passes reports steady-state throughput. The second pass is
    # skipped when the first already took long (bigger SF or a very
    # loaded host) so total bench wall stays bounded.
    timings: dict[str, float] = {}
    pass1_total = 0.0
    sc = spark.sparkContext
    for _pass in range(2):
        if _pass == 1 and pass1_total > 90.0:
            break
        for name, q in bench_queries.items():
            # job-group label (r16, additions-only telemetry): at small
            # SF the bench is per-job fixed-cost bound, so job/stage
            # counts are the host-noise-robust structural signal; the
            # setJobGroup call itself is a thread-local property write
            # (microseconds) inside the timed region, identical for
            # every query and both passes.
            sc.setJobGroup(f"bench:p{_pass}:{name}", name)
            start = time.perf_counter()
            materialize(q.fn(spark, sf_dir))
            el = round(time.perf_counter() - start, 3)
            sc.setJobGroup(None, None)
            if _pass == 0:
                pass1_total += el
            if name not in timings or el < timings[name]:
                timings[name] = el

    # Structural counters from pass 0 (deterministic; pass 1 re-runs the
    # same plans). Collected AFTER the timed loop so the tracker walk
    # costs nothing inside any timing.
    tracker = sc.statusTracker()
    jobs: dict[str, int] = {}
    stages: dict[str, int] = {}
    tasks: dict[str, int] = {}
    for name in bench_queries:
        jids = tracker.getJobIdsForGroup(f"bench:p0:{name}")
        if not jids or any(tracker.getJobInfo(j) is None for j in jids):
            raise SystemExit(f"bench: pass-0 jobs of {name} missing from the status tracker")
        nstages = 0
        ntasks = 0
        for j in jids:
            for s in tracker.getJobInfo(j).stageIds:
                si = tracker.getStageInfo(s)
                if si is not None and si.numCompletedTasks > 0:
                    nstages += 1
                    ntasks += si.numTasks
        jobs[name] = len(jids)
        stages[name] = nstages
        tasks[name] = ntasks

    calib_after = calibration(spark)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "jobs": jobs,
                "stages": stages,
                "tasks": tasks,
                "sf": sf,
                "dirty_host": bool(stale),
                "preexisting_jvms": len(stale),
                "calibration_s": min(calib_before, calib_after),
                "calibration_before_s": calib_before,
                "calibration_after_s": calib_after,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
