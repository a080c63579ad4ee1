"""Checks of the event-log summariser in spans.py.

    python -m pytest perfbench/test_spans.py -q

The Spark test starts its own SparkContext with the event log on, so run
this file on its own, not in one pytest process with tests/.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from spans import Job, Span, Tracer, attribute, read_jobs, summarize  # noqa: E402


def job(jid: int, submit: float, end: float, **metrics) -> Job:
    j = Job(jid, submit, end, None, [])
    j.metrics.update(jobs=1, **metrics)
    return j


def assert_self_plus_children_is_wall(spans: list[Span], summary: dict) -> None:
    for s in spans:
        kids = sum(c.wall_s for c in spans if c.parent == s.id)
        assert summary[s.id]["self_s"] + kids == pytest.approx(s.wall_s, abs=1e-9), s.name


def test_innermost_attribution_and_driver_time():
    outer = Span(0, "outer", None, "r", 0.0, 10.0)
    inner = Span(1, "inner", 0, "r", 2.0, 6.0)
    spans = [outer, inner]
    jobs = [
        job(0, 1.0, 3.0, task_s=1.0),  # submitted in outer's own time
        job(1, 2.5, 5.0, task_s=2.0),  # inner
        job(2, 5.5, 8.0, task_s=4.0),  # inner: submission decides, not end
        job(3, 11.0, 12.0, task_s=8.0),  # outside every span
    ]
    owner = attribute(spans, jobs)
    assert owner == {0: 0, 1: 1, 2: 1, 3: None}
    summary = summarize(spans, jobs)
    assert summary[0]["jobs"] == 1 and summary[0]["task_s"] == 1.0
    assert summary[1]["jobs"] == 2 and summary[1]["task_s"] == 6.0
    # outer's self time is [0,2) + [6,10); jobs cover [1,3) and [5.5,8)
    assert summary[0]["self_s"] == pytest.approx(6.0)
    assert summary[0]["driver_s"] == pytest.approx(1.0 + 2.0)
    # inner [2,6): jobs cover [2,5) and [5.5,6)
    assert summary[1]["driver_s"] == pytest.approx(0.5)
    assert_self_plus_children_is_wall(spans, summary)


def test_tracer_restores_what_it_wraps():
    class Owner:
        def f(self, x):
            return x + 1

    original = Owner.__dict__["f"]
    tracer = Tracer("r")
    with tracer.instrument([(Owner, "f", "owner.f")]):
        with tracer.span("outer"):
            assert Owner().f(1) == 2
    assert Owner.__dict__["f"] is original
    outer, inner = tracer.spans
    assert inner.parent == outer.id and inner.result == 2
    assert outer.start <= inner.start <= inner.end <= outer.end


def test_merge_is_charged_its_pool_thread_writes(tmp_path):
    from pyspark import SparkContext
    from pyspark.sql import functions as F

    from real_estate_data_pipeline_spark.io.scd2 import Scd2Table
    from real_estate_data_pipeline_spark.session import get_session

    if SparkContext._active_spark_context is not None:
        pytest.skip("needs its own SparkContext with the event log on")
    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = get_session(
        "test-spans", master="local[2]", shuffle_partitions=2,
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"file://{log_dir}",
                    "spark.eventLog.compress": "false"},
    )
    try:
        table = Scd2Table(spark, str(tmp_path / "silver"), key="k", tracked=["v"], order_col="ts")
        schema = "k int, v string, ts timestamp"
        t1, t2 = "2024-01-10 10:00:00", "2024-01-11 10:00:00"
        table.merge(spark.createDataFrame([(1, "a", None), (2, "b", None)], schema)
                    .withColumn("ts", F.lit(t1).cast("timestamp")), batch_ts=F.lit(t1))
        tracer = Tracer("unit")
        spark.sparkContext.setJobGroup("merge-group", "merge on the main thread")
        with tracer.instrument([(Scd2Table, "merge", "io.scd2.Scd2Table.merge")]):
            with tracer.span("day"):
                counters = table.merge(
                    spark.createDataFrame([(1, "a", None), (2, "B", None), (3, "c", None)], schema)
                    .withColumn("ts", F.lit(t2).cast("timestamp")), batch_ts=F.lit(t2))
        spark.sparkContext.setJobGroup(None, None)
    finally:
        spark.stop()
    assert counters == {"closed": 1, "inserted": 2, "unchanged": 1}

    jobs = read_jobs(str(log_dir))
    spans = tracer.spans
    merge = next(s for s in spans if s.name == "io.scd2.Scd2Table.merge")
    owner = attribute(spans, jobs)
    writes = [j for j in jobs if owner[j.id] == merge.id and j.metrics["rows_written"] > 0]
    # the snapshot (hist 0 + closed 1 + inserted 2 + unchanged 1 = 4 rows)
    # and the change feed (pre- and post-image 2 + insert 1 = 3 rows)
    assert sorted(j.metrics["rows_written"] for j in writes) == [3, 4]
    # both writes ran on the merge's pool threads, outside its job group
    assert all(j.group != "merge-group" for j in writes)
    summary = summarize(spans, jobs)
    assert summary[merge.id]["jobs"] >= 3
    assert_self_plus_children_is_wall(spans, summary)
