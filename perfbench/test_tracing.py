"""Tests for the traced-run tooling.

    python3 -m pytest perfbench/test_tracing.py -q

The event-log test runs a tiny known job (a pandas UDF feeding a shuffle,
under a job group) on local[2] and checks every field the per-layer
metrics read from the log.
"""

from __future__ import annotations

import os
import sys
import threading

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import tracing  # noqa: E402


def _span(id_, parent, layer, start, end, name="x"):
    return {"id": id_, "parent": parent, "name": name, "layer": layer,
            "thread": 0, "start": start, "end": end}


def test_covered_merges_overlaps():
    assert tracing.covered([]) == 0.0
    assert tracing.covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert tracing.covered([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, "runner", 0.0, 10.0),
        _span(2, 1, "catalog", 1.0, 4.0),
        _span(3, 1, "catalog", 3.0, 5.0),   # overlaps span 2 (another thread)
        _span(4, 1, "extractors", 6.0, 7.0),
        _span(5, 2, "catalog", 1.5, 2.0),   # grandchild: already inside 2
    ]
    assert tracing.self_times(spans)[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert tracing.self_times(spans, child_layer="catalog")[1] == pytest.approx(6.0)
    assert tracing.self_times(spans)[2] == pytest.approx(2.5)


def test_top_level_skips_nested_same_layer():
    spans = [
        _span(1, None, "runner", 0, 10),
        _span(2, 1, "catalog", 1, 4),
        _span(3, 2, "catalog", 2, 3),
        _span(4, 1, "catalog", 5, 6),
    ]
    assert [s["id"] for s in tracing.top_level(spans, "catalog")] == [2, 4]


class _FakeContext:
    def __init__(self):
        self.props = threading.local()

    def getLocalProperty(self, key):
        return getattr(self.props, "group", None)

    def setJobGroup(self, group, description):
        self.props.group = group

    def setLocalProperty(self, key, value):
        self.props.group = value


def test_wrap_records_parent_and_restores_job_group():
    class Layer:
        def outer(self, sc):
            assert sc.getLocalProperty(tracing.JOB_GROUP) == "stage_a"
            return self.inner()

        def inner(self):
            return 7

    tracer = tracing.Tracer()
    sc = _FakeContext()
    sc.setJobGroup("before", "before")
    tracer.wrap(Layer, "outer", "runner", name=lambda a, k: "stage_a",
                job_group=lambda a, k: (a[1], "stage_a"))
    tracer.wrap(Layer, "inner", "catalog")
    assert Layer().outer(sc) == 7
    assert sc.getLocalProperty(tracing.JOB_GROUP) == "before"
    spans = {s["name"]: s for s in tracer.to_json()}
    assert spans["inner"]["parent"] == spans["stage_a"]["id"]
    assert spans["stage_a"]["parent"] is None
    assert spans["inner"]["layer"] == "catalog"


def test_submit_args_ends_with_shell():
    args = tracing.submit_args(tracing.eventlog_conf("/x"))
    assert "--conf spark.eventLog.enabled=true" in args
    assert args.endswith(" pyspark-shell")


@pytest.fixture(scope="module")
def tiny_job_log(tmp_path_factory):
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = str(tmp_path_factory.mktemp("events"))
    builder = SparkSession.builder.master("local[2]").appName("tracing_test")
    for k, v in {**tracing.eventlog_conf(log_dir), "spark.ui.enabled": "false",
                 "spark.sql.shuffle.partitions": "2"}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        @F.pandas_udf("long")
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        sc = spark.sparkContext
        sc.setJobGroup("tiny", "tiny")
        rows = (
            spark.range(2000, numPartitions=2)
            .select(plus_one("id").alias("y"))
            .groupBy((F.col("y") % 5).alias("k"))
            .count()
            .collect()
        )
        sc.setLocalProperty(tracing.JOB_GROUP, None)
        spark.range(10).count()  # an untagged job
    finally:
        spark.stop()
    assert sorted(r["count"] for r in rows) == [400] * 5
    return tracing.parse_eventlog(log_dir)


def test_eventlog_attributes_tasks_to_job_group(tiny_job_log):
    tiny, total, untagged = tiny_job_log["tiny"], tiny_job_log["*"], tiny_job_log[""]
    assert tiny["tasks"] >= 3  # 2 map tasks feeding the UDF + the reduce side
    assert untagged["tasks"] >= 1
    assert total["tasks"] == tiny["tasks"] + untagged["tasks"]
    assert tiny["failed_tasks"] == 0 and total["failed_tasks"] == 0
    assert tiny["cpu_s"] > 0 and tiny["run_s"] > 0 and tiny["gc_s"] >= 0
    assert tiny["shuffle_write_bytes"] > 0
    assert tiny["shuffle_read_bytes"] > 0
    assert tiny["disk_spill_bytes"] == 0 and tiny["memory_spill_bytes"] == 0
    assert tiny["peak_exec_mem_bytes"] > 0


def test_eventlog_reads_python_worker_metrics(tiny_job_log):
    tiny, untagged = tiny_job_log["tiny"], tiny_job_log[""]
    for key in tracing.PY_METRICS.values():
        assert tiny[key] > 0, key
        assert untagged.get(key, 0) == 0, key
    # 2000 longs go out and come back, plus Arrow framing
    assert tiny["arrow_sent_bytes"] >= 2000 * 8
    assert tiny["arrow_returned_bytes"] >= 2000 * 8
