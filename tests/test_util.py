"""Shared engine helpers: ``operators.util.concurrently`` and the
session defaults every engine session is built with."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from full_docker_etl_spark.harness import job_rows, job_watermark
from full_docker_etl_spark.operators.util import concurrently


def test_concurrently_carries_the_callers_job_labels(spark):
    """Every job a thunk starts — nested thunks included, as a store
    write inside a store chain starts them — carries the caller's job
    description and job group. A plain pool thread starts with neither,
    so its jobs would drop a ``bench:<name>`` label. A label one thunk
    sets reaches neither its siblings nor the caller."""
    sc = spark.sparkContext

    def job(n):
        return lambda: spark.range(n).count()

    relabelled = threading.Event()

    def relabel():
        sc.setJobDescription("own-label")
        relabelled.set()
        return sc.getLocalProperty("spark.job.description")

    def sibling_label():
        relabelled.wait(10)
        return sc.getLocalProperty("spark.job.description")

    lo = job_watermark(spark)
    sc.setJobGroup("caller-group", "caller-label")
    try:
        out = concurrently(
            job(10),
            lambda: concurrently(job(20), job(30)),
            relabel,
            sibling_label,
        )
        caller_label = sc.getLocalProperty("spark.job.description")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    hi = job_watermark(spark)
    # a label one thunk sets stays its own
    assert out == [10, [20, 30], "own-label", "caller-label"]
    assert caller_label == "caller-label"
    assert hi - lo >= 3
    labels = [(r["desc"], r["group"]) for r in job_rows(spark, lo, hi)]
    assert labels == [("caller-label", "caller-group")] * (hi - lo)


def test_concurrently_raises_first_failure_after_every_thunk(spark):
    """One raising thunk: its siblings still run to completion, the
    first exception in submission order is re-raised only after all of
    them finished, and results come back in submission order even when
    later thunks finish first."""
    finished = []

    def slow(i, delay):
        def run():
            time.sleep(delay)
            finished.append(i)
            return i

        return run

    def boom():
        raise ValueError("first failure")

    def late_boom():
        time.sleep(0.1)
        raise KeyError("second failure")

    with pytest.raises(ValueError, match="first failure"):
        concurrently(slow(0, 0.3), boom, late_boom, slow(3, 0.2))
    assert sorted(finished) == [0, 3]

    finished.clear()
    assert concurrently(slow(0, 0.3), slow(1, 0.15), slow(2, 0.0)) == [0, 1, 2]
    assert finished == [2, 1, 0]


def test_concurrently_runs_a_single_thunk_inline():
    caller = threading.get_ident()
    assert concurrently(threading.get_ident) == [caller]
    assert concurrently() == []


def test_session_builds_columns_without_call_site_capture(spark, monkeypatch):
    """An engine session turns PySpark's DataFrame call-site capture
    off: building a Column or a DataFrame sends no PySparkCurrentOrigin
    to the JVM (each capture costs py4j round trips and a Python
    ``inspect.stack()``)."""
    import pyspark.errors.utils as U

    # PySpark caches the conf once per process; re-read it from this session
    monkeypatch.setattr(U, "_enable_debugging_cache", None)
    captured = []

    def capture(depth):
        captured.append(depth)
        return ""

    monkeypatch.setattr(U, "_capture_call_site", capture)
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    spark.range(3).select((F.col("id") + F.lit(1)).alias("x")).where("x > 1")
    assert captured == []


def test_call_site_capture_can_be_turned_back_on(monkeypatch):
    """``extra_conf`` overrides the capture default, so a debugging
    session can name the Python call site of a failing expression
    again. Checked on the confs the builder receives (no session is
    built: PySpark reads the conf once per process)."""
    from pyspark.sql import SparkSession

    from full_docker_etl_spark.session import get_spark

    monkeypatch.setattr(
        SparkSession.Builder, "getOrCreate", lambda self: dict(self._options)
    )
    key = "spark.python.sql.dataFrameDebugging.enabled"
    assert get_spark(master="local[1]")[key] == "false"
    on = get_spark(master="local[1]", extra_conf={key: "true"})
    assert on[key] == "true"
