"""fanout.fan_out: concurrent driver-side actions that fail fast — a
failing branch cancels its siblings' Spark jobs, running and future,
and surfaces without waiting for them."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from movie_recommendation_engine_spark.fanout import fan_out


def test_fan_out_returns_results_by_name_under_own_job_groups(spark):
    sc = spark.sparkContext
    sc.setLocalProperty("mres.test.inherited", "yes")
    try:
        got = fan_out(
            sc,
            count=lambda: spark.range(10).count(),
            a=lambda: (sc.getLocalProperty("spark.jobGroup.id"),
                       sc.getLocalProperty("mres.test.inherited")),
            b=lambda: sc.getLocalProperty("spark.jobGroup.id"),
        )
    finally:
        sc.setLocalProperty("mres.test.inherited", None)
    assert list(got) == ["count", "a", "b"] and got["count"] == 10
    group_a, inherited = got["a"]
    assert inherited == "yes"
    assert group_a.startswith("a-") and got["b"].startswith("b-")


def test_failing_branch_cancels_running_and_future_sibling_jobs(spark):
    """A failing plan beside two slow siblings: one long job (cancelled
    while running) and a chain of short jobs (its next job must not
    start).  fan_out re-raises promptly and both siblings stop within
    the bound; uncancelled, the long job alone runs for many minutes."""
    sc = spark.sparkContext
    bound_s = 60.0
    stopped = {"long": threading.Event(), "chain": threading.Event()}
    long_group = []

    def long_job():
        long_group.append(sc.getLocalProperty("spark.jobGroup.id"))
        try:
            spark.range(0, 10**13, 1, 4).agg(F.sum("id")).collect()
        finally:
            stopped["long"].set()

    def job_chain():
        try:
            end = time.monotonic() + 10 * bound_s
            while time.monotonic() < end:
                spark.range(4).collect()
                time.sleep(0.05)
        finally:
            stopped["chain"].set()

    def failing():
        # fail only once the long sibling's job is running
        st, end = sc.statusTracker(), time.monotonic() + bound_s
        while time.monotonic() < end and not (
            long_group
            and set(st.getJobIdsForGroup(long_group[0])) & set(st.getActiveJobsIds())
        ):
            time.sleep(0.05)
        raise RuntimeError("injected failure")

    t0 = time.monotonic()
    with pytest.raises(RuntimeError, match="injected failure"):
        fan_out(sc, long=long_job, chain=job_chain, failing=failing)
    raised_s = time.monotonic() - t0
    for name, ev in stopped.items():
        assert ev.wait(bound_s), f"sibling {name!r} still running {bound_s}s after the failure"
    assert raised_s < bound_s
    deadline = time.monotonic() + bound_s
    while sc.statusTracker().getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.1)
    assert not sc.statusTracker().getActiveJobsIds()
