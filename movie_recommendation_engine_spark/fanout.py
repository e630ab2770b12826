"""Independent Spark actions run from a few driver threads, failing fast.

Spark's scheduler runs jobs submitted from several driver threads side
by side, so independent actions (the CLI's metric collects, the e2e
query's verb pair) overlap instead of serializing their straggler tails.
What a plain thread pool gets wrong is the error path: its futures are
all running, so ``cancel_futures`` cancels nothing, and leaving a
``with`` block joins every thread, so the siblings' Spark jobs run to
completion before the error surfaces.
"""

from __future__ import annotations

import queue
import uuid
from typing import Any, Callable

from pyspark import InheritableThread, SparkContext


def fan_out(sc: SparkContext, **branches: Callable[[], Any]) -> dict[str, Any]:
    """Run each zero-argument callable on its own driver thread and
    return ``{name: result}``.

    Each branch inherits the caller's local properties (job tags,
    scheduler pool, trace labels) and runs under its own job group
    ``<name>-<uuid>``.  On the first error (or an interrupt of the
    caller), every unfinished branch's group is cancelled — its running
    jobs and any job it submits later, so a branch between two jobs (an
    ALS fit's iterations) cannot start the next one — and the error is
    re-raised at once, without joining the siblings' threads.
    """
    groups = {name: f"{name}-{uuid.uuid4().hex}" for name in branches}
    done: queue.Queue = queue.Queue()

    def run(name: str, fn: Callable[[], Any]) -> None:
        try:
            sc.setJobGroup(groups[name], name)
            done.put((name, fn(), None))
        except BaseException as ex:  # handed to the caller's thread
            done.put((name, None, ex))

    for name, fn in branches.items():
        InheritableThread(target=run, args=(name, fn), daemon=True).start()
    results: dict[str, Any] = {}
    try:
        for _ in branches:
            name, value, err = done.get()
            if err is not None:
                raise err
            results[name] = value
    except BaseException:
        for name, group in groups.items():
            if name not in results:
                # cancelJobGroup alone misses the jobs a sibling
                # submits after the call; PySpark does not expose the
                # variant that also cancels those
                sc._jsc.sc().cancelJobGroupAndFutureJobs(
                    group, "a sibling fan-out branch failed")
        raise
    return {name: results[name] for name in branches}
