"""Spark actions on worker threads that keep the caller's job group.

A tiling round has actions that do not depend on each other's results
(the layout's table writes; the tile-dictionary collect while the
chain is still being planned).  Run one after another they leave the
task slots idle during each action's driver-side planning and
commit; submitted from threads they share the slots, as the
reference's pipeline of OS threads does (SURVEY.md overview).

Each thread's target is wrapped by
``pyspark.inheritable_thread_target(spark)`` — once per task, so every
thread gets its own copy of the caller's local properties (job group,
description) and session tags; one shared copy would let the threads'
concurrent SQL executions overwrite each other's execution id.

Worker threads run actions only.  They must not call
:func:`cache.persist`: :func:`cache.scope` keeps its stack per
thread, so a persist made in a worker would escape the caller's scope.
"""

from __future__ import annotations

from concurrent.futures import Future, ThreadPoolExecutor
from typing import Callable, Sequence, TypeVar

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession

T = TypeVar("T")


def submit(spark: SparkSession, fn: Callable[..., T], *args) -> Future:
    """Start ``fn(*args)`` on a background thread; the returned future
    holds its result or its exception."""
    pool = ThreadPoolExecutor(max_workers=1)
    try:
        return pool.submit(inheritable_thread_target(spark)(fn), *args)
    finally:
        # the queued task still runs; the thread exits after it
        pool.shutdown(wait=False)


def run_all(spark: SparkSession,
            tasks: Sequence[Callable[[], T]]) -> list[T]:
    """Run every zero-argument task at once, one thread each, and wait
    for all of them.  Returns their results in task order; if any
    failed, raises the error of the first failed task in that order,
    once every task has finished."""
    with ThreadPoolExecutor(max_workers=max(len(tasks), 1)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(t))
                   for t in tasks]
    # leaving the pool waited for every task
    return [f.result() for f in futures]
