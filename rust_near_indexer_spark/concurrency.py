"""Concurrent Spark jobs from one driver-side unit of work.

Independent actions (the validation suite's aggregates, one pass's sink
appends) are submitted from threads, so a job whose stages have one task
no longer holds the next job back.  :func:`submit` is the one way the
package does that.  Each call runs its task on a thread of its own, so
there is no pool size to tune, and the task runs as the submitting
thread would have run it:

- with the Spark local properties the submitter held when it called
  ``submit`` (job group, a streaming batch's properties), through
  ``pyspark.util.inheritable_thread_target``; each task gets its own
  copy, so concurrent SQL executions never share one;
- under the submitter's current trace span (``TRACER.context``), so a
  span the task opens is that span's child and is exported in its batch.

The caller owns the returned futures and waits for them.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future
from typing import Callable, TypeVar

from pyspark.sql import SparkSession
from pyspark.util import inheritable_thread_target

from .tracing import TRACER

T = TypeVar("T")


def submit(spark: SparkSession, fn: Callable[[], T]) -> Future:
    """Start ``fn()`` on a new thread and return its future."""
    fut: Future = Future()
    parent = TRACER.context()

    def run() -> None:
        fut.set_running_or_notify_cancel()
        try:
            with TRACER.attached(parent):
                result = fn()
        except BaseException as e:  # the future carries it to the caller
            fut.set_exception(e)
        else:
            fut.set_result(result)

    wrap = inheritable_thread_target(spark)
    # with pinned-thread mode off (PYSPARK_PIN_THREAD=false) there is no
    # per-thread JVM state to carry, and pyspark hands the session back
    target = run if wrap is spark else wrap(run)
    threading.Thread(target=target, daemon=True).start()
    return fut
