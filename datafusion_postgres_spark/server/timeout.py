"""Statement timeout via Spark job-group cancellation.

Reference parity: ``tokio::time::timeout`` wrapping execution with error
57014 (``handlers.rs:196-209,308-330``). Spark's execution-control analog:
run the action inside a job group and cancel the group from a timer
thread (SURVEY.md §4.2 — the one execution-control feature to port).
"""

from __future__ import annotations

import threading
import uuid
from typing import Callable, TypeVar

R = TypeVar("R")


class QueryCanceled(RuntimeError):
    sqlstate = "57014"


def run_with_timeout(spark, fn: Callable[[], R], timeout_secs: float) -> R:
    """Run ``fn`` (a Spark action) under a job group; cancel the group when
    the deadline passes. timeout_secs <= 0 means no timeout. A group the
    thread already has (a connection's CancelRequest group) is kept."""
    if timeout_secs <= 0:
        return fn()
    sc = spark.sparkContext
    current = sc.getLocalProperty("spark.jobGroup.id")
    group = current or f"stmt-timeout-{uuid.uuid4().hex[:12]}"
    timed_out = threading.Event()

    def cancel():
        timed_out.set()
        try:
            sc.cancelJobGroup(group)
        except Exception:
            pass

    timer = threading.Timer(timeout_secs, cancel)
    if current is None:
        sc.setJobGroup(group, "statement with timeout", interruptOnCancel=True)
    timer.start()
    try:
        result = fn()
        if timed_out.is_set():
            raise QueryCanceled(
                "canceling statement due to statement timeout")
        return result
    except QueryCanceled:
        raise
    except Exception as exc:
        if timed_out.is_set():
            raise QueryCanceled(
                "canceling statement due to statement timeout") from exc
        raise
    finally:
        timer.cancel()
        if current is None:
            sc.setJobGroup(None, None)
