"""Row counts that ride on a write job, with a bounded wait.

Spark fills an ``Observation`` from its listener bus once the SQL
execution that ran the observed frame has ended.  That normally takes
milliseconds after the write returns, but when the event never comes
(the frame ran in another session's execution, or a full listener
queue dropped the event) ``Observation.get`` blocks forever.

:func:`observe` returns the frame to write and a ``counts`` callable
that waits at most :data:`WAIT_S` for the metrics, then recomputes the
same aggregate over the frame instead: one fallback job, never a hang
and never a different count.  Warehouse generations are immutable
directories and the pre-flip one survives the flip, so the recomputed
plan reads what the write read.
"""

from __future__ import annotations

import logging
import time
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation

_log = logging.getLogger(__name__)

# seconds to wait for the observed metrics before recomputing them
WAIT_S = 5.0


def observe(
    df: DataFrame, *metrics: Column
) -> tuple[DataFrame, Callable[[], dict[str, int]]]:
    """``df`` with ``metrics`` observed on it, and the callable that
    returns them once the job computing the returned frame has run."""
    obs = Observation()
    observed = df.observe(obs, *metrics)

    def counts() -> dict[str, int]:
        done = obs._jo.future()  # the JVM Observation's metrics promise
        deadline = time.monotonic() + WAIT_S
        while not done.isCompleted():
            if time.monotonic() > deadline:
                break
            time.sleep(0.002)
        else:
            got = obs.get
            if got:  # empty when the observed node never ran
                return got
        _log.warning("observed metrics did not arrive; recomputing them")
        return df.agg(*metrics).first().asDict()

    return observed, counts
