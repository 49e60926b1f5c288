"""Block-storage probes for the tests that check pins are released.

A release unpersists without blocking, so a probe polls storage for up
to ``timeout_s`` before it reports what is left.
"""

from __future__ import annotations

import time


def stored_rdds(spark) -> set[int]:
    """Ids of the RDDs that hold blocks in storage."""
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def still_stored(spark, ids: set[int], timeout_s: float = 30.0) -> set[int]:
    """Those of ``ids`` still in storage once none is left or
    ``timeout_s`` has passed."""
    deadline = time.monotonic() + timeout_s
    while (left := ids & stored_rdds(spark)) and time.monotonic() < deadline:
        time.sleep(0.1)
    return left


def gained_rdds(spark, before: set[int], at_most: int, timeout_s: float = 30.0) -> set[int]:
    """The stored RDDs that are not in ``before``, once at most
    ``at_most`` are left or ``timeout_s`` has passed."""
    deadline = time.monotonic() + timeout_s
    while len(new := stored_rdds(spark) - before) > at_most and time.monotonic() < deadline:
        time.sleep(0.1)
    return new
