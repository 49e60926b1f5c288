"""Waits for the streaming tests' ``availableNow`` queries."""

from __future__ import annotations


def drain(query, timeout_s: float = 120) -> int:
    """Wait for ``query``, started with an ``availableNow`` trigger, to
    stop on its own. Fails here, at the wait, if it is still running
    after ``timeout_s`` or read no input row; returns the rows read."""
    assert query.awaitTermination(timeout_s), f"query {query.id} still running after {timeout_s}s"
    rows = sum(p["numInputRows"] for p in query.recentProgress)
    assert rows > 0, f"query {query.id} read no input rows"
    return rows
