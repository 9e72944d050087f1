"""Structured Streaming tier: incremental file ingest with archive
(the reference's sensor+archive lifecycle) and event-time analytics."""

from __future__ import annotations

from pyspark.sql.streaming import StreamingQuery

#: how long a bounded (availableNow) query may run before it is stopped
DRAIN_TIMEOUT_S = 120


def await_drained(query: StreamingQuery) -> None:
    """Wait until the availableNow ``query`` has drained its source.  A
    query still running after :data:`DRAIN_TIMEOUT_S` is stopped and
    raises TimeoutError: its sink holds a partial result, and a query
    left active keeps its name, so the next run's start would fail."""
    if not query.awaitTermination(DRAIN_TIMEOUT_S):
        query.stop()
        raise TimeoutError(
            f"streaming query {query.name or query.id} still running after"
            f" {DRAIN_TIMEOUT_S} s; stopped"
        )
