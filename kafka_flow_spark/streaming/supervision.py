"""Query supervision: retry-wrapped run loop and health checks.

Reference counterparts:
- #2 retry loop (KafkaFlow.retryOnError, core/.../KafkaFlow.scala:28-49):
  the whole stream restarts on error under an exponential backoff — 100 ms
  initial, jittered, capped at 1 min, reset after 5 min of healthy running.
  Spark already retries tasks and reconnects sources; this wrapper supplies
  the *query-level* restart the reference builds with cats-retry, resuming
  from the checkpoint each attempt (so restarts are exactly the recovery
  path, §3.2).
- #41 health check (KafkaModule.of, core/.../kafka/KafkaModule.scala:29-58):
  the reference produces/consumes on a `healthcheck` topic; here liveness is
  a property of the query object — making progress and not terminated with an
  exception.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable

BACKOFF_INITIAL_S = 0.1  # KafkaFlow.scala:33 (100 ms)
BACKOFF_CAP_S = 60.0  # cap 1 min (KafkaFlow.scala:35)
BACKOFF_RESET_S = 300.0  # healthy-for-5-min resets the backoff (KafkaFlow.scala:36)


def run_with_retry(
    start_query: Callable[[], "object"],
    max_restarts: int | None = None,
    on_error: Callable[[int, Exception], None] | None = None,
    _sleep: Callable[[float], None] = time.sleep,
    _clock: Callable[[], float] = time.monotonic,
) -> None:
    """Run a streaming query to termination, restarting on failure.

    ``start_query`` builds AND starts a fresh query: a long-running
    ``streaming.flow.run_query`` call, such as
    ``lambda: run_view_sink(..., available_now=False)`` or ``kafka_sink``
    (it must reuse one checkpoint so each attempt resumes, not replays).
    Backoff: exponential
    from 100 ms, full jitter, 1 min cap, reset after 5 min healthy — the
    reference's retry policy.  ``max_restarts=None`` retries forever (the
    reference's default); a query that terminates without exception ends the
    loop.
    """
    attempt = 0
    while True:
        started_at = _clock()
        try:
            q = start_query()
            q.awaitTermination()
            return  # clean termination
        except Exception as e:  # noqa: BLE001 — supervision catches everything
            healthy_for = _clock() - started_at
            if healthy_for >= BACKOFF_RESET_S:
                attempt = 0
            if on_error is not None:
                on_error(attempt, e)
            if max_restarts is not None and attempt >= max_restarts:
                raise
            delay = min(BACKOFF_CAP_S, BACKOFF_INITIAL_S * (2**attempt))
            _sleep(random.uniform(0, delay))  # full jitter
            attempt += 1


def is_healthy(query) -> bool:
    """Liveness probe for a streaming query (#41 analog).

    Healthy = still active and not stopped by an exception.  Wire into an
    external prober the way the reference wires its healthcheck topic.
    """
    return bool(query.isActive) and query.exception() is None
