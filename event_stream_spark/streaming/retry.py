"""X12 + §2.9 retry/recovery: exponential backoff and checkpoint-resuming
restarts (utils/Backoff.kt:30-41; EventStream.kt:222-233,285-305;
MultiplexFlow.kt:37-55).

The reference wraps its flows in ``retryWhen { backoff(attempt) }`` with a
recovery point advanced per emitted height.  Structured Streaming already
persists the recovery point (the offset log under ``checkpointLocation``), so
a restart loop only needs to (a) classify the failure as retryable, and
(b) sleep the backoff — resume position is the checkpoint's business.
"""

from __future__ import annotations

import random
import time
from collections.abc import Callable
from typing import TypeVar

T = TypeVar("T")

#: base wait: 1 s · 2^attempt, as in Backoff.kt:12
BASE_WAIT_MILLIS = 1000.0


def backoff_millis(
    attempt: int,
    base_millis: float = BASE_WAIT_MILLIS,
    *,
    jitter: bool = True,
    rng: random.Random | None = None,
) -> float:
    """``max(0, base·2^attempt ± ≤25% jitter)`` — Backoff.kt:30-41."""
    raw = base_millis * (2.0**attempt)
    if jitter:
        r = rng or random
        raw += raw * 0.25 * (2.0 * r.random() - 1.0)
    return max(0.0, raw)


#: node-request retries after the first attempt, and their backoff base
NODE_MAX_RETRIES = 5
NODE_BASE_BACKOFF_MILLIS = 25.0


def retry_node_call(call: Callable[[], T]) -> T:
    """Run one node-backend request, retrying transport faults (``OSError``,
    which covers urllib's HTTP/URL errors and dropped sockets) with backoff
    and re-raising after ``NODE_MAX_RETRIES``.  Any other exception passes
    through unretried: the caller decides what it means (``HttpNode`` maps
    a 404 to a missing block before it gets here; a gRPC status error is
    final)."""
    attempt = 0
    while True:
        try:
            return call()
        except OSError:
            if attempt >= NODE_MAX_RETRIES:
                raise
        time.sleep(backoff_millis(attempt, NODE_BASE_BACKOFF_MILLIS) / 1000.0)
        attempt += 1


#: substrings of exception text the reference treats as transient
#: (EventStream.kt:222-233: EOF/Completion/Connect/SocketTimeout/Socket/502)
RETRYABLE_MARKERS = (
    "EOFException",
    "ConnectException",
    "SocketTimeoutException",
    "SocketException",
    "502",
)


def is_retryable(exc: BaseException) -> bool:
    text = f"{type(exc).__name__}: {exc}"
    return any(m in text for m in RETRYABLE_MARKERS)


def run_with_restarts(
    start_query: Callable[[], "object"],
    *,
    max_retries: int = 5,
    base_millis: float = BASE_WAIT_MILLIS,
    should_retry: Callable[[BaseException], bool] = is_retryable,
    sleep: Callable[[float], None] = time.sleep,
) -> None:
    """Start a streaming query, await it, and restart on retryable failure.

    ``start_query`` must return a started ``StreamingQuery`` whose sink reads
    from the same ``checkpointLocation`` each time — that is what makes the
    restart resume instead of replay (verified by the kill+restart test on
    the block source).  A non-retryable error, or exhausting ``max_retries``,
    re-raises; a successful ``awaitTermination`` returns.  Attempt count
    resets after any successful (re)start that then terminates cleanly.
    """
    attempt = 0
    while True:
        try:
            query = start_query()
            query.awaitTermination()
            return
        except BaseException as exc:  # noqa: BLE001 — classification below
            if attempt >= max_retries or not should_retry(exc):
                raise
            sleep(backoff_millis(attempt, base_millis) / 1000.0)
            attempt += 1
