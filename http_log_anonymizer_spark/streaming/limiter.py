"""Request rate limiter — port of anonymizer/src/limiter.rs:8-43.

Semantics: at most one request per ``rate`` window. ``time_left()``
reports the remaining wait (0 when a request is allowed);
``record_request()`` starts a new window. Zero/negative rate is rejected
at construction (limiter.rs test ``panics_for_zero_rate``,
limiter.rs:65-69).

In the Spark pipeline the *cadence* is normally enforced by the
micro-batch trigger (``processingTime=<rate>s``); this limiter exists
for the one case the trigger can't cover — multiple writers sharing one
rate-limited endpoint (SURVEY.md §4 'rate pacing') — and to reproduce
the reference's golden unit tests.
"""

from __future__ import annotations

import time


class RequestLimiter:
    def __init__(self, rate_s: float, clock=time.monotonic) -> None:
        if rate_s <= 0:
            raise ValueError("rate must be positive (limiter.rs:65-69)")
        self._rate = float(rate_s)
        self._clock = clock
        self._last: float | None = None

    def time_left(self) -> float:
        """Seconds until the next request is allowed; 0.0 if allowed now
        (limiter.rs:8-43: countdown from the last recorded request)."""
        if self._last is None:
            return 0.0
        remaining = self._rate - (self._clock() - self._last)
        return max(0.0, remaining)

    def record_request(self) -> None:
        """Mark a request as sent, starting a fresh window."""
        self._last = self._clock()

    def try_acquire(self) -> bool:
        """Convenience: acquire-or-report-pending in one call (the
        InsertResult::Pending decision point, sink.rs:303-309)."""
        if self.time_left() > 0:
            return False
        self.record_request()
        return True


# ---------------------------------------------------------------------------
# Shared limiters (SURVEY §7 hard part 4): requests to ONE rate-limited
# endpoint must share a token bucket — the per-query trigger cadence
# can't coordinate them. The ClickHouse sink calls it EXECUTOR-side, in
# each Python worker (sinks/clickhouse.py:partition_insert_fn), so the
# registry is per process: it carries an endpoint's last-request time
# across the batches a reused worker serves, and each batch brings its
# own interval (scaled by that batch's partition count).
# ---------------------------------------------------------------------------

import threading

_SHARED: dict[str, RequestLimiter] = {}
_SHARED_LOCK = threading.Lock()


def shared_limiter(name: str, rate_s: float, clock=time.monotonic) -> RequestLimiter:
    """Process-wide limiter keyed by endpoint name. All callers pointing
    at the same endpoint get the SAME bucket, i.e. one last-request time
    (mirrors one nginx zone per upstream, ch-proxy/nginx.conf:13); each
    call sets the window to its own ``rate_s``, so a caller whose share
    of the endpoint changed is paced at its current share."""
    fresh = RequestLimiter(rate_s, clock=clock)  # validates rate_s
    with _SHARED_LOCK:
        lim = _SHARED.setdefault(name, fresh)
        lim._rate = fresh._rate
        return lim
