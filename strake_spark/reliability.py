"""Reliability primitives: retry, circuit breaker, concurrency budgets.

Reference:
- exponential-backoff retry: crates/common/src/retry.rs:7-40
  (max_attempts, base delay, cap, jitter)
- AdaptiveCircuitBreaker: crates/common/src/circuit_breaker.rs:20-60 —
  closed/open/half-open, trips on error rate over a sliding window,
  wraps each source's TableProvider (sources/sql/wrappers.rs:99-111)
- admission control: global connection-budget semaphore
  (crates/runtime/src/federation.rs:138,372) + per-source
  max_concurrent_queries semaphores (wrappers.rs:70-76)

Spark placement: these guard DRIVER-side boundaries — the source work
of StrakeEngine.execute/profile (``source_envelope``) and connector
fetch/metadata calls. Executor-side scan tasks are already governed by
Spark's own task retry (spark.task.maxFailures) and blacklisting;
duplicating a Python breaker inside executor processes would mean
cross-process shared state for no gain, so per-source breakers record
the outcome of each *query* that touches the source, which is the
reference's granularity too (it wraps the provider, one grant per
query). A result-cache hit touches no source, so it takes no permit and
meets no breaker, as a hit never reaches the reference's wrapped
providers.
"""

from __future__ import annotations

import random
import threading
import time
from collections import deque
from contextlib import contextmanager
from dataclasses import dataclass

from strake_spark.config import RetryConfig
from strake_spark.convert import classify_exception
from strake_spark.errors import BudgetExceeded, EngineError, ErrorCategory, QueryRejected


class CircuitOpen(QueryRejected):
    """Fail-fast signal: the source's breaker is open."""


def retry_call(fn, policy: RetryConfig | None = None, retryable=(Exception,), sleep=time.sleep):
    """Call ``fn`` with exponential backoff + full jitter
    (retry.rs:7-40 semantics: base * 2^attempt, capped)."""
    policy = policy or RetryConfig()
    last: Exception | None = None
    for attempt in range(max(1, policy.max_attempts)):
        try:
            return fn()
        except retryable as e:
            last = e
            if attempt == policy.max_attempts - 1:
                break
            delay_ms = min(policy.cap_ms, policy.base_ms * (2**attempt))
            sleep(random.uniform(0, delay_ms) / 1000.0)
    raise last  # type: ignore[misc]


@dataclass
class BreakerConfig:
    error_rate_threshold: float = 0.5  # trip when >=50% of window failed
    window_size: int = 10  # outcomes tracked
    min_calls: int = 5  # don't judge tiny samples
    open_seconds: float = 30.0  # cool-down before half-open
    half_open_max_calls: int = 1  # trial calls allowed when half-open


class CircuitBreaker:
    """closed -> (error rate trips) -> open -> (cool-down) -> half-open
    -> success closes / failure re-opens. Thread-safe; fail-open on
    bookkeeping errors like the reference's cache."""

    def __init__(self, name: str = "", config: BreakerConfig | None = None, clock=time.monotonic):
        self.name = name
        self.config = config or BreakerConfig()
        self._clock = clock
        self._lock = threading.Lock()
        self._outcomes: deque[bool] = deque(maxlen=self.config.window_size)
        self._state = "closed"
        self._opened_at = 0.0
        self._half_open_in_flight = 0

    @property
    def state(self) -> str:
        with self._lock:
            self._maybe_half_open()
            return self._state

    def _maybe_half_open(self) -> None:
        if (
            self._state == "open"
            and self._clock() - self._opened_at >= self.config.open_seconds
        ):
            self._state = "half_open"
            self._half_open_in_flight = 0

    def acquire(self) -> None:
        """Raise CircuitOpen if calls must fail fast right now."""
        with self._lock:
            self._maybe_half_open()
            if self._state == "open":
                raise CircuitOpen(
                    f"circuit breaker {self.name or '<anon>'} is open "
                    f"(cooling down {self.config.open_seconds}s)"
                )
            if self._state == "half_open":
                if self._half_open_in_flight >= self.config.half_open_max_calls:
                    raise CircuitOpen(
                        f"circuit breaker {self.name or '<anon>'} is half-open "
                        "and at its trial-call limit"
                    )
                self._half_open_in_flight += 1

    def release(self) -> None:
        """Give back an acquire() without judging the source (e.g. the
        query was rejected by governance before touching the source)."""
        with self._lock:
            if self._state == "half_open" and self._half_open_in_flight > 0:
                self._half_open_in_flight -= 1

    def record(self, ok: bool) -> None:
        with self._lock:
            if self._state == "half_open":
                if ok:
                    self._state = "closed"
                    self._outcomes.clear()
                else:
                    self._trip()
                self._half_open_in_flight = 0
                return
            self._outcomes.append(ok)
            if len(self._outcomes) >= self.config.min_calls:
                failures = sum(1 for o in self._outcomes if not o)
                if failures / len(self._outcomes) >= self.config.error_rate_threshold:
                    self._trip()

    def _trip(self) -> None:
        self._state = "open"
        self._opened_at = self._clock()
        self._outcomes.clear()

    def call(self, fn):
        self.acquire()
        try:
            result = fn()
        except CircuitOpen:
            raise
        except Exception:
            self.record(False)
            raise
        self.record(True)
        return result


class ConcurrencyGovernor:
    """Global connection budget + per-source caps (federation.rs:138 +
    wrappers.rs:70-76) + per-USER connection slots (the reference's
    enterprise "Connection Slots: limit the number of concurrent
    queries per user or domain", docs/enterprise.md:57-62).
    ``admit(sources, user)`` returns a context manager holding one
    global permit, one permit per touched source, and — when a slot
    limit applies to the principal — one user permit."""

    def __init__(self, global_budget: int = 100, user_slots: dict[str, int] | None = None,
                 default_user_slots: int | None = None,
                 priority_users: set[str] | frozenset[str] | None = None,
                 priority_reserved: int = 0):
        # Priority lane (enterprise "Query Buffering",
        # docs/enterprise.md:62: queue requests during peak loads while
        # priority workloads keep sub-second latency): ``priority_reserved``
        # permits are carved OUT of the global budget into a lane only
        # ``priority_users`` may draw from. Bulk users see a budget of
        # (global - reserved) and queue on the semaphore timeout when it
        # saturates; a priority user takes a shared permit when one is
        # free and otherwise admits immediately through the reserve.
        reserved = max(0, min(priority_reserved, max(1, global_budget) - 1))
        self._global = threading.BoundedSemaphore(max(1, global_budget) - reserved)
        self._reserve = threading.BoundedSemaphore(reserved) if reserved else None
        self._priority_users = frozenset(priority_users or ())
        self._per_source: dict[str, threading.BoundedSemaphore] = {}
        self._per_user: dict[str, threading.BoundedSemaphore] = {}
        self._user_limits = dict(user_slots or {})
        self._default_user_slots = default_user_slots
        self._lock = threading.Lock()

    def set_source_limit(self, source: str, max_concurrent: int | None) -> None:
        if max_concurrent:
            with self._lock:
                self._per_source[source] = threading.BoundedSemaphore(max_concurrent)

    def set_user_limit(self, user: str, max_concurrent: int | None) -> None:
        with self._lock:
            if max_concurrent:
                self._user_limits[user] = max_concurrent
                self._per_user.pop(user, None)
            else:
                self._user_limits.pop(user, None)
                self._per_user.pop(user, None)

    def _user_sem(self, user: str | None):
        if user is None:
            return None
        with self._lock:
            limit = self._user_limits.get(user, self._default_user_slots)
            if not limit:
                return None
            sem = self._per_user.get(user)
            if sem is None:
                sem = self._per_user[user] = threading.BoundedSemaphore(limit)
            return sem

    def admit(self, sources: tuple[str, ...] = (), timeout: float = 60.0,
              user: str | None = None):
        return _Admission(self, sources, timeout, user)


class _Admission:
    def __init__(self, gov: ConcurrencyGovernor, sources, timeout, user=None):
        self._gov = gov
        self._sources = sources
        self._timeout = timeout
        self._user = user
        self._held: list[threading.BoundedSemaphore] = []

    def _acquire_global(self) -> None:
        gov = self._gov
        if (
            gov._reserve is not None
            and self._user is not None
            and self._user in gov._priority_users
        ):
            # priority lane: free shared permit if available, else the
            # reserved lane admits immediately; block on shared only
            # when BOTH pools are exhausted by other priority queries
            if gov._global.acquire(blocking=False):
                self._held.append(gov._global)
                return
            if gov._reserve.acquire(blocking=False):
                self._held.append(gov._reserve)
                return
        if not gov._global.acquire(timeout=self._timeout):
            raise QueryRejected(
                f"admission timed out after {self._timeout}s "
                "(connection budget exhausted)"
            )
        self._held.append(gov._global)

    def __enter__(self):
        try:
            self._acquire_global()
        except QueryRejected:
            self.__exit__(None, None, None)
            raise
        sems = [
            self._gov._per_source[s]
            for s in self._sources
            if s in self._gov._per_source
        ]
        user_sem = self._gov._user_sem(self._user)
        if user_sem is not None:
            sems.append(user_sem)
        for sem in sems:
            if not sem.acquire(timeout=self._timeout):
                self.__exit__(None, None, None)
                raise QueryRejected(
                    f"admission timed out after {self._timeout}s "
                    "(connection budget exhausted)"
                )
            self._held.append(sem)
        return self

    def __exit__(self, *exc):
        while self._held:
            self._held.pop().release()
        return False


def _source_fault(exc: BaseException) -> bool:
    """Whether a failure counts against the breakers of the sources a
    statement touched. Governance rejections (gate, policy, admission,
    open breakers, the cost gate) and the statement's own parse and
    analysis errors (classified onto the 2xxx query codes) say nothing
    about a source's health; timeouts and everything else do."""
    if isinstance(exc, (QueryRejected, BudgetExceeded)):
        return False
    if isinstance(exc, EngineError) and exc.code.category is ErrorCategory.QUERY:
        return False
    return isinstance(exc, Exception)


@contextmanager
def source_envelope(governor: ConcurrencyGovernor, sources: tuple[str, ...],
                    breakers: list[CircuitBreaker], user: str | None = None):
    """The governed envelope around one statement's source work:
    admission (global, priority-lane, per-source and per-user permits),
    then a trial on each touched source's breaker. A body that completes
    records success on every breaker; a source fault records failure;
    any other exception gives the trials back unjudged. Spark failures
    leave classified onto the stable code contract (convert.py), so
    callers branch on STRAKE-NNNN codes rather than Spark's prose."""
    with governor.admit(sources, user=user):
        acquired: list[CircuitBreaker] = []
        try:
            for b in breakers:
                b.acquire()
                acquired.append(b)
        except CircuitOpen:
            for b in acquired:
                b.release()
            raise
        try:
            yield
        except BaseException as e:
            classified = classify_exception(e) if isinstance(e, Exception) else None
            fault = _source_fault(classified or e)
            for b in breakers:
                if fault:
                    b.record(False)
                else:
                    b.release()
            if classified is not None:
                raise classified from e
            raise
        for b in breakers:
            b.record(True)
