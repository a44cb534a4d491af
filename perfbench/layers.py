"""Per-layer timing for the traced run.

``Recorder.install()`` wraps the public call each layer exposes with a
timing span; ``restore()`` puts every original back. Nothing under
``strake_spark/`` changes: the wrappers replace module and class
attributes for the length of the traced window only.

Spans nest per thread. A span's inclusive time is its whole duration;
its self time excludes the spans opened inside it, so the self times of
one statement never add up to more than the statement's latency.

Spans land in the open *scope* of their thread. A scope is one client
statement on the embedded path, or one server RPC (``get_flight_info``,
``do_get``) on the Flight path; ``merge_rpcs`` attaches each RPC to the
client statement with the same command whose interval contains it.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module path, attribute owner inside it or None, attribute, layer)
TIMED = (
    ("strake_spark.engine", "StrakeEngine", "sql", "engine.plan"),
    ("strake_spark.engine", "StrakeEngine", "execute", "engine.execute"),
    ("strake_spark.engine", None, "ensure_select", "governance.gate"),
    ("strake_spark.governance.policies", "PolicyEnforcer", "rewrite", "governance.policy"),
    ("strake_spark.engine", None, "apply_defensive_limit", "governance.limits"),
    ("strake_spark.engine", None, "check_cost", "governance.limits"),
    ("strake_spark.plans.federation", None, "plan_sql", "plans.federation"),
    ("strake_spark.plans.federation", None, "analyze", "plans.rung.whole"),
    ("strake_spark.plans.subtree", None, "analyze_subtrees", "plans.rung.subtree"),
    ("strake_spark.plans.partial", None, "analyze_partial", "plans.rung.partial"),
    ("strake_spark.engine", None, "run_with_timeout", "spark.run"),
    ("strake_spark.cache", None, "plan_fingerprint", "cache.fingerprint"),
    ("strake_spark.cache", "ResultCache", "get", "cache.get"),
    ("strake_spark.cache", "ResultCache", "put", "cache.put"),
)
PUSHDOWN_RUNGS = ("whole_statement", "subtree", "partial")


@dataclass
class Scope:
    kind: str  # "statement" or the RPC's layer name
    key: tuple | None
    t0: float
    t1: float = 0.0
    incl: Counter = field(default_factory=Counter)
    self_time: Counter = field(default_factory=Counter)
    calls: Counter = field(default_factory=Counter)
    notes: Counter = field(default_factory=Counter)

    def absorb(self, other: "Scope") -> None:
        self.incl.update(other.incl)
        self.self_time.update(other.self_time)
        self.calls.update(other.calls)
        self.notes.update(other.notes)


def _owner(module: str, cls: str | None):
    import importlib

    mod = importlib.import_module(module)
    return getattr(mod, cls) if cls else mod


class Recorder:
    def __init__(self) -> None:
        self._tls = threading.local()
        self._lock = threading.Lock()
        self.scopes: list[Scope] = []
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def current(self) -> Scope | None:
        return getattr(self._tls, "scope", None)

    @contextmanager
    def scope(self, kind: str, key: tuple | None = None):
        sc = Scope(kind, key, time.perf_counter())
        prev = self.current()
        self._tls.scope = sc
        try:
            yield sc
        finally:
            sc.t1 = time.perf_counter()
            self._tls.scope = prev
            with self._lock:
                self.scopes.append(sc)

    @contextmanager
    def span(self, layer: str):
        stack = self._tls.__dict__.setdefault("stack", [])
        frame = [time.perf_counter(), 0.0]  # start, time covered by child spans
        stack.append(frame)
        try:
            yield
        finally:
            stack.pop()
            dur = time.perf_counter() - frame[0]
            if stack:
                stack[-1][1] += dur
            sc = self.current()
            if sc is not None:
                sc.incl[layer] += dur
                sc.self_time[layer] += dur - frame[1]
                sc.calls[layer] += 1

    def note(self, name: str, value: float) -> None:
        sc = self.current()
        if sc is not None:
            sc.notes[name] += value

    # --------------------------------------------------------- wrapping
    def _patch(self, owner, attr: str, wrapper) -> None:
        self._patched.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, wrapper)

    def _timed(self, fn, layer: str, after=None):
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with rec.span(layer):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out, args, kwargs)
            return out

        return wrapper

    def install(self, server_cls=None) -> None:
        """Wrap every layer's public call (and, given the Flight server's
        class, its two RPC handlers)."""
        from strake_spark.plans.tree import runtime_profile
        from strake_spark.reliability import ConcurrencyGovernor

        rec = self
        after = {
            "plans.federation": self._after_plan_sql,
            "spark.run": lambda out, args, kw: rec._after_run(runtime_profile, args[0]),
            "cache.get": lambda out, args, kw: rec.note("cache.hits", out is not None),
            "cache.fingerprint": lambda out, args, kw: setattr(rec._tls, "last_key", out),
            "cache.put": lambda out, args, kw: rec._after_put(args[0]),
        }
        for module, cls, attr, layer in TIMED:
            owner = _owner(module, cls)
            self._patch(owner, attr, self._timed(owner.__dict__[attr], layer, after.get(layer)))

        admit = ConcurrencyGovernor.__dict__["admit"]

        @functools.wraps(admit)
        def timed_admit(gov, *args, **kwargs):
            return _TimedEntry(admit(gov, *args, **kwargs), rec)

        self._patch(ConcurrencyGovernor, "admit", timed_admit)
        if server_cls is not None:
            for attr, layer in (("get_flight_info", "server.get_flight_info"),
                                ("do_get", "server.do_get")):
                self._patch(server_cls, attr, self._rpc(server_cls.__dict__[attr], layer))

    def _rpc(self, fn, layer: str):
        rec = self

        @functools.wraps(fn)
        def handler(srv, context, arg):
            raw = arg.command if layer == "server.get_flight_info" else arg.ticket
            with rec.scope(layer, command_key(raw)):
                with rec.span(layer):
                    return fn(srv, context, arg)

        return handler

    def restore(self) -> None:
        while self._patched:
            owner, attr, original = self._patched.pop()
            setattr(owner, attr, original)

    # ------------------------------------------------------- after-hooks
    def _after_put(self, cache) -> None:
        """Bytes of the file just put (its key is the fingerprint the put
        computed on this thread)."""
        key = getattr(self._tls, "last_key", None)
        path = cache._path(key) if key else ""
        if os.path.exists(path):
            self.note("cache.bytes_written", os.path.getsize(path))

    def _after_plan_sql(self, out, args, kwargs) -> None:
        decisions = kwargs.get("trace") or []
        applied = [r for r, s, _ in decisions if s in ("pushed", "applied")]
        self.note("plans.pushed", any(r in PUSHDOWN_RUNGS for r in applied))
        for rung in applied:
            self.note(f"rung.{rung}", 1)

    def _after_run(self, runtime_profile, df) -> None:
        """SQLMetrics of the plan that just ran: shuffle, spill, scans."""
        shuffle = spill = scan = remote = 0
        for node in runtime_profile(df):
            m = node["metrics"]
            shuffle += int(m.get("shuffleBytesWritten", 0))
            spill += int(m.get("spillSize", 0))
            name = node["node"]
            if "Scan" in name:
                rows = int(m.get("numOutputRows", 0))
                scan += rows
                if name.startswith("BatchScan"):  # DataSource V2: the remote sources
                    remote += rows
        self.note("spark.shuffle_bytes", shuffle)
        self.note("spark.spill_bytes", spill)
        self.note("spark.scan_rows", scan)
        self.note("sources.remote_rows", remote)


class _TimedEntry:
    """Admission context whose entry (the wait for permits) is a span."""

    def __init__(self, cm, rec: Recorder) -> None:
        self._cm = cm
        self._rec = rec

    def __enter__(self):
        with self._rec.span("reliability.admit_wait"):
            return self._cm.__enter__()

    def __exit__(self, *exc):
        return self._cm.__exit__(*exc)


def command_key(raw: bytes) -> tuple:
    """(sql, user) of a Flight command, as strake_spark.remote builds it."""
    import json

    text = raw.decode() if isinstance(raw, (bytes, bytearray)) else str(raw)
    if text.startswith("{"):
        req = json.loads(text)
        return (req["sql"], req.get("user"))
    return (text, None)


def merge_rpcs(statements: list[Scope], rpcs: list[Scope]) -> int:
    """Fold each RPC scope into the client statement with the same
    command whose interval contains it. Returns the unmatched count."""
    by_key: dict[tuple, list[Scope]] = {}
    for st in statements:
        by_key.setdefault(st.key, []).append(st)
    taken: set[tuple[int, str]] = set()
    unmatched = 0
    for rpc in sorted(rpcs, key=lambda s: s.t0):
        owners = [st for st in by_key.get(rpc.key, ())
                  if st.t0 <= rpc.t0 and rpc.t1 <= st.t1 and (id(st), rpc.kind) not in taken]
        if not owners:
            unmatched += 1
            continue
        # two clients may send the same command at once: the owner is
        # most likely the one that started last before the RPC
        st = max(owners, key=lambda s: s.t0)
        taken.add((id(st), rpc.kind))
        st.absorb(rpc)
    return unmatched
