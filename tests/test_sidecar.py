"""Sidecar supervisor parity tests (crates/runtime/src/sidecar.rs):
backoff math, restart-on-exit, health-probe restart, the max-retries
cooldown breaker, and graceful shutdown. All children are tiny python
subprocesses; intervals are milliseconds so the suite stays fast."""

from __future__ import annotations

import os
import random
import sys
import time

from strake_spark.sidecar import (
    SidecarConfig,
    calculate_backoff,
    spawn_sidecar,
)


class TestBackoff:
    def test_exponential_growth_and_cap(self):
        rng = random.Random(7)
        d0 = calculate_backoff(0, rng=rng)
        assert 750 <= d0 < 1250  # 1s ±25%
        d3 = calculate_backoff(3, rng=rng)
        assert 6000 <= d3 < 10000  # 8s ±25%
        dbig = calculate_backoff(50, rng=rng)
        assert 22500 <= dbig < 37500  # capped at 30s ±25%

    def test_jitter_varies(self):
        rng = random.Random(3)
        vals = {calculate_backoff(2, rng=rng) for _ in range(20)}
        assert len(vals) > 1  # jitter actually applied


def _cfg(cmd, **kw):
    base = dict(
        cmd=cmd,
        startup_delay_ms=20,
        health_check_interval_ms=30,
        shutdown_timeout_ms=500,
        backoff_base_ms=10,
        backoff_max_ms=40,
        max_retries=100,
        cooldown_secs=60.0,
    )
    base.update(kw)
    return SidecarConfig(**base)


def _wait_until(pred, timeout=10.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        if pred():
            return True
        time.sleep(0.01)
    return False


class TestSupervision:
    def test_restart_after_exit(self, tmp_path):
        pidfile = tmp_path / "pids"
        code = (
            "import os,sys,time; "
            f"open({str(pidfile)!r},'a').write(str(os.getpid())+'\\n'); "
            "time.sleep(0.08)"
        )
        h = spawn_sidecar(_cfg([sys.executable, "-c", code]))
        try:
            assert _wait_until(
                lambda: pidfile.exists() and len(pidfile.read_text().splitlines()) >= 2
            ), "child was not respawned after exit"
            pids = pidfile.read_text().splitlines()
            assert len(set(pids)) >= 2  # genuinely different processes
            assert h.stats.restarts_after_exit >= 1
        finally:
            h.shutdown()

    def test_cooldown_breaker_after_max_retries(self):
        # a child that dies instantly, tiny backoff, max_retries=3:
        # the supervisor must stop churning and record a cooldown. A shell
        # exit, not `python -c pass`: an interpreter start can outlast the
        # 50 ms first health tick, whose healthy reading resets the breaker
        h = spawn_sidecar(
            _cfg(["sh", "-c", "exit 0"], max_retries=3, cooldown_secs=30.0)
        )
        try:
            assert _wait_until(lambda: h.stats.cooldowns >= 1)
            spawns_at_cooldown = h.stats.spawns
            time.sleep(0.3)  # deep in the 30s cooldown: no new spawns
            assert h.stats.spawns == spawns_at_cooldown
        finally:
            h.shutdown()

    def test_health_probe_failure_restarts(self, tmp_path):
        pidfile = tmp_path / "pids"
        code = (
            "import os,time; "
            f"open({str(pidfile)!r},'a').write(str(os.getpid())+'\\n'); "
            "time.sleep(60)"
        )
        calls = {"n": 0}

        def probe():
            calls["n"] += 1
            return calls["n"] < 3  # healthy twice, then unhealthy once

        h = spawn_sidecar(_cfg([sys.executable, "-c", code], health_probe=probe))
        try:
            assert _wait_until(lambda: h.stats.restarts_after_unhealthy >= 1)
            assert _wait_until(
                lambda: len(pidfile.read_text().splitlines()) >= 2
            )
        finally:
            h.shutdown()

    def test_healthy_ticks_reset_breaker(self, tmp_path):
        # long-lived healthy child: consecutive_failures stays 0 even
        # with a tiny max_retries — the breaker only counts CONSECUTIVE
        # failures (sidecar.rs resets on healthy operation)
        code = "import time; time.sleep(60)"
        h = spawn_sidecar(_cfg([sys.executable, "-c", code], max_retries=1))
        try:
            assert _wait_until(lambda: h.stats.spawns == 1)
            time.sleep(0.2)
            assert h.stats.consecutive_failures == 0
            assert h.stats.cooldowns == 0
        finally:
            h.shutdown()

    def test_graceful_shutdown_terminates_child(self):
        code = "import time\nwhile True: time.sleep(0.05)"
        h = spawn_sidecar(_cfg([sys.executable, "-c", code]))
        assert _wait_until(lambda: h.child_pid() is not None)
        pid = h.child_pid()
        h.shutdown()
        # the process must be gone (SIGTERM path; kill as backstop)
        def dead():
            try:
                os.kill(pid, 0)
            except OSError:
                return True
            # zombie reaped by wait() → kill(0) can still succeed only
            # for a live process; poll via /proc state
            try:
                with open(f"/proc/{pid}/stat") as f:
                    return f.read().split()[2] == "Z"
            except OSError:
                return True
        assert _wait_until(dead, timeout=5)
