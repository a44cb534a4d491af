"""Bench harness contracts: chaos injection (reference
crates/bench/src/main.rs:30-31,113-122 parity) and the reporting-tail
invariant the grading driver depends on."""

from __future__ import annotations

import json

import pytest

from bench import BENCH_QUERIES, PIPELINE_QUERIES, ChaosInjector


class TestChaosInjector:
    def test_injects_and_trips_breaker(self):
        ch = ChaosInjector(prob=1.0, sleep_sec=0.0)
        results = [ch.maybe_fail("q1", i) for i in range(10)]
        assert all(results)  # every iteration sacrificed at p=1
        statuses = {e["status"] for e in ch.events}
        # first failures are ERROR; once the breaker window trips, the
        # remainder fail fast as CIRCUIT_OPEN without sleeping
        assert statuses == {"ERROR", "CIRCUIT_OPEN"}
        assert any(
            e.get("error") == "Simulated Source Timeout (Chaos Injection)"
            for e in ch.events
        )
        assert ch.breaker.state == "open"

    def test_zero_prob_never_fires(self):
        ch = ChaosInjector(prob=0.0)
        assert not ch.maybe_fail("q1", 0)
        assert ch.events == []

    def test_deterministic_seed(self):
        a = ChaosInjector(prob=0.5, seed=1, sleep_sec=0.0)
        b = ChaosInjector(prob=0.5, seed=1, sleep_sec=0.0)
        assert [a.maybe_fail("q", i) for i in range(20)] == [
            b.maybe_fail("q", i) for i in range(20)
        ]

    def test_survivor_runs_still_produce_medians(self):
        # _run must compute stats over only the non-chaos'd iterations
        import bench

        class _FakeDF:
            def count(self):
                return 7

        class _FakeSpec:
            name = "fake"

            def fn(self, spark, sf_dir):
                return _FakeDF()

        ch = ChaosInjector(prob=1.0, sleep_sec=0.0)
        d, n = bench._run(_FakeSpec(), None, "x", iters=3, chaos=ch)
        assert d["med"] is None and d["runs"] == []  # all chaos'd
        d, n = bench._run(_FakeSpec(), None, "x", iters=3, chaos=None)
        assert d["med"] is not None and len(d["runs"]) == 3 and n == 7


class TestEndBlockRetry:
    def test_retry_settles_the_boundary_for_the_next_block(self, monkeypatch):
        """r19 review: a retried block must store its POST-retry load —
        keeping the spike-era reading made the next block's `pre` stale,
        so one transient spike cascaded spurious retries through every
        later end block."""
        import bench

        monkeypatch.setattr(bench, "_LOAD_BACKOFF", 0.0)
        readings = iter([1.2, 0.5, 0.4])  # qend post, qend settled, rend post
        monkeypatch.setattr(bench, "_load", lambda: next(readings))
        loads = {"rest": 5.0}  # spike at the previous block's boundary
        retries: dict[str, float] = {}
        bench._end_block("qend", lambda: 1.0, loads, retries)
        assert "qend" in retries  # pre=5.0 crossed the threshold
        assert loads["qend"] == 0.5  # settled, not the 1.2 spike-era post
        bench._end_block("rend", lambda: 1.0, loads, retries)
        assert "rend" not in retries  # pre=0.5, post=0.4: no cascade
        assert loads["rend"] == 0.4

    @pytest.mark.parametrize("load, shipped", [(3.0, 15.73), (1.0, 35.38)])
    def test_a_retried_block_ships_the_retry_total(self, monkeypatch, load, shipped):
        """r20: `pipeline_total_end` shipped the contended 35.38 although
        the retry had settled at 15.73. Without a retry the one reading
        ships."""
        import bench

        monkeypatch.setattr(bench, "_LOAD_THRESHOLD", 2.0)
        monkeypatch.setattr(bench, "_LOAD_BACKOFF", 0.0)
        monkeypatch.setattr(bench, "_load", lambda: load)
        totals = iter([35.38, 15.73])
        retries: dict[str, float] = {}
        assert bench._end_block("pend", lambda: next(totals), {}, retries) == shipped
        assert retries == ({"pend": 15.73} if load > 2.0 else {})


class TestProbeBackoff:
    @pytest.mark.parametrize("load, sleeps", [(2.5, [7.0]), (1.5, [])])
    def test_probes_back_off_once_above_the_threshold(
        self, monkeypatch, capsys, load, sleeps
    ):
        import bench

        monkeypatch.setattr(bench, "_LOAD_THRESHOLD", 2.0)
        monkeypatch.setattr(bench, "_LOAD_BACKOFF", 7.0)
        monkeypatch.setattr(bench, "_load", lambda: load)
        slept: list[float] = []
        monkeypatch.setattr(bench.time, "sleep", slept.append)
        bench._settle_before_probes()
        assert slept == sleeps
        err = capsys.readouterr()
        assert f"pre-probe load {load}" in err.err and err.out == ""
        assert ("backing off" in err.err) is bool(sleeps)


class TestTailContract:
    @staticmethod
    def _model_out(med: float):
        """main()'s out dict key-for-key (r20 shape: 3-decimal
        in-session medians, cpus/par echo, scale-probe keys), every
        median at the given digit width, ALL THREE end-control blocks
        retried."""
        med = round(med, 3)  # r20: in-session medians ship at 3 decimals
        from bench import PIPELINE_NEW

        queries = {q: med for q in BENCH_QUERIES}
        # r20: scale-probe keys ride in `queries` (additive, never in
        # `value`); cpus/par self-certify the core count
        queries["scale_minhash"] = med
        queries["scale_ngram"] = med
        pipeline = {q: med for q in PIPELINE_QUERIES}
        pipeline["ann_embedding_neardup_t09"] = med
        pipeline["curation_knn_lsh"] = med
        rest = {f"q{i}": med for i in (2, 7, 8, 9, 11, 12, 13, 14, 15, 16, 17, 19, 20, 21, 22)}
        return {
            "metric": "tpch_total", "value": 86.4192, "unit": "sec",
            "tpch_total_5q": 61.728, "queries": queries,
            "pipeline": pipeline, "pipeline_total": 123.4567,
            "pipeline_new": {short: round(med, 3) for short, _ in PIPELINE_NEW},
            "tpch_rest": rest, "tpch_rest_total": 185.1845,
            "tpch22_total": 271.6032, "iterations": 4,
            "iterations_rest": 2,
            "sf": 0.1, "cpus": 32, "par": 32,
            "startup_sec": 10.15, "block_warmup_sec": 11.26,
            "load_avg": [12.34, 12.34],
            # r19: interior boundary loads + worst case of ALL THREE
            # end-control blocks contended and re-run
            "loads": [12.34] * 6,
            "retries": {k: 123.46 for k in ("qend", "rend", "pend")},
            # r15: end-of-session replay of the full headline block
            "queries_end": {f"q{i}": 12.34 for i in (1, 3, 4, 5, 6, 10, 18)},
            "tpch_total_end": 86.42,
            "rest_end": {k: 12.34 for k in rest},
            "rest_total_end": 185.18,
            "pipeline_total_end": 123.46,
            "chaos": {"prob": 0.25, "injected": 9, "circuit_open": 3},
        }

    def test_final_json_line_fits_driver_tail(self):
        """The driver keeps the last ~2000 chars of stdout and parses
        the final JSON line found there (round-7 lesson: a fat line
        loses the headline medians). Realistic-worst shape — every
        median one digit wider than anything measured since r7
        (<10 s), chaos on, all three end blocks retried — must fit
        with NO trimming."""
        out = self._model_out(9.9999)
        assert len(json.dumps(out, separators=(",", ":"))) < 1900

    def test_pathological_line_degrades_parseably(self):
        """Beyond-realistic shape (3-digit medians everywhere): the
        SHIPPING shed loop (bench._shed — r19 review: the test used to
        run its own copy of the loop) must drop only the keys whose
        content is mirrored in stderr detail, and the surviving line
        must fit and keep every headline/total key."""
        from bench import _shed

        out = self._model_out(123.4567)
        line = _shed(out)
        assert len(line) < 1900
        assert out.get("trimmed")  # the pathological shape DID shed
        back = json.loads(line)
        for key in ("metric", "value", "queries", "pipeline_total",
                    "tpch_total_end", "rest_total_end", "pipeline_total_end",
                    "loads"):
            assert key in back, key
