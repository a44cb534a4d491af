"""Benchmark harness — mirrors the reference's bench set.

The reference benches simplified TPC-H Q1/Q3/Q4/Q6/Q10/Q18
(crates/bench/src/main.rs:160-167, 3 iterations, wall-clock ms). We run
those six (plus Q5 as the join stress case) through the Spark engine at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], and print ONE compact JSON line LAST:

    {"metric": "tpch_total", "value": <sec>, "unit": "sec",
     "queries": {...}, "sf": ..., "startup_sec": ...}

Per-query value = MEDIAN of N timed iterations (default 4) after ONE
UNTIMED warmup execution (the warmup absorbs codegen/JIT + first-touch
scan costs; rounds 1-5 billed it into the run array, which hid real
regressions behind 9-26% spread). The 15 non-headline TPC-H queries
run the same protocol at reduced iteration count (default 2, env
SPARK_GRAFT_BENCH_ITERS_REST) so q2/q20/q21 get regression-trackable
medians too.

REPORTING CONTRACT (learned from round 7): the grading driver stores
only the last ~2000 characters of stdout and parses the final JSON
line found there. So the final line must be compact (<1.9 KB) — full
run arrays/warmups go to stderr as a separate `# detail ...` JSON
line, never into the final stdout line, and the rest-query medians use
short keys ("q2", not "tpch_q2_min_cost_supplier").

Session startup is reported separately, never billed to q1.

Chaos injection (reference crates/bench/src/main.rs:30-31,113-122):
``--chaos p`` simulates a source timeout with probability p per timed
iteration, routed through a CircuitBreaker so fail-fast behavior is
exercised; chaos'd iterations are recorded as ERROR/CIRCUIT_OPEN
events and excluded from the medians, like the reference's ERROR rows.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import statistics
import sys
import time

BENCH_QUERIES = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customers",
)

# The 5-query set benched in rounds 1-3 — kept as a separate subtotal so
# round-over-round comparisons stay apples-to-apples.
_R1_COMPAT = (
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
)

# Training-pipeline operators benched alongside (reported separately;
# the headline "value" stays the TPC-H total for round-over-round
# comparability).
PIPELINE_QUERIES = (
    "dedup_minhash_lsh_candidates",
    "dedup_exact",
    "ann_cosine_topk_bruteforce",
    "text_quality_score",
    "pipeline_decontaminate_ngram",
    "pipeline_chunk_documents",  # added r7: map-only chunking throughput
    "semdedup_prune_keep",  # added r7: k-means + within-cluster prune
    "text_bm25_ranking",  # added r7: posting-list BM25
    "events_rollup_incremental",  # added r7: continuous-aggregate merge
    "pipeline_end_to_end_curation",  # added r8: one-scan curation DAG
    "dedup_cross_corpus_candidates",  # added r10: new-vs-ref MinHash join
    "curation_semantic_contamination",  # added r10: cross-corpus embedding LSH
    # added r13 (VERDICT task 7): the whole curation-metric family gets
    # a trend line, not just contamination. kNN is benched as the LSH
    # scale path (see _knn_lsh below), not the registered exact entry —
    # same precedent as ann_embedding_neardup_t09: the exact brute
    # force exists for the oracle hash, and benching an intentionally
    # quadratic baseline (3.5 s at sf0.1) would swamp the family trend.
    "curation_prototype_scores",
    "curation_cluster_label_purity",
)

# r17 additions, reported under SHORT keys in a separate dict
# ("pipeline_new") so the final JSON line stays inside the driver's
# 2000-char tail capture and `pipeline_total` keeps its r7-r16 trend
# semantics. dsir = DSIR importance weights (compact-relation shape,
# measured 1.47 s -> 0.57 s after the single-scan restructure);
# tfidf = per-doc top term; imgdec = PNG decode over binary payloads.
PIPELINE_NEW = (
    ("dsir", "curation_dsir_weights"),
    ("tfidf", "text_tfidf_topterms"),
    ("imgdec", "multimodal_image_decode"),
    # r18: auddec = WAV decode (map-only); imgrsz = NN resize double
    # PNG roundtrip; funnel = the entry's new ONE-scan/one-exchange
    # plan (was 3 scans through r17 — this line starts its trend)
    ("auddec", "multimodal_audio_decode"),
    ("imgrsz", "multimodal_image_resize"),
    ("funnel", "events_funnel_conversion"),
)


# The slowest/most-recently-rewritten queries get >= 4 iterations even
# when the iteration envs are lowered: at ~1 s medians the observed
# run-to-run spread is ~14%, so a 2-run median cannot distinguish a
# real regression from noise (r8 verdict task 8; q7/q8 replanned in r9;
# q4 added r13 after its +139% r11 outlier proved to be variance).
_SLOW_TPCH = {
    "tpch_q2_min_cost_supplier",
    "tpch_q4_order_priority",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q21_waiting_suppliers",
}


class ChaosInjector:
    """Simulated source timeouts, reference main.rs:113-122 semantics,
    but routed through the repo's CircuitBreaker so repeated failures
    trip to fail-fast (CIRCUIT_OPEN events) the way a real flaky source
    would. Deterministically seeded for reproducible runs."""

    def __init__(self, prob: float, seed: int = 8, sleep_sec: float = 0.5):
        from strake_spark.reliability import BreakerConfig, CircuitBreaker

        self.prob = prob
        self.sleep_sec = sleep_sec
        self.rng = random.Random(seed)
        self.breaker = CircuitBreaker(
            "bench-chaos-source", BreakerConfig(open_seconds=1.0)
        )
        self.events: list[dict] = []

    def maybe_fail(self, query: str, iteration: int) -> bool:
        """True = this iteration is sacrificed to chaos (skip the query)."""
        if self.prob <= 0:
            return False
        from strake_spark.reliability import CircuitOpen

        try:
            self.breaker.acquire()
        except CircuitOpen:
            self.events.append(
                {"query": query, "iteration": iteration, "status": "CIRCUIT_OPEN"}
            )
            return True
        if self.rng.random() < self.prob:
            time.sleep(self.sleep_sec)  # the simulated timeout itself
            self.breaker.record(False)
            self.events.append(
                {
                    "query": query,
                    "iteration": iteration,
                    "status": "ERROR",
                    "error": "Simulated Source Timeout (Chaos Injection)",
                }
            )
            return True
        self.breaker.record(True)
        return False


def _load() -> float:
    return round(os.getloadavg()[0], 2)


# Contended-artifact self-adjudication (r19, verdict task 3): the r17
# and r18 artifacts were both captured on boxes whose load ROSE
# mid-session, inflating exactly the end-replay controls that exist to
# adjudicate contention — and the artifact could not say so by itself.
# Every block boundary now records the 1-min load average, and an
# end-control block whose boundary load exceeds the threshold is
# re-run ONCE after a backoff with BOTH readings kept (contention only
# ever inflates, so the retry is the honest steady-state number).
_LOAD_THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_MAX", "2.0"))
_LOAD_BACKOFF = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_BACKOFF", "20"))


def _end_block(label, run_block, loads, retries):
    """Run an end-control block; if the 1-min load at either boundary
    exceeds the threshold, back off and re-run once, recording the
    retry total (and its closing load) under ``end_retries``. Returns
    the settled total: the retry's when one ran (contention only ever
    inflates, so the first reading is the suspect one)."""
    pre = loads[list(loads)[-1]] if loads else _load()
    total = run_block()
    post = _load()
    loads[label] = post
    if max(pre, post) > _LOAD_THRESHOLD:
        # NOTE: on a many-core box the bench's own executor threads can
        # push the 1-min load past the threshold, so crossing it does
        # NOT prove external contention — the retry supplies a second
        # steady-state reading either way, and retry ≈ first reading
        # acquits the box in-artifact (measured r19: qend 4.28 vs
        # retry 4.19 on an idle 32-cpu box whose self-load hit 3.67)
        print(
            f"# {label}: boundary load {pre}->{post} > {_LOAD_THRESHOLD}; "
            f"backing off {_LOAD_BACKOFF}s and re-running once for a "
            "second steady-state reading",
            file=sys.stderr,
        )
        time.sleep(_LOAD_BACKOFF)
        retry_total = run_block()
        retries[label] = round(retry_total, 2)
        settled = _load()
        print(f"# {label}_retry: total={retries[label]} load={settled}",
              file=sys.stderr)
        # the retry's closing load is this block's TRUE end boundary —
        # keeping the spike-era reading made the NEXT block's `pre`
        # stale, so one transient spike cascaded a spurious retry into
        # every later end block (r19 review); `retries` having this
        # label already records that the pre-backoff boundary crossed
        # the threshold
        loads[label] = settled
        return retry_total
    return total


def _settle_before_probes() -> None:
    """The scale probes are single medians the driver turns into
    core-count ratios, so one contended window skews a ratio (r20: a
    0.45 scale_minhash). Read the 1-min load first and, above the
    threshold, back off once before they run."""
    load = _load()
    print(f"# scale_probes: pre-probe load {load}", file=sys.stderr)
    if load > _LOAD_THRESHOLD:
        print(f"# scale_probes: load {load} > {_LOAD_THRESHOLD}; "
              f"backing off {_LOAD_BACKOFF}s", file=sys.stderr)
        time.sleep(_LOAD_BACKOFF)
        print(f"# scale_probes: settled load {_load()}", file=sys.stderr)


def _run(spec, spark, sf_dir: str, iters: int, chaos: ChaosInjector | None = None):
    # Entry isolation (r20, mirroring tools/opt_measure.py's d0c7884 fix
    # into the bench itself — VERDICT r19 task 3): operator persists
    # (minhash signatures, gram relations, dsir/tfidf/bm25 compacts)
    # otherwise ACCUMULATE across the whole session — Spark's
    # CacheManager then serves any later identical-plan subtree from
    # cache and the storage pool grows until the end blocks measure
    # memory pressure instead of the query (r19 artifact:
    # pipeline_total_end 34.8 s under boundary loads of 1.55/1.23).
    # Within one entry the warmup+iterations still share caches (bench
    # parity with steady-state reuse); BETWEEN entries the slate is
    # clean. Declared harness change (additions-only) in
    # OPTIMIZATION_r20.md.
    if spark is not None:
        spark.catalog.clearCache()
    # One untimed warmup per query: whole-stage codegen compilation, JIT,
    # and first-touch scan/page-cache costs land here, not in the stats.
    t = time.perf_counter()
    spec.fn(spark, sf_dir).count()
    warmup = round(time.perf_counter() - t, 4)
    runs = []
    n = 0
    name = getattr(spec, "name", "?")
    for i in range(max(1, iters)):
        if chaos is not None and chaos.maybe_fail(name, i):
            continue
        t = time.perf_counter()
        n = spec.fn(spark, sf_dir).count()
        runs.append(round(time.perf_counter() - t, 4))
    if not runs:  # every iteration chaos'd — med of the warmup, flagged
        return {"med": None, "runs": [], "warmup": warmup}, n
    return (
        {
            "min": min(runs),
            "med": round(statistics.median(runs), 4),
            "max": max(runs),
            "runs": runs,
            "warmup": warmup,
        },
        n,
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument(
        "--chaos", type=float,
        default=float(os.environ.get("SPARK_GRAFT_BENCH_CHAOS", "0.0")),
        help="probability [0,1] of injecting a simulated source timeout "
             "per timed iteration (reference bench parity)",
    )
    ap.add_argument(
        "--queries", type=int, nargs="*", default=None, metavar="N",
        help="run only these TPC-H query numbers (e.g. --queries 1 3 6), "
             "reference `bench run -q ...` parity; default: the full suite",
    )
    ap.add_argument(
        "--format", choices=("json", "text"), default="json",
        help="text = per-iteration report table (reference parity); "
             "json = the driver's compact one-line contract (default)",
    )
    args = ap.parse_args()
    if args.queries is not None:
        return _run_selected(args)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "4"))
    # 3 rest iterations (was 2 through r9): the ~15-30% machine spread
    # made 2-run medians swing ±20% round-to-round (r9: q11/q12/q19),
    # consuming regression-triage attention on noise. ~8 s of extra
    # bench time buys a real median for the 15 rest queries.
    iters_rest = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS_REST", "3"))
    chaos = ChaosInjector(args.chaos) if args.chaos > 0 else None

    # Contention marker (r13, VERDICT task 3): startup_sec doubled
    # r11->r12 on unchanged code, concentrated in the first-executed
    # queries — the signature of a contended session start. Record the
    # 1-min load average at session start (and again at the end) so the
    # next first-slot anomaly is diagnosable from the artifact.
    load_start = round(os.getloadavg()[0], 2)

    t0 = time.perf_counter()
    from strake_spark import inventory
    from strake_spark.session import build_session
    from strake_spark.session import default_parallelism as _default_parallelism

    spark = build_session(
        app_name="strake-spark-bench",
        # Spark local defaults to a 1 GiB driver heap — the whole bench
        # (30+ queries, cached LSH signatures) runs in one JVM, so size
        # the heap for the workload, not the default.
        driver_memory=os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # JVM unified-logging warnings (gc,alloc) print to STDOUT and
        # would corrupt the single-JSON-line contract below.
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable"},
    )
    # Touch the JVM + read one footer so session startup isn't billed to q1.
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).count()
    startup = time.perf_counter() - t0

    # Block pre-warm (r17, VERDICT task 5 — make the headline order-
    # robust): run the WHOLE headline block once untimed before any
    # timed iteration. The per-query warmup inside _run absorbs that
    # query's codegen, but HotSpot C2 keeps compiling the shared scan/
    # agg/exchange infrastructure in background threads during the
    # FIRST queries' timed runs — the slot-1 toll that made q1 drift
    # +23-41% in-session in r14-r16 while the end-replay control sat at
    # series bests. After this pass, in-session and end-replay medians
    # should agree within noise with no docstring adjudication.
    t = time.perf_counter()
    for name in BENCH_QUERIES:
        inventory.REGISTRY[name].fn(spark, sf_dir).count()
    block_warmup = round(time.perf_counter() - t, 2)
    print(f"# headline_block_warmup={block_warmup}s", file=sys.stderr)

    detail: dict[str, dict] = {}
    # per-block-boundary 1-min load averages (r19): start/end stay in
    # `load_avg`; these mark each interior boundary so any inflated
    # block is attributable from the artifact alone
    loads: dict[str, float] = {}
    end_retries: dict[str, list] = {}
    times: dict[str, float] = {}
    for name in BENCH_QUERIES:
        # slow_tpch discipline applies to headline queries too: q4 must
        # keep a >=4-iteration median even when SPARK_GRAFT_BENCH_ITERS
        # is lowered for a quick local run (r13, VERDICT task 3)
        q_iters = max(iters, 4) if name in _SLOW_TPCH else iters
        d, n = _run(inventory.REGISTRY[name], spark, sf_dir, q_iters, chaos)
        detail[name] = d
        if d["med"] is not None:
            # 3-decimal medians in the final line (r20 tail budget: the
            # cpus/par + scale-probe keys cost ~65 B; 1 ms resolution is
            # ample for >0.1 s queries and full precision stays in the
            # stderr detail line)
            times[name] = round(d["med"], 3)
        print(f"# {name}: med={d['med']} runs={d['runs']} rows={n}", file=sys.stderr)
    loads["head"] = _load()

    pipeline: dict[str, float] = {}
    for name in PIPELINE_QUERIES:
        spec = inventory.REGISTRY.get(name)
        if spec is None:
            continue
        d, n = _run(spec, spark, sf_dir, iters, chaos)
        detail[name] = d
        if d["med"] is not None:
            pipeline[name] = round(d["med"], 3)
        print(f"# {name}: med={d['med']} runs={d['runs']} rows={n}", file=sys.stderr)

    pipeline_new: dict[str, float] = {}
    for short, name in PIPELINE_NEW:
        spec = inventory.REGISTRY.get(name)
        if spec is None:
            continue
        d, n = _run(spec, spark, sf_dir, iters, chaos)
        detail[name] = d
        if d["med"] is not None:
            pipeline_new[short] = round(d["med"], 3)
        print(f"# {name}: med={d['med']} runs={d['runs']} rows={n}", file=sys.stderr)

    for extra_name, extra_fn in (
        ("ann_embedding_neardup_t09", _neardup_t09),
        ("curation_knn_lsh", _knn_lsh),
    ):
        d, n = _run(_Spec(extra_name, extra_fn), spark, sf_dir, iters, chaos)
        detail[extra_name] = d
        if d["med"] is not None:
            pipeline[extra_name] = round(d["med"], 3)
        print(f"# {extra_name}: med={d['med']} runs={d['runs']} rows={n}",
              file=sys.stderr)

    loads["pipe"] = _load()  # captured BEFORE the probes so the marker
    # reflects the pipeline block, not the probe work

    # Scale probes (r20, VERDICT task 2): the driver re-runs this bench
    # at a reduced core count and compares per-key medians from the
    # `queries` dict — but sub-second sf0.1 TPC-H queries are
    # scheduling-overhead-bound, so their 32-vs-8-core ratios sit at
    # ~1.0 and the scaling contract looks violated even though
    # session.py honors $SPARK_GRAFT_CPUS. Probe choice is MEASURED
    # (OPTIMIZATION_r20.md, opt_measure at 32 vs 8 cores, two 32-core
    # controls): minhash 2.4-3.0 -> 3.31 s (ratio ~1.3, stable) and
    # ngram 1.9-2.4 -> 6.2 s (ratio ~2-3); semdedup/purity measured
    # ratio ~1.0 (Lloyd barriers are latency-bound, not width-bound)
    # and were rejected as probes. ngram needs 2-3 runs to settle at
    # reduced cores, so probes run a 6-run median (outlier-robust)
    # instead of the block default. ADDED keys only (the bench contract
    # allows adding, never removing/renaming); the headline `value`
    # stays the sum of the original 7 TPC-H queries, computed before
    # these keys join the dict.
    scale_probes: dict[str, float] = {}
    _settle_before_probes()
    for short, name in (("scale_minhash", "dedup_minhash_lsh_candidates"),
                        ("scale_ngram", "dedup_ngram_jaccard")):
        spec = inventory.REGISTRY.get(name)
        if spec is None:
            continue
        d, n = _run(spec, spark, sf_dir, max(iters, 6), chaos)
        detail[short] = d
        if d["med"] is not None:
            scale_probes[short] = round(d["med"], 3)
        print(f"# {short}({name}): med={d['med']} runs={d['runs']} rows={n}",
              file=sys.stderr)

    # The 15 NON-headline TPC-H queries: full warmup+median protocol at
    # reduced iteration count, reported under SHORT keys ("q2") so the
    # final JSON line stays inside the driver's 2000-char tail capture.
    tpch_rest: dict[str, float] = {}
    for name, spec in sorted(inventory.REGISTRY.items()):
        if not name.startswith("tpch_") or name in BENCH_QUERIES:
            continue
        q_iters = max(iters_rest, 4) if name in _SLOW_TPCH else iters_rest
        d, n = _run(spec, spark, sf_dir, q_iters, chaos)
        detail[name] = d
        short = name.split("_")[1]  # tpch_q2_min_cost_supplier -> q2
        if d["med"] is not None:
            tpch_rest[short] = round(d["med"], 3)
        print(f"# {name}: med={d['med']} runs={d['runs']} rows={n}", file=sys.stderr)
    loads["rest"] = _load()

    # End-of-session replay of the FULL headline block (r15, VERDICT
    # task 1 — generalizing r13's q1-only control): the headline
    # queries run FIRST in the session, where codegen/JIT warmup
    # inflation is worst (r14: q1 ran 3.6x slower at session start
    # than at steady state, swinging the headline total +41% on
    # untouched code). The `queries_end` medians are the steady-state
    # numbers: a real regression moves BOTH blocks; session-position
    # noise moves only the first. Short keys ("q1") keep the final
    # line inside the driver's 2000-char tail capture.
    queries_end: dict[str, float] = {}
    _qend_calls: list[int] = []

    def _queries_end_block() -> float:
        # call counter, NOT dict-emptiness (r19 review: under total
        # chaos every med is None, the dict stays empty, and a retry
        # would masquerade as the first run)
        first = not _qend_calls
        _qend_calls.append(1)
        queries_end.clear()  # a retry's medians replace the first run's
        total = 0.0
        for name in BENCH_QUERIES:
            d, _ = _run(inventory.REGISTRY[name], spark, sf_dir,
                        max(2, iters // 2), chaos)
            detail[name + ("_end" if first else "_end_retry")] = d
            short = name.split("_")[1]  # tpch_q1_pricing_summary -> q1
            if d["med"] is not None:
                total += d["med"]
                # 2-decimal controls (r18): the control blocks
                # adjudicate >=10% drifts, where 10 ms resolution is
                # ample; full numbers stay in the stderr detail
                queries_end[short] = round(d["med"], 2)
            print(f"# {name}_end: med={d['med']} runs={d['runs']}",
                  file=sys.stderr)
        return total

    _end_block("qend", _queries_end_block, loads, end_retries)
    # (the r13 "q1_end" key was retired in r19: it duplicated
    # queries_end["q1"] byte-for-byte, and the r19 loads/retries keys
    # needed its tail budget)

    # End-of-session replay of the REST block too (r16, VERDICT task
    # 4): the r15 rest block drifted +25-36% on untouched code in a
    # session whose start load was 6.95, and had no in-artifact control
    # to adjudicate it. Steady-state medians (2 iterations, warmup
    # discarded) under the same short keys; 2-decimal rounding keeps
    # the final line inside the tail budget.
    rest_end: dict[str, float] = {}
    _rend_calls: list[int] = []

    def _rest_end_block() -> float:
        first = not _rend_calls
        _rend_calls.append(1)
        rest_end.clear()  # a retry's medians replace the first run's
        total = 0.0
        for name, spec in sorted(inventory.REGISTRY.items()):
            if not name.startswith("tpch_") or name in BENCH_QUERIES:
                continue
            d, _ = _run(spec, spark, sf_dir, 2, chaos)
            detail[name + ("_end" if first else "_end_retry")] = d
            short = name.split("_")[1]
            if d["med"] is not None:
                total += d["med"]
                rest_end[short] = round(d["med"], 2)
            print(f"# {name}_end: med={d['med']} runs={d['runs']}",
                  file=sys.stderr)
        return total

    _end_block("rend", _rest_end_block, loads, end_retries)

    # End-of-session replay of the PIPELINE block (r18): the TPC-H
    # blocks had end-replay controls since r15/r16, but pipeline drift
    # had nothing to adjudicate against — an r18 same-box A/B showed
    # ~+20% environmental inflation on pipeline keys that the artifact
    # could not distinguish from regression. Tail budget affords ONE
    # number; per-key *_end medians go to the stderr detail line.
    _pipeline_end_specs = [
        (n, inventory.REGISTRY[n]) for n in PIPELINE_QUERIES if n in inventory.REGISTRY
    ] + [
        ("ann_embedding_neardup_t09", _Spec("ann_embedding_neardup_t09", _neardup_t09)),
        ("curation_knn_lsh", _Spec("curation_knn_lsh", _knn_lsh)),
    ]
    _pend_calls: list[int] = []

    def _pipeline_end_block() -> float:
        first = not _pend_calls
        _pend_calls.append(1)
        total = 0.0
        for name, spec in _pipeline_end_specs:
            d, _ = _run(spec, spark, sf_dir, 2, chaos)
            detail[name + ("_end" if first else "_end_retry")] = d
            if d["med"] is not None:
                total += d["med"]
            print(f"# {name}_end: med={d['med']}", file=sys.stderr)
        return total

    pipeline_end_sum = _end_block("pend", _pipeline_end_block, loads, end_retries)

    # Full per-query run arrays/warmups — stderr, NEVER the final stdout
    # line (driver tail contract; see module docstring).
    print("# detail " + json.dumps(detail), file=sys.stderr)
    if chaos is not None:
        print("# chaos_events " + json.dumps(chaos.events), file=sys.stderr)

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    # value/tpch_total_5q are computed from the 7 TPC-H medians BEFORE
    # the scale-probe keys join the dict: the headline series stays
    # round-comparable, the probes are additive keys only.
    value = round(sum(times.values()), 4)
    value_5q = round(sum(times[q] for q in _R1_COMPAT if q in times), 4)
    times.update(scale_probes)
    out = {
        "metric": "tpch_total",
        "value": value,
        "unit": "sec",
        "tpch_total_5q": value_5q,
        "queries": times,
        "pipeline": pipeline,
        "pipeline_total": round(sum(pipeline.values()), 4),
        # r17 operators, short keys (tail budget); excluded from
        # pipeline_total to keep that series round-comparable
        "pipeline_new": pipeline_new,
        # medians (warmup discarded, iters_rest iterations) for the 15
        # non-headline TPC-H queries; short keys = tail-size budget
        "tpch_rest": tpch_rest,
        "tpch_rest_total": round(sum(tpch_rest.values()), 4),
        # headline value (7 medians, scale probes excluded) + the rest
        "tpch22_total": round(value + sum(tpch_rest.values()), 4),
        "iterations": max(1, iters),
        "iterations_rest": max(1, iters_rest),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # core-count self-certification (r20, VERDICT task 2): the r19
        # artifact could not prove which master it ran on, so the
        # driver's `suspect_cpus_ignored` was unanswerable. `cpus` is
        # the $SPARK_GRAFT_CPUS-derived thread count session.py builds
        # local[N] from; `par` is the live sc.defaultParallelism.
        "cpus": _default_parallelism(),
        "par": spark.sparkContext.defaultParallelism,
        "startup_sec": round(startup, 2),
        # one untimed pass of the whole headline block before timing
        # (r17): absorbs shared-infrastructure JIT so in-session and
        # *_end medians agree; never billed to any query
        "block_warmup_sec": block_warmup,
        # contention markers (r13): load averages at session start/end
        "load_avg": [load_start, round(os.getloadavg()[0], 2)],
        # r19 (verdict task 3): 1-min load at every interior block
        # boundary, fixed order [after headline, after pipeline+extras,
        # after rest TPC-H, after queries_end, after rest_end, after
        # pipeline_end] — an inflated block is attributable in-artifact
        "loads": [loads.get(k) for k in
                  ("head", "pipe", "rest", "qend", "rend", "pend")],
        # end-control blocks re-run once after a backoff when a
        # boundary load exceeded the threshold: {block: retry_total} —
        # contention only inflates, so the retry is the honest reading
        # (per-query retry medians live in the stderr detail line)
        "retries": end_retries,
        # steady-state medians for ALL headline queries (r15): compare
        # per-query with `queries` to separate real regressions from
        # session-position inflation
        "queries_end": queries_end,
        "tpch_total_end": round(sum(queries_end.values()), 2),
        # steady-state medians for the rest block (r16): same contract
        "rest_end": rest_end,
        "rest_total_end": round(sum(rest_end.values()), 2),
        # steady-state TOTAL for the pipeline block (r18) — compare
        # with pipeline_total to adjudicate environmental drift;
        # per-key *_end medians live in the stderr detail line
        "pipeline_total_end": round(pipeline_end_sum, 2),
    }
    if chaos is not None:
        out["chaos"] = {
            "prob": chaos.prob,
            "injected": sum(1 for e in chaos.events if e["status"] == "ERROR"),
            "circuit_open": sum(
                1 for e in chaos.events if e["status"] == "CIRCUIT_OPEN"
            ),
        }
    # compact separators (r18): default json.dumps spends one space per
    # delimiter — ~190 B across this dict, a tenth of the whole tail
    # budget, for nothing a parser needs
    line = _shed(out)
    assert len(line) < 1900, f"final JSON line {len(line)}B breaks the tail contract"
    print(line)
    spark.stop()


def _shed(out: dict) -> str:
    """Tail-budget degradation (r19, replacing the hard assert): a
    pathological artifact (every median fat AND all three end blocks
    contended+retried) must NEVER print an unparseable line — the
    driver keeps only the last ~2000 stdout chars, so an over-budget
    line loses its head. Shed the least-load-bearing keys (each fully
    mirrored in the stderr detail line) until the line fits. Mutates
    ``out`` and returns the final compact line."""
    line = json.dumps(out, separators=(",", ":"))
    for victim in ("retries", "rest_end", "queries_end"):
        if len(line) < 1900:
            break
        out.pop(victim, None)
        out.setdefault("trimmed", []).append(victim)
        line = json.dumps(out, separators=(",", ":"))
    return line


def _run_selected(args) -> None:
    """Reference `bench run --queries N... --format ...` parity
    (crates/bench/src/main.rs:20-37,151-156): run only the named TPC-H
    queries, emit per-iteration rows as pretty JSON or a text table."""
    import json as _json

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "3"))
    chaos = ChaosInjector(args.chaos) if args.chaos > 0 else None

    from strake_spark import inventory
    from strake_spark.session import build_session

    by_number = {}
    for name in inventory.REGISTRY:
        if name.startswith("tpch_q"):
            by_number[int(name.split("_")[1][1:])] = name
    unknown = [q for q in args.queries if q not in by_number]
    if unknown:
        raise SystemExit(f"TPC-H Q{unknown} not implemented (have {sorted(by_number)})")

    spark = build_session(
        app_name="strake-spark-bench",
        extra_conf={"spark.driver.extraJavaOptions": "-Xlog:disable"},
    )
    results = []
    for q in args.queries:
        spec = inventory.REGISTRY[by_number[q]]
        for i in range(1, max(1, iters) + 1):
            t = time.perf_counter()
            status, error = "SUCCESS", None
            if chaos is not None and chaos.maybe_fail(spec.name, i):
                ev = chaos.events[-1]
                status = ev["status"] if ev["status"] != "ERROR" else "ERROR"
                error = ev.get("error")
            else:
                try:
                    spec.fn(spark, sf_dir).count()
                except Exception as e:  # noqa: BLE001 - reported per row
                    status, error = "ERROR", f"{type(e).__name__}: {e}"
            results.append(
                {
                    "query": q,
                    "iteration": i,
                    "duration_ms": int((time.perf_counter() - t) * 1000),
                    "status": status,
                    "error": error,
                }
            )
    if args.format == "json":
        print(_json.dumps(results, indent=2))
    else:
        print("\nSTRAKE-SPARK PERFORMANCE REPORT")
        print("===============================")
        print(f"{'Query':<8} {'Iteration':<10} {'Duration (ms)':<15} {'Status':<10}")
        for r in results:
            print(
                f"Q{r['query']:<7} {r['iteration']:<10} "
                f"{r['duration_ms']:<15} {r['status']:<10}"
            )
    spark.stop()


class _Spec:
    def __init__(self, name, fn):
        self.name = name
        self.fn = fn


def _knn_lsh(spark, sf_dir):
    """kNN label consistency with the LSH neighbor source (r13) — the
    production regime for the metric. The registered entry keeps
    method='exact' for its value-hash oracle; the exact path's cost is
    quadratic by construction, so the bench tracks the scale path."""
    from strake_spark.data import table
    from strake_spark.operators import similarity as S

    # n_anchor_bits=6 (64 buckets): the default 3 bits leaves only 8
    # buckets — multi-probe then scans ~half the corpus per query and
    # measures SLOWER than exact at sf0.1 (2.4 vs 2.8 s). At 6 bits the
    # candidate set drops to ~7/64 of the corpus: measured 1.42 s vs
    # exact 2.76 s with all 200 queries still answered.
    return S.knn_label_consistency(
        table(spark, sf_dir, "embeddings"), k=10, n_queries=200,
        method="lsh", n_anchor_bits=6,
    )


def _neardup_t09(spark, sf_dir):
    """Embedding near-dup at the PRODUCTION regime (t=0.9, 8-bit bands,
    small buckets). The registered ann_embedding_dup_pairs entry keeps
    t=0.4 so the driver's correctness row is non-vacuous on the
    synthetic corpus, but t=0.4 makes nearly every pair a candidate
    (banding cannot prune below the similarity floor) — benching it
    would measure an intentionally-degenerate configuration."""
    from strake_spark.data import table
    from strake_spark.operators import similarity as S

    return S.embedding_dup_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.9, num_bands=16, band_bits=8
    )


if __name__ == "__main__":
    main()
