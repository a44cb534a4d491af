"""Product-path benchmark: SQL text in, Arrow (embedded) or Flight out.

Run from the repository root:

    python3 perfbench/run.py --workload agent_flight --seed 1 --seconds 20 --trace 0

Workloads are defined in ``workloads.py`` and documented in README.md.
Each run builds its seeded fixtures under ``.perfbench_work/`` at the
repository root (removed afterwards), answers the statements the run
will likely ask with DuckDB, starts the engine and its Flight server, and
drives closed-loop clients for ``--seconds``. Afterwards every returned
table is checked against DuckDB (``gate.py``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
window untraced and then traced (``layers.py``) and prints the per-layer
metrics plus the tracing overhead.

The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
A wrong or failed statement is named on stderr and the exit code is 1.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
from collections import Counter
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# new questions per client and template answered by DuckDB at set-up;
# a run that asks more has the rest answered when it is checked
REF_KEYS = 16

E2E_UNITS = {
    "setup_s": "s", "first_query_s": "s", "qps": "1/s", "latency_p50_s": "s",
    "latency_tail_s": "s", "ok_ratio": "ratio", "peak_rss_mb": "MB",
}
LAYER_UNITS = {
    "engine.plan_s": "s",
    "server.plans_per_query": "count",
    "server.wire_s": "s",
    "server.wire_bytes": "bytes",
    "governance.gate_s": "s",
    "governance.policy_s": "s",
    "governance.limits_s": "s",
    "plans.federation_s": "s",
    "plans.rung_s.whole": "s",
    "plans.rung_s.subtree": "s",
    "plans.rung_s.partial": "s",
    "plans.pushdown_ratio": "ratio",
    "sources.remote_rows": "count",
    "reliability.admit_wait_s": "s",
    "reliability.admit_wait_max_s": "s",
    "spark.run_s": "s",
    "spark.shuffle_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.scan_rows": "count",
    "cache.fingerprint_s": "s",
    "cache.get_s": "s",
    "cache.put_s": "s",
    "cache.hit_ratio": "ratio",
    "cache.bytes_written": "bytes",
    "setup.session_s": "s",
    "setup.register_s": "s",
    "setup.server_s": "s",
    "trace.statements": "count",
    "trace.qps_untraced": "1/s",
    "trace.qps_traced": "1/s",
    "trace.overhead_ratio": "ratio",
}
# per-layer metric -> recorder layer whose per-statement inclusive time it reports
LAYER_TIMES = {
    "engine.plan_s": "engine.plan",
    "governance.gate_s": "governance.gate",
    "governance.policy_s": "governance.policy",
    "governance.limits_s": "governance.limits",
    "plans.federation_s": "plans.federation",
    "plans.rung_s.whole": "plans.rung.whole",
    "plans.rung_s.subtree": "plans.rung.subtree",
    "plans.rung_s.partial": "plans.rung.partial",
    "reliability.admit_wait_s": "reliability.admit_wait",
    "spark.run_s": "spark.run",
    "cache.fingerprint_s": "cache.fingerprint",
    "cache.get_s": "cache.get",
    "cache.put_s": "cache.put",
}
LAYER_NOTES = ("spark.shuffle_bytes", "spark.spill_bytes", "spark.scan_rows",
               "sources.remote_rows")


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"# [{time.perf_counter() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def percentile(values: list[float], pct: float) -> float:
    """Linear interpolation between closest ranks."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * pct / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------ processes
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        for c in _children(todo.pop()):
            out.append(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def wait_gone(pids: list[int], timeout: float) -> None:
    import signal

    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in pids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
    for p in pids:
        try:
            os.waitpid(p, os.WNOHANG)
        except OSError:
            pass  # not our child: init reaps it
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_peak_rss() -> None:
    """Start this process's peak-RSS count after fixture building."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        log("cannot reset peak RSS; peak_rss_mb includes fixture building")


CACHE_HIT = "x-strake-cache: hit"  # the engine's per-statement cache-hit warning


@dataclass
class Outcome:
    st: object  # workloads.Statement
    t0: float
    t1: float
    why: str | None  # None when the result matched DuckDB
    scope: object  # layers.Scope of a traced statement, else None
    hit: bool  # served from the result cache
    table: object = None  # the result, until check() compares it

    @property
    def latency(self) -> float:
        return self.t1 - self.t0


# ----------------------------------------------------------------- bench
class Bench:
    def __init__(self, workload, seed: int, seconds: float, work: str) -> None:
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        self.clients = workload.clients(self.cores)
        self.users = workload.users(self.clients)
        self.cache_dir = os.path.join(work, "cache")
        self.data_dir = os.path.join(work, "data")
        self.remote_path = None
        self.templates = workload.templates(seed)
        self.refs: dict = {}  # DuckDB's answer by reference SQL
        self.errors: list[str] = []
        self.setup_parts = (0.0, 0.0, 0.0)  # session, register, server
        # the same template on every seed (q1 on tpch_embedded), run
        # unrestricted so its result is never empty: cold latency differs
        # far more between templates than between seeds
        self.first = self.templates[0].render((0, 0), None)
        self.spark = self.engine = self.server = self.server_thread = None
        self.remotes: list = []

    # ---------------------------------------------------------- fixtures
    def build_fixtures(self) -> None:
        from datagen import build_duckdb_remote, write_tpch
        from workloads import REMOTE_TABLES

        t = time.perf_counter()
        write_tpch(self.data_dir, self.seed)
        if self.wl.remote:
            remote_dir = tempfile.mkdtemp(prefix="remote-", dir=self.work)
            self.remote_path = os.path.join(remote_dir, "remote.duckdb")
            build_duckdb_remote(self.remote_path, self.data_dir, REMOTE_TABLES)
        self.answer([self.first.ref_sql] + [
            tpl.render((c, k), user).ref_sql for c, user in enumerate(self.users)
            for tpl in self.templates for k in range(REF_KEYS)])
        log(f"fixtures + {len(self.refs)} DuckDB reference answers: "
            f"{time.perf_counter() - t:.2f}s")

    def answer(self, ref_sqls) -> None:
        """DuckDB's answers to the statements not answered yet."""
        from gate import DuckReference

        todo = [q for q in dict.fromkeys(ref_sqls) if q not in self.refs]
        if not todo:
            return
        ref = DuckReference(self.wl.reference_views(self.data_dir, self.remote_path))
        try:
            for q in todo:
                self.refs[q] = ref.answer(q)
        finally:
            ref.close()

    # ------------------------------------------------------------- setup
    def setup(self) -> "Outcome":
        """Session + engine (source registration) + Flight server, until
        a statement can be sent, on a newly launched JVM as after a
        restart. Then the workload's first statement runs, cold."""
        import pyarrow.flight as fl

        from strake_spark.engine import StrakeEngine
        from strake_spark.server import make_server
        from strake_spark.session import build_session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            # temp files inside the work dir; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData "
                # a fixed-size heap, as servers run: peak RSS then does not
                # depend on when the JVM happened to grow its heap
                "-Xms1g",
            "spark.driver.memory": "1g",
        }
        config = self.wl.config(self.data_dir, self.remote_path, self.cache_dir, self.clients)
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", extra_conf=conf)
        t1 = time.perf_counter()
        self.engine = StrakeEngine(spark=self.spark, config=config)
        t2 = time.perf_counter()
        self.server = make_server(self.engine)
        self.server_thread = threading.Thread(target=self.server.serve, daemon=True)
        self.server_thread.start()
        probe = fl.FlightClient(f"grpc://127.0.0.1:{self.server.port}")
        probe.wait_for_available(timeout=30)
        probe.close()
        t3 = time.perf_counter()
        self.setup_parts = (t1 - t0, t2 - t1, t3 - t2)
        first = self.run_statement(self.executors()[0], self.first)
        self.clear_cache()
        log("setup (session, register, server): "
            + ", ".join(f"{x:.3f}" for x in self.setup_parts)
            + f"; first statement ({self.first.template}): {first.latency:.3f}")
        return first

    def teardown(self) -> None:
        for r in self.remotes:
            r.close()
        self.remotes = []
        if self.server is not None:
            self.server.shutdown()
            self.server_thread.join(30)
            self.server = None
        if self.engine is not None:
            self.engine.close()
            self.engine = None
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def executors(self) -> list:
        if not self.wl.flight:
            return [self.engine.execute] * self.clients
        import strake_spark

        if not self.remotes:
            url = f"grpc://127.0.0.1:{self.server.port}"
            self.remotes = [strake_spark.connect(url) for _ in range(self.clients)]
        return [r.execute for r in self.remotes]

    # -------------------------------------------------------- statements
    def run_statement(self, execute, st, rec=None) -> "Outcome":
        scope = table = None
        hit = False
        why = None
        t0 = time.perf_counter()
        try:
            if rec is None:
                table = execute(st.sql, user=st.user)
            else:
                with rec.scope("statement", (st.sql, st.user)) as scope:
                    table = execute(st.sql, user=st.user)
            t1 = time.perf_counter()
            hit = CACHE_HIT in execute.__self__.last_warnings()
        except Exception as e:  # a failed statement is counted, not fatal
            t1 = time.perf_counter()
            why = f"failed: {type(e).__name__}: {str(e)[:300]}"
        return Outcome(st, t0, t1, why, scope, hit, table)

    def check(self, outcomes: list["Outcome"]) -> None:
        """Compare every returned table with DuckDB's answer to the same
        statement. Runs once, after the last window: the comparison's
        CPU time does not contend with the clients, and DuckDB's memory
        is not in the peak RSS."""
        from gate import compare

        t = time.perf_counter()
        self.answer(o.st.ref_sql for o in outcomes if o.table is not None)
        for o in outcomes:
            if o.table is not None:
                o.why = compare(o.table, self.refs[o.st.ref_sql], o.st.ordered)
                o.table = None
        log(f"checked {len(outcomes)} results: {time.perf_counter() - t:.2f}s")
        for o in outcomes:
            if o.why is not None:
                msg = f"{o.st.template} (user={o.st.user}): {o.why}\n  SQL: {o.st.sql}"
                self.errors.append(msg)
                log(f"WRONG {msg}")

    def window(self, streams, seconds: float, cycles: int, rec=None):
        """Closed-loop clients, one thread each. A client stops at a cycle
        boundary once ``seconds`` have passed and it has run ``cycles``
        cycles.

        Returns the outcomes and each client's cycle times."""
        execs = self.executors()
        results: list[list] = [[] for _ in execs]
        cycle_s: list[list[float]] = [[] for _ in execs]
        barrier = threading.Barrier(len(execs) + 1)

        def client(i: int) -> None:
            barrier.wait()
            while True:
                c0 = time.perf_counter()
                for st in next(streams[i]):
                    out = self.run_statement(execs[i], st, rec)
                    results[i].append(out)
                    if out.scope is not None and out.table is not None:
                        out.scope.notes["server.wire_bytes"] = ipc_bytes(out.table)
                now = time.perf_counter()
                cycle_s[i].append(now - c0)
                if len(cycle_s[i]) >= cycles and now - start >= seconds:
                    return

        threads = [threading.Thread(target=client, args=(i,)) for i in range(len(execs))]
        for t in threads:
            t.start()
        barrier.wait()
        start = time.perf_counter()
        for t in threads:
            t.join()
        outcomes = [r for rs in results for r in rs]
        log(f"window: {len(outcomes)} statements in {time.perf_counter() - start:.2f}s; "
            "cycle seconds per client: "
            + " | ".join(" ".join(f"{c:.2f}" for c in cs) for cs in cycle_s))
        return outcomes, cycle_s

    def qps(self, outcomes: list["Outcome"], cycle_s: list[list[float]]) -> float:
        """Throughput of a checked window: the sum over clients of
        statements per cycle / median cycle time, times the correct
        fraction. The median keeps a burst of contention on the host in
        a few cycles from moving the figure."""
        ok = sum(1 for o in outcomes if o.why is None) / max(1, len(outcomes))
        return ok * sum(len(self.templates) / median(c) for c in cycle_s)

    def clear_cache(self) -> None:
        if self.wl.cache:
            shutil.rmtree(self.cache_dir, ignore_errors=True)
            os.makedirs(self.cache_dir, exist_ok=True)

    # ---------------------------------------------------------------- run
    def run(self, trace: bool) -> tuple[dict, dict]:
        from workloads import statement_cycles

        self.build_fixtures()
        reset_peak_rss()
        first = self.setup()
        live = [statement_cycles(self.templates, self.seed, i, self.users[i])
                for i in range(self.clients)]
        warm, _ = self.window(live, 0.0, self.wl.warm_cycles)
        measured, cycles = self.window(live, self.seconds, self.wl.min_cycles)
        jvm = self.jvm_pid()
        rss_kb = {"python": peak_rss_kb("self"), "jvm": peak_rss_kb(jvm) if jvm else 0}
        log(f"peak RSS kB: {rss_kb}")
        traced = []
        if trace:
            rec, traced, traced_cycles = self.traced(live)
        self.check([first] + warm + measured + traced)
        qps = self.qps(measured, cycles)
        lat = [o.latency for o in measured]
        by_template: dict[str, list[float]] = {}
        for o in measured:
            by_template.setdefault(o.st.template, []).append(o.latency)
        hits = sum(o.hit for o in measured)
        info = {
            "workload": self.wl.name, "seed": self.seed, "cores": self.cores,
            "clients": self.clients, "seconds": self.seconds,
            "samples": len(lat), "cache_hits": hits,
            "cache_hit_ratio": round(hits / len(measured), 4),
            "p50_by_template": {k: round(median(v), 4) for k, v in sorted(by_template.items())},
            "tail_percentile": self.wl.tail_pct,
            "versions": versions(), "errors": self.errors[:5],
        }
        if trace:
            metrics = self.layer_report(rec, traced, qps, self.qps(traced, traced_cycles), info)
        else:
            metrics = {
                "setup_s": sum(self.setup_parts),
                "first_query_s": first.latency,
                "qps": qps,
                "latency_p50_s": percentile(lat, 50),
                "latency_tail_s": percentile(lat, self.wl.tail_pct),
                "ok_ratio": sum(1 for o in measured if o.why is None) / len(measured),
                "peak_rss_mb": sum(rss_kb.values()) / 1024.0,
            }
        units = LAYER_UNITS if trace else E2E_UNITS
        failed = len(self.errors)
        result = {
            "correct": failed == 0,
            "attempted": 1 + len(warm) + len(measured) + len(traced),
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
        return result, {"perfbench": info}

    def traced(self, live):
        """A second measured window, with every layer's public call
        wrapped (``layers.py``); the wrappers are removed afterwards."""
        from layers import Recorder

        rec = Recorder()
        rec.install(type(self.server))
        try:
            traced, cycles = self.window(live, self.seconds, self.wl.min_cycles, rec)
        finally:
            rec.restore()
        return rec, traced, cycles

    def layer_report(self, rec, traced, qps_untraced: float, qps_traced: float,
                     info: dict) -> dict:
        from layers import merge_rpcs

        stmts = [o.scope for o in traced if o.scope is not None]
        rpcs = [s for s in rec.scopes if s.kind.startswith("server.")]
        # every plan call, counted before RPCs fold into their statements
        plans = sum(s.calls["engine.plan"] for s in stmts + rpcs)
        unmatched = merge_rpcs(stmts, rpcs)
        info["traced_statements"] = len(traced)
        info["unmatched_rpcs"] = unmatched
        rungs: dict[str, Counter] = {}
        for o in traced:
            if o.scope is not None:
                rungs.setdefault(o.st.template, Counter()).update(
                    {k[5:]: v for k, v in o.scope.notes.items() if k.startswith("rung.")})
        info["rungs_by_template"] = {k: dict(v) for k, v in sorted(rungs.items())}
        m = layer_metrics(traced, stmts, self.wl.flight)
        m["server.plans_per_query"] = plans / max(1, len(stmts))
        for name, part in zip(("setup.session_s", "setup.register_s", "setup.server_s"),
                              self.setup_parts):
            m[name] = part
        m["trace.statements"] = len(stmts)
        m["trace.qps_untraced"] = qps_untraced
        m["trace.qps_traced"] = qps_traced
        m["trace.overhead_ratio"] = qps_untraced / qps_traced
        return m

    @staticmethod
    def jvm_pid() -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None


def layer_metrics(records, stmts, flight: bool) -> dict:
    """Per-layer numbers of the traced window: the median per statement
    of each layer's inclusive time, over the statements that called it
    (0 for a layer the workload never calls). The federation layers
    (``plans.*``, ``sources.remote_rows``) count only the statements
    over a remote source, where the ladder has something to push."""
    m: dict[str, float] = {}
    remote = [o.scope for o in records if o.st.remote and o.scope is not None]
    for name, layer in LAYER_TIMES.items():
        scopes = remote if name.startswith("plans.") else stmts
        m[name] = median(s.incl[layer] for s in scopes if s.calls[layer])
    m["reliability.admit_wait_max_s"] = max(
        (s.incl["reliability.admit_wait"] for s in stmts), default=0.0)
    server = (("server.get_flight_info", "server.do_get") if flight
              else ("engine.execute",))
    m["server.wire_s"] = median(
        (s.t1 - s.t0) - sum(s.incl[x] for x in server) for s in stmts)
    m["server.wire_bytes"] = median(s.notes["server.wire_bytes"] for s in stmts)
    for name in LAYER_NOTES:
        scopes = remote if name.startswith("sources.") else stmts
        m[name] = median(s.notes[name] for s in scopes if s.calls["spark.run"])
    pushed = sum(1 for s in remote if s.notes["plans.pushed"])
    m["plans.pushdown_ratio"] = pushed / len(remote) if remote else 0.0
    probes = sum(s.calls["cache.get"] for s in stmts)
    hits = sum(s.notes["cache.hits"] for s in stmts)
    m["cache.hit_ratio"] = hits / probes if probes else 0.0
    m["cache.bytes_written"] = sum(s.notes["cache.bytes_written"] for s in stmts)
    return m


def ipc_bytes(table) -> int:
    """Size of ``table`` as an Arrow IPC stream (what Flight sends)."""
    import pyarrow as pa

    sink = pa.MockOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.size()


def versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {"python": sys.version.split()[0], "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "duckdb": duckdb.__version__}


def stop_jvm() -> None:
    """Shut the py4j gateway's JVM and wait for it to exit."""
    import subprocess

    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception as e:  # the JVM may already be gone
        log(f"gateway shutdown: {e}")
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "strake_spark", "__init__.py")):
        print(f"perfbench: no strake_spark package under {ROOT}; run it from a "
              "full checkout of the repository", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=base)
    for sub in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None  # re-read TMPDIR
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Spark's Python workers (the duckdb source's readers) import strake_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x])
    sys.path.insert(0, ROOT)
    bench = None
    try:
        bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, work)
        result, info = bench.run(bool(args.trace))
    finally:
        kids = descendants(os.getpid())
        try:
            if bench is not None:
                bench.teardown()
            stop_jvm()
        finally:
            wait_gone(kids, 30)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(base)
            except OSError:
                pass  # another run's work dir is still there
    print(json.dumps(info))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
