"""Self-tests of the benchmark: the output gate, seeded statement
streams, metric naming, and the traced run's wrappers.

    python3 -m pytest perfbench/tests -q

``test_traced_run_emits_every_metric`` runs the benchmark end to end
on each workload (about a minute each on 4 cores)."""

from __future__ import annotations

import importlib
import itertools
import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

import gate
import layers
import run
import workloads

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


# ------------------------------------------------------------- the gate
def _q1(sum_disc_price: float, rows=(("A", "F"), ("N", "O"), ("R", "F"))) -> pa.Table:
    flags, status = zip(*rows)
    return pa.table({
        "l_returnflag": list(flags),
        "l_linestatus": list(status),
        "sum_disc_price": [1.5e9, 2.25e9, sum_disc_price][: len(rows)],
        "count_order": pa.array([10, 20, 30][: len(rows)], pa.int64()),
    })


SPARK_Q1 = 2706323975.3561  # Spark's DECIMAL -> DOUBLE cast of the R/F sum
DUCK_Q1 = 2706323975.3560996  # DuckDB's, one ULP away


def test_gate_passes_the_q1_one_ulp_cast_difference():
    assert SPARK_Q1 != DUCK_Q1
    assert gate.compare(_q1(SPARK_Q1), _q1(DUCK_Q1), ordered=True) is None


def test_gate_rejects_a_one_value_perturbation():
    why = gate.compare(_q1(SPARK_Q1 * (1 + 1e-9)), _q1(DUCK_Q1), ordered=True)
    assert why is not None and "sum_disc_price" in why
    exact = _q1(DUCK_Q1).set_column(3, "count_order", pa.array([10, 20, 31], pa.int64()))
    assert gate.compare(exact, _q1(DUCK_Q1), ordered=True) is not None


def test_gate_rejects_a_dropped_row():
    assert gate.compare(_q1(DUCK_Q1).slice(0, 2), _q1(DUCK_Q1), ordered=False) is not None


def test_gate_rejects_a_swapped_order_only_under_order_by():
    t = _q1(DUCK_Q1)
    swapped = t.take([1, 0, 2])
    assert gate.compare(swapped, t, ordered=True) is not None
    assert gate.compare(swapped, t, ordered=False) is None


def test_gate_checks_names_and_types_modulo_encoding():
    t = _q1(DUCK_Q1)
    assert gate.compare(t.rename_columns(["a", "b", "c", "d"]), t, ordered=True)
    as_int32 = t.set_column(3, "count_order", t["count_order"].cast(pa.int32()))
    assert gate.compare(as_int32, t, ordered=True) is not None
    large = t.set_column(0, "l_returnflag", t["l_returnflag"].cast(pa.large_string()))
    assert gate.compare(large, t, ordered=True) is None


def test_order_by_detection_ignores_nested_order_by():
    assert workloads._has_order_by("SELECT a FROM t ORDER BY a LIMIT 3")
    assert not workloads._has_order_by(
        "SELECT o_orderkey FROM (SELECT * FROM t ORDER BY x LIMIT 2) s")


# --------------------------------------------------- statement streams
def _sequence(name: str, seed: int, n: int = 24) -> list[tuple]:
    wl = workloads.WORKLOADS[name]
    templates = wl.templates(seed)
    user = wl.users(wl.clients(4))[0]
    cycles = workloads.statement_cycles(templates, seed, 0, user)
    stmts = itertools.chain.from_iterable(cycles)
    return [(s.sql, s.user) for s in itertools.islice(stmts, n)]


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_same_seed_same_statements_other_seed_other_statements(name):
    assert _sequence(name, 7) == _sequence(name, 7)
    assert _sequence(name, 7) != _sequence(name, 8)


def test_a_quarter_of_the_questions_are_new_and_no_two_clients_share_one():
    templates = workloads.agent_templates(7)
    first_asker: dict[str, int] = {}
    new = total = 0
    for client in range(4):
        cycles = workloads.statement_cycles(templates, 7, client, None)
        asked: set[str] = set()
        for st in itertools.islice(itertools.chain.from_iterable(cycles), 200):
            total += 1
            if st.sql not in asked:
                new += 1
                asked.add(st.sql)
                assert first_asker.setdefault(st.sql, client) == client
    assert abs(new / total - 1 / workloads.NEW_EVERY) < 0.02


def test_every_statement_is_aggregated_or_totally_ordered():
    for name in sorted(workloads.WORKLOADS):
        for t in workloads.WORKLOADS[name].templates(1):
            sql = t.sql.upper()
            assert "GROUP BY" in sql or "SUM(" in sql or (
                "ORDER BY" in sql and "LIMIT" in sql), t.name


def test_principal_reference_inlines_the_policy():
    agent = workloads.agent_templates(1)
    st = agent[0].render((0, 0), workloads.PRINCIPAL)
    assert workloads.RLS_FILTER in st.ref_sql and "FLOOR(o_totalprice" in st.ref_sql
    assert st.sql == agent[0].render((0, 0), None).ref_sql  # engine text is unrestricted


# ----------------------------------------------------------------- metrics
def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_names_every_emitted_metric_with_its_unit():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)


def test_percentile_tail_rule():
    xs = list(range(20))
    # p50 of 20 samples leaves exactly 10 samples above it
    assert sum(1 for x in xs if x > run.percentile(xs, 50)) == 10


# ------------------------------------------------------- traced wrappers
@pytest.fixture(scope="module")
def engine(tmp_path_factory):
    import datagen
    from strake_spark.engine import StrakeEngine
    from strake_spark.session import build_session

    data = str(tmp_path_factory.mktemp("tpch"))
    datagen.write_tpch(data, 5)
    wl = workloads.WORKLOADS["tpch_embedded"]
    spark = build_session(app_name="perfbench-tests",
                          extra_conf={"spark.ui.showConsoleProgress": "false"})
    eng = StrakeEngine(spark=spark, config=wl.config(
        data, None, str(tmp_path_factory.mktemp("cache")), 1))
    yield eng
    eng.close()
    spark.stop()


def _originals() -> dict:
    out = {}
    for module, cls, attr, _ in layers.TIMED:
        owner = importlib.import_module(module)
        owner = getattr(owner, cls) if cls else owner
        out[(module, cls, attr)] = owner.__dict__[attr]
    from strake_spark.reliability import ConcurrencyGovernor

    out["admit"] = ConcurrencyGovernor.__dict__["admit"]
    return out


def test_wrappers_are_removed_and_layer_times_fit_in_the_latency(engine):
    before = _originals()
    rec = layers.Recorder()
    rec.install()
    try:
        assert _originals() != before
        lat = []
        for t in workloads.tpch_templates(5)[:3]:
            with rec.scope("statement") as sc:
                engine.execute(t.render((0, 0), None).sql)
            lat.append((sc, sc.t1 - sc.t0))
    finally:
        rec.restore()
    assert _originals() == before
    for sc, latency in lat:
        assert sc.calls["engine.plan"] == 1 and sc.calls["spark.run"] == 1
        assert sum(sc.self_time.values()) <= latency
        top = sc.incl["engine.execute"]
        assert top <= latency
        assert sc.incl["engine.plan"] + sc.incl["spark.run"] <= top


def test_merge_rpcs_attaches_server_scopes_to_their_statement():
    st = layers.Scope("statement", ("SELECT 1", None), 0.0, 10.0)
    other = layers.Scope("statement", ("SELECT 2", None), 0.0, 10.0)
    rpc = layers.Scope("server.do_get", ("SELECT 1", None), 1.0, 2.0)
    rpc.incl["server.do_get"] = 1.0
    rpc.calls["server.do_get"] = 1
    assert layers.merge_rpcs([st, other], [rpc]) == 0
    assert st.incl["server.do_get"] == 1.0 and not other.incl
    assert layers.command_key(json.dumps({"sql": "q", "user": "u"}).encode()) == ("q", "u")
    # the same command from two clients at once: the later starter owns
    # an RPC that both intervals contain
    early = layers.Scope("statement", ("SELECT 3", None), 0.0, 10.0)
    late = layers.Scope("statement", ("SELECT 3", None), 5.0, 9.0)
    rpc = layers.Scope("server.do_get", ("SELECT 3", None), 6.0, 7.0)
    rpc.calls["server.do_get"] = 1
    assert layers.merge_rpcs([early, late], [rpc]) == 0
    assert late.calls["server.do_get"] == 1 and not early.calls


# ------------------------------------------------------------ end to end
def _run(*args: str) -> tuple[int, list[str], str]:
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), *args],
                       cwd=ROOT, capture_output=True, text=True, timeout=600)
    return p.returncode, p.stdout.strip().splitlines(), p.stderr


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_traced_run_emits_every_metric(name):
    code, out, err = _run("--workload", name, "--seed", "3", "--seconds", "1", "--trace", "1")
    assert code == 0, err[-3000:]
    result = json.loads(out[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] > 0
    assert {k: v["unit"] for k, v in result["metrics"].items()} == run.LAYER_UNITS
    m = {k: v["value"] for k, v in result["metrics"].items()}
    info = json.loads(out[-2])["perfbench"]
    if name == "agent_flight":
        # the Flight path plans twice: get_flight_info, then do_get
        assert abs(m["server.plans_per_query"] - 2) < 0.05
        assert m["cache.get_s"] > 0 and m["reliability.admit_wait_s"] > 0
        return
    # two traced cycles: each federation template once per cycle, at its rung
    rungs = info["rungs_by_template"]
    assert rungs["whole"] == {"whole_statement": 2}
    assert rungs["partial"] == {"partial": 2}
    assert rungs["local"] == {"local": 2}
    assert rungs["subtree"]["subtree"] == 2
    assert m["plans.pushdown_ratio"] == 0.75  # three of the four remote templates
    assert m["sources.remote_rows"] > 0 and m["plans.rung_s.whole"] > 0
    assert m["server.plans_per_query"] == 1
