"""The two workloads: engine configuration and seeded statement streams.

Every statement has an aggregate or a total-order LIMIT, so the
engine's defensive LIMIT never picks rows at random, and every result
stays far below ``max_output_rows``. Each client draws its statements in
cycles: one cycle is a seeded permutation of the workload's templates,
so every window holds the same template mix whatever the seed.
"""

from __future__ import annotations

import re
import zlib
from dataclasses import dataclass
from typing import Callable

import numpy as np

from datagen import TABLES

# --------------------------------------------------------------- policy
PRINCIPAL = "analyst"  # the governed principal of the agent_flight workload
RLS_FILTER = "o_custkey % 4 <> 0"
MASKS = {"o_totalprice": "CAST(FLOOR(o_totalprice / 1000) AS DOUBLE) * 1000"}
ORDERS_COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
                  "o_orderdate", "o_orderpriority")
POLICIES = {
    "roles": {"regional": {"tables": {"tpch_orders": {
        "rls_filter": RLS_FILTER, "masking": MASKS}}}},
    "users": {PRINCIPAL: ["regional"]},
}
# What the principal may see of tpch_orders, written out by hand for the
# DuckDB reference (never taken from the engine's own rewrite).
SECURED_ORDERS = "(SELECT {cols} FROM tpch_orders WHERE {rls})".format(
    cols=", ".join(f"{MASKS[c]} AS {c}" if c in MASKS else c for c in ORDERS_COLUMNS),
    rls=RLS_FILTER,
)

REMOTE_TABLES = ("orders", "customer", "lineitem")


@dataclass(frozen=True)
class Statement:
    template: str
    sql: str  # the text the engine receives
    ref_sql: str  # the DuckDB reference text (policy inlined for the principal)
    user: str | None
    ordered: bool
    remote: bool  # references a view of a remote source


@dataclass(frozen=True)
class Template:
    name: str
    sql: str  # {orders} marks the policied table; other {x} are parameters
    seed: int
    draw: Callable[[np.random.Generator], dict] | None = None  # one parameter set
    remote: bool = False

    def render(self, key: tuple[int, int], user: str | None) -> Statement:
        """The statement of question ``key``: its parameters are drawn
        from a generator seeded with the run's seed, the key and the
        template, so a key always renders to the same text."""
        p = {}
        if self.draw is not None:
            p = self.draw(np.random.default_rng([self.seed, *key, zlib.crc32(self.name.encode())]))
        sql = self.sql.format(orders="tpch_orders", **p)
        ref = sql
        if user == PRINCIPAL and "{orders}" in self.sql:
            ref = self.sql.format(orders=SECURED_ORDERS, **p)
        return Statement(self.name, sql, ref, user, _has_order_by(sql), self.remote)


def _has_order_by(sql: str) -> bool:
    """ORDER BY outside parentheses (a CTE's ORDER BY does not order
    the result)."""
    depth = 0
    for tok in re.findall(r"\(|\)|\bORDER\s+BY\b|[^()]", sql, flags=re.IGNORECASE):
        if tok == "(":
            depth += 1
        elif tok == ")":
            depth -= 1
        elif depth == 0 and tok.upper().startswith("ORDER"):
            return True
    return False


def _date(rng: np.random.Generator, lo: str, hi: str) -> np.datetime64:
    span = int((np.datetime64(hi, "D") - np.datetime64(lo, "D")).astype(np.int64))
    return np.datetime64(lo, "D") + int(rng.integers(0, span))


def _window(rng, days: int, lo="1995-01-01", hi="2001-06-01") -> dict:
    d0 = _date(rng, lo, hi)
    return {"d0": str(d0), "d1": str(d0 + days)}


# ------------------------------------------------------------ tpch_embedded
TPCH_QUERIES = (  # bench.BENCH_QUERIES: the headline TPC-H statements
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q4_order_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customers",
)
_TPCH_TABLE = re.compile(r"\b(region|nation|customer|supplier|part|orders|lineitem)\b")


def tpch_templates(seed: int) -> list[Template]:
    """The inventory's DuckDB-oracle SQL of each headline query, with
    table names mapped to the ``tpch_<table>`` views. Braces are escaped:
    these templates take no parameters."""
    from strake_spark import inventory

    out = []
    for name in TPCH_QUERIES:
        sql = _TPCH_TABLE.sub(r"tpch_\1", inventory.REGISTRY[name].oracle).strip()
        out.append(Template(name, sql.replace("{", "{{").replace("}", "}}"), seed))
    return out


# ------------------------------------------------------------- agent_flight
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def agent_templates(seed: int) -> list[Template]:
    """Short agent statements over the local parquet source."""
    return [
        Template("customer_orders", (
            "SELECT o.o_orderkey, o.o_orderstatus, o.o_totalprice, "
            "CAST(o.o_orderdate AS DATE) AS o_orderdate, o.o_orderpriority "
            "FROM {orders} o WHERE o.o_custkey = {custkey} "
            "ORDER BY o.o_orderdate DESC, o.o_orderkey LIMIT 5"), seed,
            lambda r: {"custkey": int(r.integers(0, 15_000))}),
        Template("top_lines", (
            "SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, l.l_discount "
            "FROM tpch_lineitem l WHERE l.l_shipdate >= TIMESTAMP '{d0}' "
            "AND l.l_shipdate < TIMESTAMP '{d1}' AND l.l_quantity >= {qty} "
            "ORDER BY l.l_extendedprice DESC, l.l_orderkey, l.l_linenumber LIMIT 10"), seed,
            lambda r: {**_window(r, 7), "qty": int(r.integers(10, 45))}),
        Template("priority_mix", (
            "SELECT o.o_orderpriority, COUNT(*) AS orders, "
            "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(19,4))) AS DOUBLE) AS total "
            "FROM {orders} o WHERE o.o_orderdate >= TIMESTAMP '{d0}' "
            "AND o.o_orderdate < TIMESTAMP '{d1}' "
            "GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority"), seed,
            lambda r: _window(r, int(r.integers(7, 61)))),
        Template("nation_segment", (
            "SELECT n.n_name, r.r_name, COUNT(*) AS customers, "
            "CAST(SUM(CAST(c.c_acctbal AS DECIMAL(19,4))) AS DOUBLE) AS balance "
            "FROM tpch_customer c JOIN tpch_nation n ON c.c_nationkey = n.n_nationkey "
            "JOIN tpch_region r ON n.n_regionkey = r.r_regionkey "
            "WHERE n.n_nationkey = {nk} AND c.c_mktsegment = '{seg}' "
            "AND c.c_acctbal > {bal} GROUP BY n.n_name, r.r_name"), seed,
            lambda r: {"nk": int(r.integers(0, 25)), "seg": SEGMENTS[int(r.integers(0, 5))],
                       "bal": int(r.integers(-1000, 9000))}),
    ]


# ------------------------------------------ federation ladder (tpch_embedded)
def federated_templates(seed: int) -> list[Template]:
    """One template per rung of ``plans.federation.plan_sql``, over the
    DuckDB remote (``rm_*``) and the local parquet dims."""
    return [
        # whole statement: every table lives in the remote
        Template("whole", (
            "SELECT c.c_mktsegment, COUNT(*) AS orders, "
            "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(19,4))) AS DOUBLE) AS total "
            "FROM rm_orders o JOIN rm_customer c ON o.o_custkey = c.c_custkey "
            "WHERE o.o_orderdate >= TIMESTAMP '{d0}' AND o.o_orderdate < TIMESTAMP '{d1}' "
            "GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment"), seed,
            lambda r: _window(r, 90), remote=True),
        # subtree: a remote CTE aggregate joined to local parquet dims
        Template("subtree", (
            "WITH agg AS (SELECT c_nationkey AS nk, COUNT(*) AS customers, "
            "CAST(SUM(CAST(c_acctbal AS DECIMAL(19,4))) AS DOUBLE) AS balance "
            "FROM rm_customer WHERE c_mktsegment = '{seg}' AND c_acctbal > {bal} "
            "GROUP BY c_nationkey) "
            "SELECT n.n_name, r.r_name, agg.customers, agg.balance "
            "FROM agg JOIN tpch_nation n ON agg.nk = n.n_nationkey "
            "JOIN tpch_region r ON n.n_regionkey = r.r_regionkey ORDER BY n.n_name"), seed,
            lambda r: {"seg": SEGMENTS[int(r.integers(0, 5))], "bal": int(r.integers(-500, 8000))},
            remote=True),
        # partial: remote scans ship their filtered projections
        Template("partial", (
            "SELECT n.n_name, COUNT(*) AS orders, "
            "CAST(SUM(CAST(o.o_totalprice AS DECIMAL(19,4))) AS DOUBLE) AS total "
            "FROM rm_orders o JOIN rm_customer c ON o.o_custkey = c.c_custkey "
            "JOIN tpch_nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE o.o_orderdate >= TIMESTAMP '{d0}' AND o.o_orderdate < TIMESTAMP '{d1}' "
            "AND n.n_regionkey = {rk} GROUP BY n.n_name ORDER BY n.n_name"), seed,
            lambda r: {**_window(r, 60), "rk": int(r.integers(0, 5))}, remote=True),
        # local: every remote column is needed and no conjunct is
        # pushable, so the ladder falls through to Spark
        Template("local", (
            "SELECT n.n_name, c.c_mktsegment, COUNT(*) AS customers, "
            "COUNT(DISTINCT c.c_name) AS names, MAX(c.c_custkey) AS max_key, "
            "CAST(SUM(CAST(c.c_acctbal AS DECIMAL(19,4))) AS DOUBLE) AS balance "
            "FROM rm_customer c JOIN tpch_nation n ON c.c_nationkey = n.n_nationkey "
            "WHERE abs(c.c_acctbal) > {bal} AND n.n_regionkey = {rk} "
            "GROUP BY n.n_name, c.c_mktsegment ORDER BY n.n_name, c.c_mktsegment"), seed,
            lambda r: {"bal": int(r.integers(0, 9000)), "rk": int(r.integers(0, 5))},
            remote=True),
    ]


# ---------------------------------------------------------------- workloads
@dataclass(frozen=True)
class Workload:
    name: str
    flight: bool  # clients go through the Flight server instead of execute()
    cache: bool  # result cache on
    remote: bool  # orders/customer/lineitem are also in a DuckDB-file remote source
    min_cycles: int  # a client's window never ends before this many cycles
    warm_cycles: int  # cycles per client before the measured window
    # latency_tail_s percentile: the highest with >= 10 samples above it
    # at the window's least sample count (README.md)
    tail_pct: int

    def templates(self, seed: int) -> list[Template]:
        if self.flight:
            return agent_templates(seed)
        return tpch_templates(seed) + federated_templates(seed)

    def clients(self, cores: int) -> int:
        return min(4, cores) if self.flight else 1

    def users(self, clients: int) -> list[str | None]:
        """Half the Flight clients run as the policy principal."""
        if not self.flight:
            return [None] * clients
        return [PRINCIPAL if i < clients // 2 else None for i in range(clients)]

    def budget(self, clients: int) -> int:
        """Global connection budget: below the client count on the Flight
        workload, so admission queueing is on the measured path."""
        return max(1, clients // 2) if self.flight else 100

    def config(self, data_dir: str, remote_path: str | None, cache_dir: str,
               clients: int) -> dict:
        sources = [{"name": "tpch", "type": "parquet", "url": data_dir,
                    "tables": [{"name": t} for t in TABLES]}]
        if remote_path is not None:
            sources.append({"name": "rm", "type": "duckdb", "url": remote_path})
        return {
            "sources": sources,
            "policies": POLICIES,
            "cache": {"enabled": self.cache, "directory": cache_dir},
            "global_connection_budget": self.budget(clients),
        }

    def reference_views(self, data_dir: str, remote_path: str | None) -> dict:
        import os

        views: dict = {f"tpch_{t}": os.path.join(data_dir, f"{t}.parquet") for t in TABLES}
        if remote_path is not None:
            views.update({f"rm_{t}": (remote_path, t) for t in REMOTE_TABLES})
        return views


WORKLOADS = {
    w.name: w for w in (
        Workload("tpch_embedded", flight=False, cache=False, remote=True,
                 min_cycles=2, warm_cycles=1, tail_pct=50),
        Workload("agent_flight", flight=True, cache=True, remote=False,
                 min_cycles=1, warm_cycles=3, tail_pct=95),
    )
}


# Every NEW_EVERY-th statement of a client and template asks a new
# question; the others copy an earlier statement of the same client and
# template, chosen uniformly. This is Simon's model with a new-question
# share of 1 / NEW_EVERY, which makes question popularity Zipf-like with
# exponent 1 - 1 / NEW_EVERY (README.md). The templates' schedules are
# staggered, so with four templates each cycle asks exactly one new
# question.
NEW_EVERY = 4


def statement_cycles(templates: list[Template], seed: int, client: int,
                     user: str | None):
    """Endless stream of cycles (lists of Statements) for client
    ``client``, which runs as ``user``. A new question takes the next
    key of this client, so no other client asks it."""
    rng = np.random.default_rng([seed, 100 + client])
    asked: list[list[tuple[int, int]]] = [[] for _ in templates]
    new = [0] * len(templates)
    while True:
        cycle = []
        for t in rng.permutation(len(templates)):
            keys = asked[t]
            if keys and (len(keys) + t) % NEW_EVERY:
                key = keys[int(rng.integers(len(keys)))]
            else:
                key = (client, new[t])
                new[t] += 1
            keys.append(key)
            cycle.append(templates[t].render(key, user))
        yield cycle
