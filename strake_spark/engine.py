"""StrakeEngine — the governed SparkSession wrapper.

Mirrors the reference's FederationEngine lifecycle
(crates/runtime/src/federation.rs:326-490) re-expressed on Spark:

    gate (read-only) -> policy rewrite -> text-key probe
    -> spark.sql (Catalyst optimize) -> defensive limit -> cost gate
    -> plan-key cache probe -> admission + breakers -> timed execution
    -> cache put

Timed execution reads remote rows on the driver where it can: a
statement pushed whole to a source with a driver ``fetch`` is answered
by that source, with no Spark job, and each fragment a subtree or
partial plan ships that fits in ``pushsql.FETCH_ROWS_MAX`` rows
replaces its Spark scan with an in-memory relation.

``prepare`` runs everything up to the plan (or resolves a confirmed
text key, skipping Catalyst); ``execute`` runs a prepared statement.
A cache hit reads no source, so it is served before admission and the
circuit breakers; only statements that plan against or run on their
sources enter that envelope.

and the Python connection surface (python/strake/__init__.pyi:28-68:
sql/describe/trace/explain_tree/list_sources).
"""

from __future__ import annotations

import contextlib
import logging
import threading
import time
from dataclasses import dataclass, field
from datetime import datetime
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from strake_spark.config import EngineConfig, SourceConfig, load_config
from strake_spark.errors import QueryRejected, SourceError
from strake_spark.governance.gate import ensure_select, sanitize_identifier
from strake_spark.governance.limits import (
    apply_defensive_limit,
    check_cost,
    plan_stats,
    run_with_timeout,
)
from strake_spark.plans import sqlast
from strake_spark.plans.binding import bound
from strake_spark.session import build_session
from strake_spark.sources import pushsql
from strake_spark.sources.registry import (
    bump_catalog_epoch,
    catalog_epoch,
    forget_views,
    ordered_map,
    register_source,
)

log = logging.getLogger("strake_spark.engine")


@dataclass
class PreparedStatement:
    """One statement past the gate and the policy rewrite. Planned, it
    holds the governed DataFrame with its pushdown plan and federation
    trace; resolved through a confirmed text key (a *text hit*), ``df``
    is None and ``plan_key`` names the cached result instead."""

    query: str  # as the caller wrote it
    user: str | None
    params: dict[str, Any] | None
    governed_sql: str  # after the policy rewrite
    sources: tuple[str, ...]
    epoch: int  # catalog epoch it was prepared under
    text_key: str | None = None  # None: not eligible for the text path
    df: DataFrame | None = None
    pushdown: Any = None
    federation: list[tuple[str, str, str]] = field(default_factory=list)
    plan_key: str | None = None
    schema: Any = None  # pyarrow.Schema of the result, when known
    limit: int | None = None  # the defensive limit the plan applies

    def arrow_schema(self):
        if self.schema is None:
            from pyspark.sql.pandas.types import to_arrow_schema

            self.schema = to_arrow_schema(self.df.schema)
        return self.schema


class StrakeEngine:
    def __init__(
        self,
        spark: SparkSession | None = None,
        config: EngineConfig | dict | str | None = None,
        sources_config: str | None = None,
    ) -> None:
        if config is None:
            self.config = EngineConfig()
        elif isinstance(config, EngineConfig):
            self.config = config
        else:
            self.config = load_config(config, sources_path=sources_config)
        self.spark = spark or build_session()
        self._views: dict[str, list[str]] = {}
        self._view_source: dict[str, str] = {}
        from collections import Counter, deque

        sqlast.connect()

        # bounded: a long-lived server must not grow its log forever;
        # 10k entries keeps impact()/query_log() useful while capping
        # memory (reference keeps a structured log stream, not a list).
        # deque raises on mutation-during-iteration (list does not), so
        # every append/snapshot goes through _log_lock — the REST server
        # is threaded.
        self._query_log: deque = deque(maxlen=10_000)
        self._log_lock = threading.Lock()
        # per-thread: the PushdownPlan and (rung, status, reason) ladder
        # decisions of this thread's most recent sql(); prepare() copies
        # them into the statement it returns
        self._plan_local = threading.local()
        # per-query non-fatal warnings (reference warnings.rs:19-40 —
        # task-local there, thread-local here: the REST/Flight handler
        # reads last_warnings() on the same thread right after execute)
        self._warnings_local = threading.local()
        self._metrics: Counter = Counter()
        self._cache = None
        if self.config.cache.enabled:
            from strake_spark.cache import ResultCache

            self._cache = ResultCache(self.spark, self.config.cache)
        from strake_spark.reliability import CircuitBreaker, ConcurrencyGovernor

        self._governor = ConcurrencyGovernor(
            self.config.global_connection_budget,
            user_slots=getattr(self.config, "user_slots", None),
            default_user_slots=getattr(self.config, "default_user_slots", None),
            priority_users=getattr(self.config, "priority_users", None),
            priority_reserved=getattr(self.config, "priority_reserved_slots", 0),
        )
        self._breakers: dict[str, CircuitBreaker] = {}
        self._register_all(self.config.sources)
        self._policies = None
        if getattr(self.config, "policies", None) is not None and self.config.policies.enabled:
            from strake_spark.governance.policies import PolicyEnforcer

            self._policies = PolicyEnforcer(self.spark, self.config.policies)
        if getattr(self.config, "contracts", None) is not None and self.config.contracts.enabled:
            # strict (closed-schema) contracts bind at registration:
            # the view becomes a projection of exactly the declared
            # columns, so unlisted-column queries fail analysis
            # (contracts.yaml:12 semantics). Schema mismatches surface
            # via validate_contracts(), not at connect.
            from strake_spark.governance.contracts import enforce_strict_views

            _, self._contract_errors = enforce_strict_views(
                self.spark, self.config.contracts
            )
        else:
            self._contract_errors = []
        from strake_spark.telemetry import OtlpJsonExporter, Tracer

        tcfg = self.config.telemetry
        exporter = (
            OtlpJsonExporter(tcfg.otlp_endpoint, tcfg.service_name)
            if tcfg.otlp_endpoint
            else None
        )
        self.tracer = Tracer(max_spans=tcfg.max_spans, exporter=exporter)

    @property
    def _last_pushdown(self):
        return getattr(self._plan_local, "pushdown", None)

    @property
    def _last_federation_trace(self) -> list[tuple[str, str, str]]:
        return getattr(self._plan_local, "federation", [])

    # ------------------------------------------------------------- sources
    def register(self, source_cfg) -> list[str]:
        views = register_source(self.spark, source_cfg)
        self._remember(source_cfg, views)
        return views

    def _register_all(self, sources: list[SourceConfig]) -> None:
        """Register ``sources`` concurrently, then do each one's
        bookkeeping in config order. Two sources that make one view name
        are refused: with no registration order, neither would reliably
        win. When a source fails or views collide, the views the other
        sources made are dropped before the error is raised."""

        def attempt(cfg: SourceConfig) -> tuple[list[str], Exception | None]:
            try:
                return register_source(self.spark, cfg), None
            except Exception as e:  # noqa: BLE001 - raised below, in config order
                return [], e

        registered = ordered_map(attempt, sources)
        error = next((e for _, e in registered if e is not None), None)
        owners: dict[str, SourceConfig] = {}
        for cfg, (views, _) in zip(sources, registered):
            for v in views:
                first = owners.setdefault(v.lower(), cfg)
                if error is None and first is not cfg:
                    error = SourceError(
                        f"sources {first.name!r} and {cfg.name!r} both register view {v!r}; "
                        "rename one source or table"
                    )
        if error is not None:
            forget_views(self.spark, (v for views, _ in registered for v in views))
            raise error
        for cfg, (views, _) in zip(sources, registered):
            self._remember(cfg, views)

    def _remember(self, source_cfg: SourceConfig, views: list[str]) -> None:
        from strake_spark.reliability import CircuitBreaker

        self._views[source_cfg.name] = views
        from strake_spark.governance.contracts import STRICT_VIEWS

        for v in views:
            self._view_source[v] = source_cfg.name
            # a re-registered view starts unguarded: a previous engine's
            # strict contract on the same view name must not project THIS
            # engine's pushdowns (enforce_strict_views re-adds ours after
            # all sources register, during __init__)
            STRICT_VIEWS.pop(v, None)
        self._governor.set_source_limit(
            source_cfg.name, source_cfg.max_concurrent_queries
        )
        self._breakers.setdefault(source_cfg.name, CircuitBreaker(source_cfg.name))
        log.info("registered source %s -> %s", source_cfg.name, views)

    def _touched_sources(self, query: str) -> tuple[str, ...]:
        """Sources whose views a statement references (AST-derived;
        empty when unparseable — global admission still applies)."""
        return self._sources_of(sqlast.table_refs(query))

    def _sources_of(self, tables) -> tuple[str, ...]:
        return tuple(sorted({self._view_source[v] for v in self._views_in(tables)}))

    def list_sources(self) -> dict[str, list[str]]:
        return dict(self._views)

    def register_information_schema(self) -> list[str]:
        """information_schema_tables / _columns views over the catalog
        (reference: with_information_schema(true), federation.rs:176)."""
        from strake_spark.discovery import register_information_schema

        return register_information_schema(self.spark)

    def describe(self, view: str | None = None):
        """Column schema of one view, or — with no argument — of every
        registered view keyed by name (reference ``describe`` takes an
        optional table, python/strake/__init__.pyi:47)."""
        if view is None:
            return {
                v: self.describe(v)
                for views in self._views.values()
                for v in views
            }
        sanitize_identifier(view)
        df = self.spark.table(view)
        return [
            {"column": f.name, "type": f.dataType.simpleString(), "nullable": f.nullable}
            for f in df.schema.fields
        ]

    def register_function(self, name: str, fn, return_type: str = "double",
                          vectorized: bool = True) -> str:
        """In-engine UDF surface (SURVEY §2.7): the reference exposes NO
        user-defined function registration — its extensibility story is
        MCP Code Mode — but Spark gives this engine one natively.

        ``vectorized=True`` (default) registers ``fn`` as an
        Arrow-batched pandas_udf (``fn`` maps pandas Series -> Series;
        the 10-100x path, data never crosses row-at-a-time);
        ``vectorized=False`` registers a row-at-a-time Python UDF
        (discouraged — test/debug convenience only). The function
        becomes callable from any governed ``sql()``/``execute()``
        statement. Statements invoking a UDF still pass the read-only
        gate; federation pushdown simply falls back to local execution
        when a remote engine rejects the unknown function (the standard
        ladder behavior)."""
        sanitize_identifier(name)
        from pyspark.sql.functions import pandas_udf, udf

        u = pandas_udf(fn, return_type) if vectorized else udf(fn, return_type)
        self.spark.udf.register(name, u)
        bump_catalog_epoch()
        return name

    # ------------------------------------------------------------- queries
    def sql(
        self,
        query: str,
        user: str | None = None,
        params: dict[str, Any] | None = None,
    ) -> DataFrame:
        """Gate + plan a read-only SQL query; returns a governed DataFrame.

        ``params`` binds named parameters (``:name`` placeholders) — the
        prepared-statement surface (reference flight_sql.rs:533-600);
        binding happens in Spark's parser, never by string interpolation,
        so values cannot inject syntax.

        Same-source federation runs first: when every referenced table
        lives in one remote SQL engine, the whole statement is pushed
        there (plans/federation.py) and Spark only scans the result.
        Parameterized queries skip pushdown (the remote engine never
        sees unbound text).

        Lazily planned: call .collect()/.toPandas() yourself, or use
        ``execute`` for timeout + cache + output-row enforcement.
        """
        ensure_select(query)
        if self._policies is not None:
            query = self._policies.rewrite(query, user)
        local = self._plan_local
        try:
            if params:
                local.pushdown = None
                local.federation = [
                    ("whole_statement", "rejected",
                     "parameterized query (remote engines never see unbound text)")
                ]
                df = self.spark.sql(query, args=params)
            else:
                from strake_spark.plans.federation import plan_sql

                decisions: list[tuple[str, str, str]] = []
                df, pushed = plan_sql(self.spark, query, trace=decisions)
                local.pushdown = pushed
                local.federation = decisions
        except Exception as e:
            # classify Spark analysis/parse failures onto the stable
            # code contract at the PLANNING boundary (convert.py,
            # reference convert.rs): bad column/table/type errors carry
            # STRAKE-2002/2003/2004 from eng.sql and every surface
            # built on it (Flight get_flight_info plans here). Anything
            # without a Spark error condition propagates unchanged.
            from strake_spark.convert import classify_exception

            classified = classify_exception(e)
            if classified is not None:
                raise classified from e
            raise
        limits = self.config.query_limits
        limited = apply_defensive_limit(df, limits)
        # the cost gate keeps Spark's estimate of the capped plan: a
        # pushed relation carries no statistics, and the cap bounds it
        check_cost(limited, limits)
        if limited is not df and local.pushdown is not None and sqlast.bounded(query):
            # a rung rewrote the statement, so Spark sees an opaque
            # remote relation; the skip list reads the statement as written
            limited = df
        local.limit = limits.default_limit if limited is not df else None
        self._metrics["queries_planned"] += 1
        return limited

    def prepare(
        self,
        query: str,
        user: str | None = None,
        params: dict[str, Any] | None = None,
    ) -> PreparedStatement:
        """Gate + policy rewrite, then either resolve a confirmed text
        key (no Catalyst; needs the result cache) or plan through
        ``sql``. Nothing runs; ``execute`` takes the result."""
        prep = self._statement(query, user, params)
        return prep if prep.plan_key is not None else self._plan(prep)

    def _statement(self, query: str, user: str | None, params) -> PreparedStatement:
        """Gate + policy rewrite + text-key probe, not yet planned; a
        confirmed text key sets ``plan_key`` and ``schema``. Only
        statements whose base tables are all views this engine
        registered get a text key: for those the key (post-policy SQL,
        params, user, catalog epoch, query limits, session-zone date)
        names everything the plan depends on, up to data freshness,
        which the TTL governs as it does for plan keys."""
        ensure_select(query)
        governed = self._policies.rewrite(query, user) if self._policies is not None else query
        tables = sqlast.table_refs(query)
        prep = PreparedStatement(
            query, user, params, governed, self._sources_of(tables), catalog_epoch()
        )
        if self._cache is not None and tables is not None and all(
            not qual and (name in self._view_source or name.lower() in self._view_source)
            for qual, name in tables
        ):
            today = self._session_date()
            if today is not None:
                from strake_spark.cache import text_key

                prep.text_key = text_key(
                    governed, params, user, prep.epoch, self.config.query_limits, today
                )
                resolved = self._cache.resolve_text(prep.text_key)
                if resolved is not None:
                    prep.plan_key, prep.schema = resolved
        return prep

    def _plan(self, prep: PreparedStatement) -> PreparedStatement:
        """Plan ``prep`` through ``sql``. The policy rewrite is already
        in ``governed_sql``, so ``sql`` runs without a user."""
        prep.df = self.sql(prep.governed_sql, params=prep.params)
        prep.pushdown = self._last_pushdown
        prep.federation = self._last_federation_trace
        prep.limit = self._plan_local.limit
        prep.plan_key = prep.schema = None
        return prep

    def _session_date(self) -> str | None:
        """Session time zone + today's date in it; None when Python has no
        zone of that name (fixed offsets such as "+08:00")."""
        from zoneinfo import ZoneInfo

        name = self.spark.conf.get("spark.sql.session.timeZone")
        try:
            zone = ZoneInfo(name)
        except (KeyError, ValueError, OSError):  # ZoneInfoNotFoundError is a KeyError
            return None
        return f"{name}|{datetime.now(zone).date().isoformat()}"

    def execute(
        self,
        query: str,
        user: str | None = None,
        params: dict[str, Any] | None = None,
        traceparent: str | None = None,
        prepared: PreparedStatement | None = None,
    ):
        """Full governed execution -> pyarrow.Table (zero-copy boundary,
        like reference docs/python-api.md:110-122).

        ``prepared`` (from ``prepare`` with the same query, user and
        params) skips planning; a statement prepared for other text, for
        another principal, or before a source or function was registered
        is ignored and the query is prepared afresh.

        Admission (global budget + per-source caps) and per-source
        circuit breakers wrap the statement's source work, planning
        included when this call plans (pushdown planning contacts
        sources): the reference's granularity (it wraps each source's
        TableProvider; one grant per query per source). A result-cache
        hit reads no source and takes neither. Only source faults move
        a breaker; see ``reliability.source_envelope``.

        ``traceparent`` (W3C trace-context header) joins the caller's
        distributed trace; the query span + plan/run children land in
        the tracer (reference telemetry.rs wraps queries the same way).
        """
        with self.tracer.span(
            "query.execute",
            {"db.statement.length": len(query), "enduser.id": user or ""},
            traceparent=traceparent,
        ) as root:
            self._warnings_local.value = []
            if prepared is not None and (
                prepared.query, prepared.user, prepared.params, prepared.epoch
            ) != (query, user, params, catalog_epoch()):
                prepared = None
            table, cached = self._execute_traced(query, user, params, prepared, root)
            root.set_attribute("strake.cache_hit", cached)
            root.set_attribute("strake.rows", table.num_rows)
            warnings = self._query_warnings(query, cached)
            self._warnings_local.value = warnings
            if warnings:
                root.set_attribute("strake.warnings", len(warnings))
            return table

    def last_warnings(self) -> list[str]:
        """Non-fatal warnings of this thread's most recent execute()
        (reference warnings.rs:19-40 + federation.rs:385-413): cache
        hits surface as ``x-strake-cache: hit`` (exact reference
        string) and queries over drifted views carry the views'
        STRAKE-2009..2011-coded drift lines. Network facades forward
        this list per query (REST ``warnings`` field, Flight
        ``strake.warnings`` schema metadata)."""
        return list(getattr(self._warnings_local, "value", []))

    def _query_warnings(self, query: str, cached: bool) -> list[str]:
        out: list[str] = []
        if cached:
            out.append("x-strake-cache: hit")  # federation.rs:410 parity
        out.extend(self._drift_warnings_for_query(query))
        return out

    def _drift_warnings_for_query(self, query: str) -> list[str]:
        """Drift warning lines for every drifted view the statement
        references. Drift is recorded at registration/read time keyed
        by the REGISTERED VIEW name (``<source>_<table>``) — a bare
        table key would collide across sources that share table names.
        The empty-registry early return keeps the common case free of
        a second SQL parse."""
        from strake_spark.sources.drift import drift_warnings_for, has_drift

        if not has_drift():
            return []
        out: list[str] = []
        for view in self._referenced_views(query):
            for w in drift_warnings_for(view) or drift_warnings_for(view.lower()):
                out.append(f"{view}: {w}")
        return out

    def _referenced_views(self, query: str) -> tuple[str, ...]:
        """Registered view names a statement references (AST-derived;
        empty when unparseable — same posture as _touched_sources)."""
        return self._views_in(sqlast.table_refs(query))

    def _views_in(self, tables) -> tuple[str, ...]:
        out: set[str] = set()
        for _, name in tables or ():
            if name in self._view_source:
                out.add(name)
            elif name.lower() in self._view_source:
                out.add(name.lower())
        return tuple(sorted(out))

    def _envelope(self, sources: tuple[str, ...], user: str | None):
        """Admission + breaker trials around one statement's source work
        (execute's plan and run, profile's plan and run)."""
        from strake_spark.reliability import source_envelope

        breakers = [self._breakers[s] for s in sources if s in self._breakers]
        return source_envelope(self._governor, sources, breakers, user=user)

    def _check_row_cap(self, rows: int) -> None:
        cap = self.config.query_limits.max_output_rows
        if cap and rows > cap:
            raise QueryRejected(f"result has {rows} rows > max_output_rows {cap}")

    def _execute_traced(self, query, user, params, prep, root):
        """Probe the cache first: a hit returns without admission or
        breakers. A miss enters the envelope to plan (when the caller did
        not) and run. One plan-key fingerprint and one cache read per
        statement: the probe's key is the put's key."""
        cache = self._cache
        started = time.time()
        hit = key = probed = None
        entered = False
        with contextlib.ExitStack() as envelope:
            with self.tracer.span("query.plan") as plan_span:
                if prep is None:
                    prep = self._statement(query, user, params)
                root.set_attribute("strake.sources", ",".join(prep.sources))
                if prep.df is None and prep.plan_key is not None:  # confirmed text key
                    probed = prep.plan_key
                    hit = cache.get(None, user, key=probed)
                text_hit = hit is not None
                plan_span.set_attribute("strake.text_hit", text_hit)
                if prep.df is None and not text_hit:
                    # expired or evicted, or never a text hit: plan inside
                    # the envelope, as pushdown planning contacts sources
                    envelope.enter_context(self._envelope(prep.sources, user))
                    entered = True
                    self._plan(prep)
                pushed = prep.pushdown
                plan_span.set_attribute("strake.pushdown", pushed is not None)
                if pushed is not None:
                    plan_span.set_attribute(
                        "strake.pushdown.summary",
                        str(getattr(pushed, "rewritten_sql", ""))[:500],
                    )
            if not text_hit and cache is not None:
                from strake_spark.cache import plan_fingerprint

                key = plan_fingerprint(prep.df, user)
                if key != probed:  # an expired text hit's key was just read
                    hit = cache.get(prep.df, user, key=key)
            if hit is not None:
                table = hit
            else:
                if not entered:
                    envelope.enter_context(self._envelope(prep.sources, user))
                with self.tracer.span("query.run"):
                    table = self._run(prep)
        if hit is None:
            self._check_row_cap(table.num_rows)
            if cache is not None:
                cache.put(prep.df, user, table, key=key)
        if key is not None and prep.text_key is not None:
            cache.remember_text(prep.text_key, key, table.schema.remove_metadata())
        if text_hit:
            self._metrics["cache_text_hits"] += 1
        self._log_query(query, user, started, cached=hit is not None, pushed=pushed)
        return table, hit is not None

    def _run(self, prep: PreparedStatement):
        """A planned statement's result as Arrow, under the query
        deadline. Remote rows are read here only."""
        from strake_spark.plans.federation import PushdownPlan
        from strake_spark.plans.partial import PartialPlan

        timeout = self.config.query_limits.query_timeout_seconds
        started = time.monotonic()
        pushed = prep.pushdown
        if isinstance(pushed, PushdownPlan) and pushed.remote.fetch is not None:
            with pushsql.deadline(timeout):
                return pushed.remote.fetch(pushed.rewritten_sql, prep.limit,
                                           schema=prep.df.schema, large_types=self._large_types())
        df = prep.df
        if isinstance(pushed, PartialPlan):
            with pushsql.deadline(timeout):
                relations = self._fetch_fragments(pushed)
            if relations is not None:
                # the plan's names are fixed in its SQL: one rebind at a time
                with pushed.lock, bound(self.spark, relations):
                    df = self.spark.sql(pushed.local_sql)
                if prep.limit is not None:
                    df = df.limit(prep.limit)
        return run_with_timeout(
            df, lambda d: d.toArrow(), timeout - (time.monotonic() - started)
        )

    def _large_types(self) -> bool:
        """Whether ``toArrow()`` gives large string/binary types."""
        return self.spark._jconf.arrowUseLargeVarTypes()

    def _fetch_fragments(self, plan) -> dict[str, DataFrame] | None:
        """Fetch each shipped fragment on the driver, reading at most
        FETCH_ROWS_MAX + 1 rows; each that fits replaces its relation by
        an in-memory one. Returns the plan's relations so changed, or
        None when no fragment fits and the planned scans stand."""
        relations = dict(plan.relations)
        large = self._large_types()
        fetched = False
        for scan in plan.scans:
            remote = scan.remote()
            if remote is None or remote.fetch is None:
                continue
            schema = relations[scan.temp_view].schema
            table = remote.fetch(scan.remote_sql, pushsql.FETCH_ROWS_MAX + 1,
                                 schema=schema, large_types=large)
            if table.num_rows <= pushsql.FETCH_ROWS_MAX:
                relations[scan.temp_view] = self.spark.createDataFrame(table, schema=schema)
                fetched = True
        return relations if fetched else None

    # ---------------------------------------------------------- inspection
    def explain_tree(self, query: str) -> str:
        """Formatted physical plan tree with pushdown markers
        (reference crates/runtime/src/query/plan_tree.rs:22-120). When
        same-source federation applies, the remote statement is shown
        first — everything under it executed inside the source. When it
        does NOT, a FederationDecision section states the reason each
        planning-ladder rung was rejected (the reference logs these as
        unsupported-node warnings, translator/mod.rs:76-145; here they
        are part of the explain output so users need no log access)."""
        from strake_spark.plans.federation import PushdownPlan, plan_sql
        from strake_spark.plans.iceberg_prune import IcebergPrunePlan
        from strake_spark.plans.tree import format_plan_tree

        ensure_select(query)
        decisions: list[tuple[str, str, str]] = []
        df, pushed = plan_sql(self.spark, query, trace=decisions)
        tree = format_plan_tree(df)
        if isinstance(pushed, PushdownPlan):
            return (
                f"RemoteQuery [PUSHED] source={pushed.remote.source} "
                f"dialect={pushed.remote.dialect}\n"
                f"  {pushed.rewritten_sql}\n"
            ) + tree
        header = footer = ""
        if isinstance(pushed, IcebergPrunePlan):
            header = f"IcebergPartitionPruning [{len(pushed.scans)} scans]\n" + "".join(
                f"  {s.view} -> [PRUNED] {s.files_after}/{s.files_before} files\n"
                for s in pushed.scans
            )
        elif pushed is not None:  # a PartialPlan
            header = f"PartialPushdown [{len(pushed.scans)} remote scans]\n" + "".join(
                f"  {s.view} -> [PUSHED to {s.context}] {s.remote_sql}\n"
                for s in pushed.scans
            )
        if decisions:
            width = max(len(r) for r, _, _ in decisions)
            footer = "\nFederationDecision\n" + "\n".join(
                f"  {rung.ljust(width)}  {status.upper():<8} {reason}"
                for rung, status, reason in decisions
            )
        return header + tree + footer

    def drift_report(self) -> list[dict]:
        """Structured schema-drift records accumulated this process
        (sources/drift.py): one record per drifted registration with the
        expected/actual/missing columns, type mismatches and their
        STRAKE-2009..2011 codes (reference context.rs SchemaDrift
        variant) — the audit surface for what was silently NULL-filled
        or coerced. Process-wide, like a log stream; bounded."""
        from strake_spark.sources.drift import drift_log

        return drift_log()

    def trace(self, query: str) -> dict[str, Any]:
        """Plan + stats report (reference crates/runtime/src/query/trace.rs:7-72)."""
        prep = self._plan(self._statement(query, None, None))
        df, pushed = prep.df, prep.pushdown
        rows, size = plan_stats(df)
        return {
            "query": query,
            "estimated_rows": rows,
            "estimated_bytes": size,
            "pushed_remote_sql": pushed.rewritten_sql if pushed else None,
            "federation_decision": [
                {"rung": r, "status": s, "reason": why}
                for r, s, why in prep.federation
            ],
            "analyzed": df._jdf.queryExecution().analyzed().toString(),
            "optimized": df._jdf.queryExecution().optimizedPlan().toString(),
            "physical": df._jdf.queryExecution().executedPlan().toString(),
            # plan-time warnings (drift lines for referenced views;
            # cache hits are an execute-time fact and surface through
            # last_warnings() / the facades instead)
            "warnings": self._drift_warnings_for_query(query),
        }

    def lineage(self, query: str) -> dict[str, Any]:
        """Column-level lineage: output column -> contributing registered
        view columns (the reference tracks the same provenance inside its
        SQL generator, crates/sql/src/sql_generator/context.rs; here it
        is a governance surface — masking audits, impact analysis).
        SELECT-clause lineage, best-effort; see plans/lineage.py."""
        from strake_spark.plans.lineage import column_lineage

        ensure_select(query)
        return column_lineage(self.spark, query)

    def validate_contracts(
        self, check_data: bool = True, sample_fraction: float | None = None
    ) -> dict[str, Any]:
        """Contract validation report (reference `strake validate`'s
        contract step, crates/cli/src/commands/validate.rs): schema
        errors per contract, plus row-rule violation counts (one
        aggregate scan per contracted table) when ``check_data``."""
        cfg = getattr(self.config, "contracts", None)
        if cfg is None or not cfg.enabled:
            return {"valid": True, "errors": [], "data_violations": {}}
        from strake_spark.governance.contracts import validate_data, validate_schema

        errors: list[str] = list(self._contract_errors)
        data: dict[str, dict[str, int]] = {}
        for contract in cfg.contracts:
            errors.extend(validate_schema(self.spark, contract))
            if check_data:
                try:
                    counts = validate_data(self.spark, contract, sample_fraction)
                except Exception as e:
                    # a failed scan is a FAILED validation, never a pass
                    errors.append(
                        f"{contract.table}: data validation failed: {str(e)[:200]}"
                    )
                    counts = {}
                if counts:
                    data[contract.table] = counts
        violated = any(
            isinstance(v, int) and v > 0
            for t in data.values()
            for v in t.values()
        )
        return {
            "valid": not errors and not violated,
            "errors": errors,
            "data_violations": data,
        }

    def impact(self, column: str, queries: list[str] | None = None) -> dict[str, Any]:
        """Reverse lineage / impact analysis: which statements read
        ``column`` ('view.column'), either in their outputs or to steer
        rows? Defaults to the engine's own query log — "what breaks if
        this source column is dropped or re-typed". Statements lineage
        cannot parse are listed under ``unanalyzable`` (never silently
        skipped)."""
        target = column.lower()
        if queries is not None:
            if isinstance(queries, str) or not all(
                isinstance(q, str) for q in queries
            ):
                raise ValueError("impact: 'queries' must be a list of SQL strings")
            stmts = list(queries)
        else:
            with self._log_lock:
                stmts = [q["query"] for q in self._query_log]
        hits, unanalyzable = [], []
        memo: dict[str, dict | None] = {}  # one analysis per DISTINCT text
        for stmt in stmts:
            if stmt in memo:
                lin = memo[stmt]
                if lin is None:
                    unanalyzable.append(stmt)
                    continue
            else:
                try:
                    lin = self.lineage(stmt)
                    memo[stmt] = lin
                except Exception:
                    memo[stmt] = None
                    unanalyzable.append(stmt)
                    continue
            out_cols = sorted(
                o for o, srcs in lin["outputs"].items()
                if any(s.lower() == target for s in srcs)
            )
            in_filters = any(s.lower() == target for s in lin["filters"])
            if out_cols or in_filters:
                hits.append(
                    {"query": stmt, "outputs": out_cols, "filter": in_filters}
                )
        return {"column": column, "impacted": hits, "unanalyzable": unanalyzable}

    def masking_audit(self, query: str, user: str) -> dict[str, Any]:
        """Which output columns of ``query`` derive from a column the
        active policy masks for ``user``? Combines the lineage surface
        with the policy model: per output, the list of contributing
        masked columns (empty list = clean). Lineage runs on the
        UNREWRITTEN statement so the mapping names the real tables."""
        lin = self.lineage(query)  # raises on unparseable: audit never
        # reports all-clear for a statement it could not analyze
        masked_cols: set[str] = set()
        if self._policies is not None and self._policies.policy.enabled:
            from strake_spark.governance.policies import effective_rules

            roles = tuple(sorted(self._policies.policy.users.get(user, ())))
            for tbl, rules in effective_rules(self._policies.policy, roles).items():
                for col in rules.masking:
                    masked_cols.add(f"{tbl}.{col}".lower())
        report = {
            out: sorted(c for c in srcs if c.lower() in masked_cols)
            for out, srcs in lin["outputs"].items()
        }
        return {
            "outputs": report,
            "tainted": sorted(o for o, cs in report.items() if cs),
            # masked columns steering WHERE/HAVING/join conditions: rows
            # can be selected BY a masked value even when it is never
            # displayed — the classic masking inference channel
            "filter_tainted": sorted(
                c for c in lin.get("filters", []) if c.lower() in masked_cols
            ),
            "unresolved": lin.get("unresolved", []),
        }

    def profile(
        self,
        query: str,
        user: str | None = None,
        traceparent: str | None = None,
    ) -> dict[str, Any]:
        """EXPLAIN ANALYZE: execute the query and report the EXECUTED
        plan with per-node runtime SQLMetrics — actual row counts,
        spills, shuffle bytes, scan times (reference
        crates/runtime/src/query/trace.rs:7-72). AQE wrappers are
        unwrapped so the report shows the plan that actually ran.

        Runs inside the SAME envelope as execute(): concurrency-governor
        admission, per-source circuit breakers, and the query timeout.
        The plan is driven by a JVM-side count over the executed plan's
        own RDD (plans/tree.py execute_plan_only), so no result rows are
        ever materialized on the driver; the counted cardinality is
        still checked against max_output_rows for parity with execute().
        """
        from strake_spark.plans.tree import (
            execute_plan_only,
            format_runtime_profile,
            runtime_profile,
        )

        sources = self._touched_sources(query)
        with self.tracer.span(
            "query.profile",
            {"db.statement.length": len(query), "enduser.id": user or ""},
            traceparent=traceparent,
        ) as root:
            root.set_attribute("strake.sources", ",".join(sources))
            with self._envelope(sources, user):
                with self.tracer.span("query.plan"):
                    df = self.sql(query, user=user)
                with self.tracer.span("query.run"):
                    n = run_with_timeout(
                        df, execute_plan_only, self.config.query_limits.query_timeout_seconds
                    )
            self._check_row_cap(n)
            prof = runtime_profile(df)
            root.set_attribute("strake.rows", n)
        return {
            "query": query,
            "rows": n,
            "nodes": prof,
            "formatted": format_runtime_profile(prof),
        }

    def query_log(self) -> list[dict[str, Any]]:
        with self._log_lock:
            return list(self._query_log)

    def spans(self) -> list[dict[str, Any]]:
        """Finished trace spans, newest last (reference telemetry.rs
        span surface; exported OTLP-shaped when telemetry.otlp_endpoint
        is configured)."""
        return [s.to_dict() for s in self.tracer.finished_spans()]

    def metrics(self) -> dict[str, Any]:
        """Operational counters (reference telemetry surface,
        crates/common/src/telemetry.rs — re-expressed as a plain dict a
        Prometheus exporter can scrape)."""
        out = dict(self._metrics)
        # counters exist from zero (a scrape that first sees a counter
        # at N cannot compute the rate over the gap)
        for k in ("queries_planned", "queries_executed", "cache_hits",
                  "cache_text_hits", "pushdown_queries"):
            out.setdefault(k, 0)
        out["sources_registered"] = len(self._views)
        out["spans_recorded"] = len(self.tracer.finished_spans())
        out["span_export_errors"] = self.tracer.export_errors
        out["breaker_states"] = {n: b.state for n, b in self._breakers.items()}
        return out

    # ------------------------------------------------------------ lifecycle
    def close(self) -> None:
        """Release engine-held state (reference ``StrakeConnection.close``,
        python/strake/__init__.pyi:63): flush buffered telemetry spans
        and drop the engine's references. The SparkSession itself is NOT
        stopped — it may be shared (tests, notebooks, multiple engines);
        stop it explicitly via ``engine.spark.stop()`` when the process
        owns it."""
        self.tracer.flush()
        self._cache = None
        with self._log_lock:
            self._query_log.clear()

    def __enter__(self) -> "StrakeEngine":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def _log_query(
        self, query: str, user: str | None, started: float, cached: bool, pushed=None
    ) -> None:
        self._metrics["queries_executed"] += 1
        if cached:
            self._metrics["cache_hits"] += 1
        if pushed is not None:
            self._metrics["pushdown_queries"] += 1
        with self._log_lock:
            self._query_log.append(
                {
                    "query": query,
                    "user": user,
                    "duration_s": round(time.time() - started, 4),
                    "cached": cached,
                    "ts": started,
                }
            )


def connect(
    config: EngineConfig | dict | str | None = None,
    spark: SparkSession | None = None,
    api_key: str | None = None,
    sources_config: str | None = None,
    **remote_kwargs,
):
    """Reference ``strake.connect`` equivalent (python/strake/__init__.py:10-39).

    URL dispatch mirrors ``StrakeConnection`` (python/src/connection.rs:
    303-330): a ``grpc://`` / ``grpcs://`` DSN returns the thin remote
    client (Flight to a strake-spark server, no local SparkSession);
    anything else builds the embedded engine. ``api_key`` is the remote
    bearer token; it is ignored for embedded mode. ``sources_config``
    is the reference's split-file convention (python-api.md:11-31):
    engine settings in the main file, source registrations in a
    separate sources.yaml (auto-discovered next to the main file when
    omitted and the main file declares no sources)."""
    if isinstance(config, str) and config.startswith(("grpc://", "grpcs://", "grpc+tls://")):
        from strake_spark.remote import RemoteEngine

        return RemoteEngine(config, api_key=api_key, **remote_kwargs)
    return StrakeEngine(spark=spark, config=config, sources_config=sources_config)
