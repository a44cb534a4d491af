"""User-isolated, TTL'd result cache.

Reference: crates/runtime/src/query/cache.rs — Parquet-on-disk result
cache keyed by SHA-256 of (plan repr, user id, sorted permissions) with
TTL + size-bounded LRU index, fail-open on errors (cache.rs:54-103,
42-50; policy at federation.rs:296-324).

Spark has no stable logical-plan hash, so the key fingerprints the
*optimized* plan string (normalized: expression IDs stripped) + user.
Values are stored as Arrow IPC files — cheap to write from and read to
the pyarrow boundary that ``StrakeEngine.execute`` serves.

In front of the plan key sits an in-memory *text index*: a SHA-256 of
the post-policy SQL, params, user, catalog epoch, query limits and the
session-zone date (``text_key``) maps to the plan key that answered it,
so a repeated statement is served without Catalyst. A text key serves
hits only once two plan-path resolutions agreed on its plan key: plans
that fold a fresh literal each time (``now()``) or draw a random seed
(``rand()``) never agree, so they never take the text path.
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
import threading
import time
from collections import OrderedDict

import pyarrow as pa
import pyarrow.feather as feather

from pyspark.sql import DataFrame

from strake_spark.config import CacheConfig

log = logging.getLogger("strake_spark.cache")

# Catalyst prints expression ids as name#123; they differ run-to-run for
# identical queries, so strip them from the fingerprint.
_EXPR_ID = re.compile(r"#\d+L?")

# text keys kept in the in-memory index (LRU beyond this)
TEXT_INDEX_MAX = 4096


def _v2_scan_options(plan) -> list[str]:
    """Options of every DataSource V2 scan in ``plan`` and its subqueries.
    A V2 relation prints as ``RelationV2[cols] <format>``: the pushed
    ``query`` (and the table, path, ``where``) live only in its options."""
    plans = [plan]
    subs = plan.subqueriesAll()
    plans.extend(subs.apply(i) for i in range(subs.size()))
    out = []
    for p in plans:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            node = leaves.apply(i)
            kind = node.getClass().getSimpleName()
            if kind == "DataSourceV2ScanRelation":
                node = node.relation()
            elif kind != "DataSourceV2Relation":
                continue
            out.append(node.options().asCaseSensitiveMap().toString())
    return out


def plan_fingerprint(df: DataFrame, user: str | None, permissions: tuple[str, ...] = ()) -> str:
    plan = df._jdf.queryExecution().optimizedPlan()
    canon = _EXPR_ID.sub("#", plan.toString())
    h = hashlib.sha256()
    h.update(canon.encode())
    if "RelationV2" in canon:
        for opts in _v2_scan_options(plan):
            h.update(b"\x00scan=" + opts.encode())
    h.update(f"\x00user={user or 'anonymous'}".encode())
    h.update(("\x00perms=" + ",".join(sorted(permissions))).encode())
    return h.hexdigest()


def text_key(sql: str, params, user: str | None, epoch: int, limits, today: str) -> str:
    """Key of a statement's text: the post-policy SQL, its params, the
    user, the catalog epoch, the query limits and the session-zone
    current date (which ``current_date()`` folds to)."""
    h = hashlib.sha256()
    for part in (sql, json.dumps(params, sort_keys=True, default=repr), repr(user),
                 str(epoch), repr(limits), today):
        h.update(part.encode())
        h.update(b"\x00")
    return h.hexdigest()


class ResultCache:
    def __init__(self, spark, config: CacheConfig) -> None:
        self.spark = spark
        self.config = config
        os.makedirs(config.directory, exist_ok=True)
        # text key -> [plan key, result schema, confirmed]
        self._text: OrderedDict[str, list] = OrderedDict()
        self._text_lock = threading.Lock()

    def _path(self, key: str) -> str:
        return os.path.join(self.config.directory, f"{key}.arrow")

    def resolve_text(self, tkey: str) -> tuple[str, pa.Schema] | None:
        """(plan key, result schema) of a confirmed text key, else None."""
        with self._text_lock:
            entry = self._text.get(tkey)
            if entry is None or not entry[2]:
                return None
            self._text.move_to_end(tkey)
            return entry[0], entry[1]

    def remember_text(self, tkey: str, plan_key: str, schema: pa.Schema) -> None:
        """Record one plan-path resolution of ``tkey``. The entry is
        confirmed once two resolutions in a row gave the same plan key."""
        with self._text_lock:
            entry = self._text.get(tkey)
            confirmed = entry is not None and entry[0] == plan_key
            self._text[tkey] = [plan_key, schema, confirmed]
            self._text.move_to_end(tkey)
            while len(self._text) > TEXT_INDEX_MAX:
                self._text.popitem(last=False)

    def get(self, df: DataFrame | None, user: str | None, key: str | None = None) -> pa.Table | None:
        """Fail-open probe (cache.rs fail-open semantics). ``key`` is the
        plan key when the caller already has it (``df`` may then be None)."""
        try:
            path = self._path(key or plan_fingerprint(df, user))
            if not os.path.exists(path):
                return None
            if time.time() - os.path.getmtime(path) > self.config.ttl_seconds:
                os.unlink(path)
                return None
            return feather.read_table(path)
        except Exception as e:  # pragma: no cover
            log.warning("cache get failed (ignored): %s", e)
            return None

    def put(self, df: DataFrame, user: str | None, table: pa.Table, key: str | None = None) -> None:
        try:
            self._evict_if_needed()
            path = self._path(key or plan_fingerprint(df, user))
            # write aside, then rename: a concurrent probe of the same key
            # (a text hit needs no plan, so it can race a re-put) never
            # reads a half-written file
            tmp = f"{path}.{threading.get_ident()}.tmp"
            feather.write_feather(table, tmp)
            os.replace(tmp, path)
        except Exception as e:  # pragma: no cover
            log.warning("cache put failed (ignored): %s", e)

    def _evict_if_needed(self) -> None:
        """LRU by mtime when over the size budget (cache.rs:42-50)."""
        budget = self.config.max_mb * 1024 * 1024
        entries = []
        total = 0
        for name in os.listdir(self.config.directory):
            p = os.path.join(self.config.directory, name)
            try:
                st = os.stat(p)
            except OSError:
                continue
            entries.append((st.st_mtime, st.st_size, p))
            total += st.st_size
        entries.sort()
        while total > budget and entries:
            _, size, p = entries.pop(0)
            try:
                os.unlink(p)
                total -= size
            except OSError:
                break
