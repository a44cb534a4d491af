"""REST source — HTTP JSON APIs as Spark tables.

Reference: crates/connectors/src/sources/rest.rs (931 LoC):
- auth: Basic / Bearer / OAuth2 client-credentials / JWT assertion
  (rest.rs:45-79)
- pagination: offset-limit / page-number / response-token / Link-header /
  body-URL (rest.rs:88-114), executed page-by-page at scan time by a
  custom RestExec (rest.rs:450-556)
- records extracted from a configurable JSON path; schema inferred from
  a sample page (rest.rs:564)
- declarative param mapping (column+operator -> query param,
  rest.rs:34-39) — here expressed as static ``params`` config plus a
  ``where``-free design note: Spark-side filter pushdown into query
  params is deliberately NOT wired through DataSourceReader.pushFilters
  (see pushsql.SqlReader for the shared-read-plan hazard).

Spark-first shape: a Python DataSource whose ``read`` runs ON AN
EXECUTOR and streams pages as Arrow record batches — the driver never
materializes the dataset. Pagination is inherently sequential (each page
points at the next), so the scan is one input partition; downstream
transformations repartition as needed. JWT-assertion auth requires a
crypto library that is not vendored — it raises NotImplementedError with
the config shape documented, matching the brief's stub policy.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources.registry import ensure_format, source_type

FORMAT_NAME = "strake_rest"

_PAGINATION_STYLES = ("none", "offset", "page", "token", "link", "body_url")


def _body_json(resp, what: str):
    """Parse a response body loudly: an API that answers 200 with a
    non-JSON body (HTML error page, proxy banner) must raise
    SourceError with the body's head, not a raw JSONDecodeError."""
    try:
        return resp.json()
    except ValueError as e:  # json.JSONDecodeError / simplejson variants
        raise SourceError(
            f"{what}: response is not JSON ({resp.text[:200]!r})"
        ) from e


def _dig(obj, path: str):
    """Dotted-path extraction: '' -> obj itself."""
    if not path:
        return obj
    cur = obj
    for part in path.split("."):
        if cur is None:
            return None
        if isinstance(cur, dict):
            cur = cur.get(part)
        elif isinstance(cur, list) and part.isdigit():
            cur = cur[int(part)] if int(part) < len(cur) else None
        else:
            return None
    return cur


class _Auth:
    """Auth header factory (rest.rs:45-79 behaviors)."""

    def __init__(self, options) -> None:
        self.kind = (options.get("auth_type") or "none").lower()
        self.options = options
        self._token: str | None = None
        self._token_expiry = 0.0

    def headers(self) -> dict[str, str]:
        o = self.options
        if self.kind == "none":
            return {}
        if self.kind == "basic":
            import base64

            cred = f"{o.get('username', '')}:{o.get('password', '')}"
            return {"Authorization": "Basic " + base64.b64encode(cred.encode()).decode()}
        if self.kind == "bearer":
            return {"Authorization": f"Bearer {o.get('token', '')}"}
        if self.kind == "oauth2":
            return {"Authorization": f"Bearer {self._oauth2_token()}"}
        if self.kind == "jwt":
            return {"Authorization": f"Bearer {self._jwt_assertion()}"}
        raise SourceError(f"unknown auth_type {self.kind!r}")

    def _jwt_assertion(self) -> str:
        """Self-signed service-account JWT (reference rest.rs:45-79 /
        rest_auth.rs:207-261): iss/aud/iat/exp claims signed with the
        configured key, refreshed before expiry. HS256 runs stdlib-side;
        RS256 (the reference default for Google/GitHub-style service
        accounts) signs via the pure-integer RSASSA path in jwtauth with
        a PKCS#1/PKCS#8 PEM private key; ES256 rides the `cryptography`
        package and raises where it is absent."""
        if self._token is not None and time.time() < self._token_expiry - 30:
            return self._token
        from strake_spark.jwtauth import build_assertion

        o = self.options
        expiry = int(o.get("jwt_expiry_secs", 3600))
        custom = o.get("jwt_claims")
        if isinstance(custom, str):
            import json as _json

            custom = _json.loads(custom)
        self._token = build_assertion(
            o.get("jwt_issuer", ""),
            o.get("jwt_audience", ""),
            algorithm=o.get("jwt_algorithm", "HS256"),
            secret=o.get("jwt_key"),
            private_key_pem=o.get("jwt_private_key_pem"),
            expiry_secs=expiry,
            subject=o.get("jwt_subject"),
            claims=custom,
        )
        self._token_expiry = time.time() + expiry
        return self._token

    def _oauth2_token(self) -> str:
        if self._token is not None and time.time() < self._token_expiry - 30:
            return self._token
        import requests

        o = self.options
        resp = requests.post(
            o["token_url"],
            data={
                "grant_type": "client_credentials",
                "client_id": o.get("client_id", ""),
                "client_secret": o.get("client_secret", ""),
                **({"scope": o["scope"]} if o.get("scope") else {}),
            },
            timeout=float(o.get("timeout", "30")),
        )
        resp.raise_for_status()
        body = _body_json(resp, "oauth2 token endpoint")
        try:
            self._token = body["access_token"]
        except (KeyError, TypeError) as e:
            raise SourceError(
                f"oauth2 token endpoint returned no access_token: {body!r}"
            ) from e
        try:
            expires = float(body.get("expires_in", 3600))
        except (ValueError, TypeError) as e:
            raise SourceError(
                f"oauth2 token endpoint returned a non-numeric expires_in: "
                f"{body.get('expires_in')!r}"
            ) from e
        self._token_expiry = time.time() + expires
        return self._token


def _set_path(obj: dict, path: str, value) -> None:
    """Dotted-path assignment into nested dicts (creates levels),
    the write-side twin of _dig — used to inject pagination cursors
    into POST bodies (GraphQL variables)."""
    parts = path.split(".")
    cur = obj
    for part in parts[:-1]:
        nxt = cur.get(part)
        if not isinstance(nxt, dict):
            nxt = cur[part] = {}
        cur = nxt
    cur[parts[-1]] = value


def _get_with_retry(session, url, params, timeout, options, json_body=None):
    """GET (or POST when a ``json_body`` is given — the GraphQL path)
    with exponential-backoff retry on transport errors and 5xx
    (reference wraps connector fetches in retry.rs policy). 4xx are
    permanent — auth/shape errors surface immediately."""
    import requests

    from strake_spark.config import RetryConfig
    from strake_spark.reliability import retry_call

    policy = RetryConfig(
        max_attempts=int(options.get("retry_attempts", "3")),
        base_ms=int(options.get("retry_base_ms", "200")),
        cap_ms=int(options.get("retry_cap_ms", "5000")),
    )

    def attempt():
        if json_body is not None:
            resp = session.post(url, params=params, json=json_body, timeout=timeout)
        else:
            resp = session.get(url, params=params, timeout=timeout)
        if resp.status_code >= 500:
            resp.raise_for_status()
        return resp

    resp = retry_call(
        attempt,
        policy,
        retryable=(requests.ConnectionError, requests.Timeout, requests.HTTPError),
    )
    resp.raise_for_status()
    return resp


def _fetch_pages(options):
    """Yield lists of record dicts, one per page, following the
    configured pagination style until exhaustion or max_pages."""
    import requests

    url = options["url"]
    style = (options.get("pagination") or "none").lower()
    if style not in _PAGINATION_STYLES:
        raise SourceError(
            f"unknown pagination {style!r} (known: {_PAGINATION_STYLES})"
        )
    records_path = options.get("records_path", "")
    params = dict(json.loads(options.get("params", "{}")))
    headers = dict(json.loads(options.get("headers", "{}")))
    headers.update(_Auth(options).headers())
    timeout = float(options.get("timeout", "30"))
    max_pages = int(options.get("max_pages", "1000"))
    page_size = int(options.get("page_size", "100"))

    session = requests.Session()
    session.headers.update(headers)

    offset_param = options.get("offset_param", "offset")
    limit_param = options.get("limit_param", "limit")
    page_param = options.get("page_param", "page")
    start_page = int(options.get("start_page", "1"))
    token_param = options.get("token_param", "page_token")
    token_field = options.get("token_field", "next_token")
    next_url_field = options.get("next_url_field", "next")
    # POST/GraphQL support: a JSON request body template; token-style
    # pagination can inject the cursor INTO the body (token_body_field,
    # e.g. "variables.after" for Relay cursors) and stop on a has-more
    # boolean (more_field, e.g. "data.x.pageInfo.hasNextPage") since
    # cursor fields often stay non-null on the final page
    body_tpl = json.loads(options["body"]) if options.get("body") else None
    token_body_field = options.get("token_body_field")
    more_field = options.get("more_field")
    if style == "token" and token_body_field and body_tpl is None:
        # Without a body there is nowhere to inject the cursor: the
        # query-param path is skipped (token_body_field set) AND the
        # body path is skipped (no template) — every page would repeat
        # the first request until max_pages and fail with a misleading
        # runaway-cursor error. Reject the combination up front. Scoped
        # to token pagination (r12 advice): under any other style
        # token_body_field is simply unused and must not reject an
        # otherwise-valid config.
        raise SourceError(
            "token_body_field requires a 'body' template to inject the cursor "
            "into (set body='{...}', or drop token_body_field to send the "
            "cursor as the query parameter token_param)"
        )

    offset = 0
    page_no = start_page
    token = None
    next_url = None

    for _ in range(max_pages):
        q = dict(params)
        req_url = url
        if style == "offset":
            q[offset_param] = str(offset)
            q[limit_param] = str(page_size)
        elif style == "page":
            q[page_param] = str(page_no)
            q[limit_param] = str(page_size)
        elif style == "token" and token is not None and not token_body_field:
            q[token_param] = token
        elif style in ("link", "body_url") and next_url is not None:
            req_url, q = next_url, {}  # next link is already fully formed

        req_body = None
        if body_tpl is not None:
            req_body = json.loads(json.dumps(body_tpl))  # fresh copy per page
            if style == "token" and token is not None and token_body_field:
                _set_path(req_body, token_body_field, token)
        resp = _get_with_retry(session, req_url, q, timeout, options, json_body=req_body)
        body = _body_json(resp, f"rest page fetch {req_url!r}")
        records = _dig(body, records_path)
        if records is None:
            records = []
        if isinstance(records, dict):
            records = [records]
        if not isinstance(records, list):
            raise SourceError(
                f"records_path {records_path!r} resolved to {type(records).__name__}"
            )
        if records:
            yield records

        if style == "none":
            return
        if style == "offset":
            if len(records) < page_size:
                return
            offset += len(records)
        elif style == "page":
            if len(records) < page_size:
                return
            page_no += 1
        elif style == "token":
            token = _dig(body, token_field)
            if not token:
                return
            if more_field is not None and not _dig(body, more_field):
                return
        elif style == "link":
            next_url = resp.links.get("next", {}).get("url")
            if not next_url:
                return
        elif style == "body_url":
            next_url = _dig(body, next_url_field)
            if not next_url:
                return
    raise SourceError(f"pagination exceeded max_pages={max_pages} (runaway API?)")


def _records_to_batch(
    records: list[dict], schema: StructType, field_paths: dict[str, str] | None = None
):
    """``field_paths`` maps a column name to a dotted path inside each
    record (e.g. user_login -> user.login), so nested API payloads can
    surface as flat analytics columns without a JSON post-pass — the
    GitHub preset (sources/github.py) relies on it."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    fp = field_paths or {}
    cols = {
        f.name: [_dig(r, fp[f.name]) if f.name in fp else r.get(f.name) for r in records]
        for f in schema.fields
    }
    arrays = {}
    for n, v in cols.items():
        try:
            arrays[n] = pa.array(v, type=arrow_schema.field(n).type)
        except (pa.lib.ArrowInvalid, pa.lib.ArrowTypeError, OverflowError) as e:
            # server values that do not fit the declared column type
            # must name the column and sample, not die as a raw
            # pyarrow error in the executor
            bad = next((x for x in v if x is not None), None)
            raise SourceError(
                f"rest response field {n!r} does not match declared type "
                f"{arrow_schema.field(n).type}: sample {bad!r} ({e})"
            ) from e
    return pa.RecordBatch.from_pydict(arrays)


@dataclass
class _PageRange(InputPartition):
    """Offset window [start, end) one executor fetches; end None =
    sequential mode (whole stream in one partition)."""

    start: int | None
    end: int | None


class RestReader(DataSourceReader):
    def __init__(self, options, schema: StructType) -> None:
        self._field_paths = json.loads(options.get("field_paths", "{}"))
        self.options = options
        self.schema = schema

    def partitions(self):
        """Offset pagination is random-access: when the caller declares
        the collection size (``total`` option, or ``total_field`` naming
        a count field in the first page's body), the offset space splits
        into ``num_partitions`` ranges fetched by different executors in
        parallel. Cursor-style styles (token/link/body_url) are
        inherently sequential — each page names the next."""
        style = (self.options.get("pagination") or "none").lower()
        n = int(self.options.get("num_partitions", "1"))
        if style != "offset" or n <= 1:
            return [_PageRange(None, None)]
        total = self.options.get("total")
        if total is None and self.options.get("total_field"):
            import requests

            headers = dict(json.loads(self.options.get("headers", "{}")))
            headers.update(_Auth(self.options).headers())
            params = dict(json.loads(self.options.get("params", "{}")))
            params[self.options.get("offset_param", "offset")] = "0"
            params[self.options.get("limit_param", "limit")] = "1"
            resp = requests.get(
                self.options["url"], params=params, headers=headers,
                timeout=float(self.options.get("timeout", "30")),
            )
            resp.raise_for_status()
            total = _dig(
                _body_json(resp, "rest total_field probe"),
                self.options["total_field"],
            )
        if not total:
            return [_PageRange(None, None)]
        try:
            total = int(total)
        except (ValueError, TypeError) as e:
            raise SourceError(
                f"rest total_field {self.options['total_field']!r} is not an "
                f"integer: {total!r}"
            ) from e
        page = int(self.options.get("page_size", "100"))
        per = -(-total // n)  # ceil
        per = -(-per // page) * page  # align to page_size
        return [
            _PageRange(s, min(s + per, total)) for s in range(0, total, per)
        ]

    def read(self, partition: _PageRange):
        opts = dict(self.options)
        if partition.start is not None:
            # bounded window: sequential page loop within [start, end)
            opts["pagination"] = "offset"
            page = int(opts.get("page_size", "100"))
            offset_param = opts.get("offset_param", "offset")
            limit_param = opts.get("limit_param", "limit")
            base_params = dict(json.loads(opts.get("params", "{}")))
            for off in range(partition.start, partition.end, page):
                win = dict(base_params)
                win[offset_param] = str(off)
                win[limit_param] = str(min(page, partition.end - off))
                one = dict(opts)
                one["params"] = json.dumps(win)
                one["pagination"] = "none"
                for records in _fetch_pages(one):
                    yield _records_to_batch(records, self.schema, self._field_paths)
            return
        for records in _fetch_pages(self.options):
            yield _records_to_batch(records, self.schema, self._field_paths)


class RestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        """Infer from a sample page (rest.rs:564) when columns aren't
        declared: fetch the first page and let Arrow type the records."""
        import pyarrow as pa

        from pyspark.sql.pandas.types import from_arrow_schema

        sample_opts = dict(self.options)
        sample_opts["max_pages"] = "1"
        records: list[dict] = []
        try:
            for page in _fetch_pages(sample_opts):
                records = page
                break
        except SourceError as e:
            if "max_pages" not in str(e):
                raise
        if not records:
            raise SourceError(
                "cannot infer REST schema from an empty response; declare columns"
            )
        tbl = pa.Table.from_pylist(records)
        return from_arrow_schema(tbl.schema, prefer_timestamp_ntz=True)

    def reader(self, schema: StructType) -> DataSourceReader:
        return RestReader(self.options, schema)


@dataclass(frozen=True)
class _RestDefaults:
    """Source-level options inherited by each table."""

    keys = (
        "auth_type", "username", "password", "token", "token_url",
        "client_id", "client_secret", "scope", "pagination", "page_size",
        "offset_param", "limit_param", "page_param", "start_page",
        "token_param", "token_field", "next_url_field", "records_path",
        "params", "headers", "timeout", "max_pages", "field_paths",
        "body", "token_body_field", "more_field",
    )


@source_type("rest")
def register_rest_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    from strake_spark.sources.file import view_name

    if not cfg.url and not all(t.path for t in cfg.tables):
        raise SourceError(f"rest source {cfg.name!r} needs url or per-table paths")
    ensure_format(spark, RestDataSource)
    registered: list[str] = []
    base = (cfg.url or "").rstrip("/")
    for tbl in cfg.tables:
        endpoint = tbl.path or f"{base}/{tbl.name}"
        if not endpoint.startswith(("http://", "https://")):
            endpoint = f"{base}/{endpoint.lstrip('/')}"
        options: dict[str, str] = {"url": endpoint}
        if cfg.username:
            options["username"] = cfg.username
        if cfg.password:
            options["password"] = cfg.password
        for k in _RestDefaults.keys:
            if k in cfg.options:
                options[k] = str(cfg.options[k])
            if k in tbl.options:
                options[k] = str(tbl.options[k])
        reader = spark.read.format(FORMAT_NAME).options(**options)
        declared = tbl.struct_type()
        if declared is not None:
            reader = reader.schema(declared)
        df = reader.load()
        view = view_name(cfg.name, tbl.name)
        df.createOrReplaceTempView(view)
        registered.append(view)
    return registered
