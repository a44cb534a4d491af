"""GitHub connector — a declarative preset over the generic REST source.

Reference surface: docs/connectors.md:47 ("GitHub API | REST / GraphQL |
Pre-built analytics for repo and issue data"). The reference ships this
as a configuration preset over its REST connector; same here — no new
wire code, just endpoint routing, Link-header pagination, bearer auth,
and curated flat schemas (nested payload fields surface as analytics
columns via the REST source's ``field_paths`` mapping).

Config::

    sources:
      - name: gh
        type: github
        repo: apache/spark          # for issues/pulls/commits/...
        # or: org: apache           # for repos
        # or: user: someone
        token: ghp_...              # optional; anonymous works, rate-limited
        url: https://api.github.com # override for GHE / tests
        tables:                     # optional; defaults to the repo set
          - name: issues
          - name: pulls

Tables: ``repos`` (org/user listing), ``issues``, ``pulls``,
``commits``, ``releases``, ``stargazers``. Each is a registered view
``<name>_<table>`` with a declared schema, so no inference request is
made at registration time. GitHub paginates with Link headers
(``rel="next"``) at up to 100 per page — the preset pins
``pagination: link`` and ``per_page=100``; cursor pagination is
inherently sequential, which matches the API's contract.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources.registry import ensure_format, source_type

# table -> (endpoint template, default query params,
#           [(column, spark_type, dotted_path_or_None), ...])
_TABLES: dict[str, tuple[str, dict, list[tuple[str, str, str | None]]]] = {
    "repos": (
        "{root}/repos",  # root = orgs/{org} or users/{user}
        {"per_page": "100"},
        [
            ("id", "bigint", None),
            ("name", "string", None),
            ("full_name", "string", None),
            ("private", "boolean", None),
            ("fork", "boolean", None),
            ("language", "string", None),
            ("stargazers_count", "bigint", None),
            ("forks_count", "bigint", None),
            ("open_issues_count", "bigint", None),
            ("owner_login", "string", "owner.login"),
            ("created_at", "string", None),
            ("updated_at", "string", None),
            ("pushed_at", "string", None),
        ],
    ),
    "issues": (
        "{base}/repos/{repo}/issues",
        {"state": "all", "per_page": "100"},
        [
            ("id", "bigint", None),
            ("number", "bigint", None),
            ("state", "string", None),
            ("title", "string", None),
            ("user_login", "string", "user.login"),
            ("comments", "bigint", None),
            ("created_at", "string", None),
            ("updated_at", "string", None),
            ("closed_at", "string", None),
        ],
    ),
    "pulls": (
        "{base}/repos/{repo}/pulls",
        {"state": "all", "per_page": "100"},
        [
            ("id", "bigint", None),
            ("number", "bigint", None),
            ("state", "string", None),
            ("title", "string", None),
            ("user_login", "string", "user.login"),
            ("draft", "boolean", None),
            ("created_at", "string", None),
            ("merged_at", "string", None),
            ("closed_at", "string", None),
            ("base_ref", "string", "base.ref"),
            ("head_ref", "string", "head.ref"),
        ],
    ),
    "commits": (
        "{base}/repos/{repo}/commits",
        {"per_page": "100"},
        [
            ("sha", "string", None),
            ("author_login", "string", "author.login"),
            ("author_name", "string", "commit.author.name"),
            ("author_email", "string", "commit.author.email"),
            ("authored_at", "string", "commit.author.date"),
            ("committed_at", "string", "commit.committer.date"),
            ("message", "string", "commit.message"),
        ],
    ),
    "releases": (
        "{base}/repos/{repo}/releases",
        {"per_page": "100"},
        [
            ("id", "bigint", None),
            ("tag_name", "string", None),
            ("name", "string", None),
            ("draft", "boolean", None),
            ("prerelease", "boolean", None),
            ("author_login", "string", "author.login"),
            ("created_at", "string", None),
            ("published_at", "string", None),
        ],
    ),
    "stargazers": (
        "{base}/repos/{repo}/stargazers",
        {"per_page": "100"},
        [
            ("login", "string", None),
            ("id", "bigint", None),
            ("type", "string", None),
        ],
    ),
}

# The GraphQL half of the reference's "REST / GraphQL" connector row:
# Relay-cursor pagination (variables.after <- pageInfo.endCursor, stop
# on hasNextPage) over POST {base}/graphql. One richer issues shape —
# reactions/labels counts are only reachable via GraphQL.
_GRAPHQL_ISSUES_QUERY = """
query($owner: String!, $name: String!, $after: String) {
  repository(owner: $owner, name: $name) {
    issues(first: 100, after: $after, states: [OPEN, CLOSED]) {
      pageInfo { hasNextPage endCursor }
      nodes {
        number state title
        author { login }
        comments { totalCount }
        reactions { totalCount }
        labels(first: 0) { totalCount }
        createdAt closedAt
      }
    }
  }
}
"""

_GRAPHQL_TABLES: dict[str, tuple[str, str, list[tuple[str, str, str | None]]]] = {
    "graphql_issues": (
        _GRAPHQL_ISSUES_QUERY,
        "data.repository.issues",  # collection root (nodes/pageInfo under it)
        [
            ("number", "bigint", None),
            ("state", "string", None),
            ("title", "string", None),
            ("author_login", "string", "author.login"),
            ("comment_count", "bigint", "comments.totalCount"),
            ("reaction_count", "bigint", "reactions.totalCount"),
            ("label_count", "bigint", "labels.totalCount"),
            ("created_at", "string", "createdAt"),
            ("closed_at", "string", "closedAt"),
        ],
    ),
}

_DEFAULT_TABLES = ("issues", "pulls", "commits")


@source_type("github")
def register_github_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    """Expand the preset into generic REST registrations."""
    from strake_spark.config import ColumnConfig, TableConfig
    from strake_spark.sources.rest import FORMAT_NAME, RestDataSource
    from strake_spark.sources.file import view_name

    base = (cfg.url or "https://api.github.com").rstrip("/")
    repo = cfg.options.get("repo")
    org = cfg.options.get("org")
    user = cfg.options.get("user")
    token = cfg.options.get("token") or cfg.password

    wanted = [t.name for t in cfg.tables] or list(_DEFAULT_TABLES)
    table_cols = {t.name: t for t in cfg.tables}
    ensure_format(spark, RestDataSource)
    registered: list[str] = []
    for name in wanted:
        if name in _GRAPHQL_TABLES:
            registered.append(
                _register_graphql(spark, cfg, name, base, repo, token, table_cols)
            )
            continue
        spec = _TABLES.get(name)
        if spec is None:
            raise SourceError(
                f"github preset has no table {name!r} "
                f"(known: {sorted(_TABLES) + sorted(_GRAPHQL_TABLES)})"
            )
        path_tpl, params, columns = spec
        if name == "repos":
            if org:
                root = f"{base}/orgs/{org}"
            elif user:
                root = f"{base}/users/{user}"
            else:
                raise SourceError("github 'repos' table needs org: or user:")
            endpoint = path_tpl.format(root=root)
        else:
            if not repo or "/" not in repo:
                raise SourceError(
                    f"github table {name!r} needs repo: owner/name in the source config"
                )
            endpoint = path_tpl.format(base=base, repo=repo)

        options: dict[str, str] = {
            "url": endpoint,
            "pagination": "link",
            "page_size": "100",
            "params": json.dumps(params),
            "headers": json.dumps(
                {
                    "Accept": "application/vnd.github+json",
                    "X-GitHub-Api-Version": "2022-11-28",
                }
            ),
            "field_paths": json.dumps(
                {c: p for c, _t, p in columns if p is not None}
            ),
        }
        if token:
            options["auth_type"] = "bearer"
            options["token"] = str(token)
        declared = table_cols.get(name)
        # per-table option overrides (params merge, the rest replace)
        if declared is not None and declared.options:
            extra = dict(declared.options)
            if "params" in extra:
                merged = {**params, **dict(extra.pop("params"))}
                options["params"] = json.dumps(
                    {k: str(v) for k, v in merged.items()}
                )
            for k, v in extra.items():
                options[k] = v if isinstance(v, str) else json.dumps(v)

        tbl = TableConfig(
            name=name,
            columns=[ColumnConfig(name=c, type=t) for c, t, _p in columns],
        )
        reader = spark.read.format(FORMAT_NAME).options(**options)
        schema = tbl.struct_type()
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load()
        view = view_name(cfg.name, name)
        df.createOrReplaceTempView(view)
        registered.append(view)
    return registered


def _register_graphql(
    spark: SparkSession, cfg: SourceConfig, name: str, base: str,
    repo: str | None, token, table_cols,
) -> str:
    """Relay-cursor GraphQL table: POST {base}/graphql with the cursor
    injected into variables.after; stops on pageInfo.hasNextPage."""
    from strake_spark.config import ColumnConfig, TableConfig
    from strake_spark.sources.file import view_name
    from strake_spark.sources.rest import FORMAT_NAME

    if not repo or "/" not in repo:
        raise SourceError(f"github table {name!r} needs repo: owner/name")
    if not token:
        raise SourceError(f"github table {name!r} needs a token (GraphQL API requires auth)")
    query, root, columns = _GRAPHQL_TABLES[name]
    owner, repo_name = repo.split("/", 1)
    options = {
        "url": f"{base}/graphql",
        "pagination": "token",
        "body": json.dumps({
            "query": query,
            "variables": {"owner": owner, "name": repo_name, "after": None},
        }),
        "token_body_field": "variables.after",
        "token_field": f"{root}.pageInfo.endCursor",
        "more_field": f"{root}.pageInfo.hasNextPage",
        "records_path": f"{root}.nodes",
        "headers": json.dumps({"Accept": "application/json"}),
        "auth_type": "bearer",
        "token": str(token),
        "field_paths": json.dumps({c: p for c, _t, p in columns if p is not None}),
    }
    declared = table_cols.get(name)
    if declared is not None and declared.options:
        for k, v in declared.options.items():
            options[k] = v if isinstance(v, str) else json.dumps(v)
    tbl = TableConfig(
        name=name, columns=[ColumnConfig(name=c, type=t) for c, t, _p in columns]
    )
    reader = spark.read.format(FORMAT_NAME).options(**options)
    schema = tbl.struct_type()
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.load()
    view = view_name(cfg.name, name)
    df.createOrReplaceTempView(view)
    return view
