"""File sources: parquet / csv / json over local paths or Hadoop-FS URLs.

Reference: crates/connectors/src/sources/file.rs — ListingTable over
local/remote URLs with schema inference or YAML-declared schema
(file.rs:233-236, 366-397), filter/pruning pushdown enabled
(crates/runtime/src/federation.rs:179-185). In Spark all of that is the
built-in reader: parquet gives predicate pushdown + partition pruning
for free; declared schemas skip inference (a full-scan cost on JSON/CSV
at 100 TB — always declare in production).

Object stores (file.rs:124-207 routes s3/gs/az/http/ftp/sftp through
OpenDAL): s3a:// gs:// abfss:// resolve through Hadoop FS connectors
when their jars are on the classpath; http(s):// and ftp:// spool
through the driver (stdlib urllib/ftplib — the documented small-file
path, matching the reference's whole-object OpenDAL fetch); sftp://
spools the same way over paramiko when installed, else the jar-free
SSH transport (sources/sshwire.py, r15 — validated against the real
OpenSSH client in tests).

Each table registers a temp view named ``<source>_<table>`` wrapped with
schema-drift reconciliation when a declared schema exists (see
sources/drift.py).
"""

from __future__ import annotations

import contextlib
import os
import threading

from pyspark.sql import DataFrame, SparkSession

from strake_spark.config import SourceConfig, TableConfig, opt_bool
from strake_spark.errors import SourceError
from strake_spark.governance.gate import sanitize_identifier
from strake_spark.sources.registry import ordered_map, source_type

_FORMATS = {"parquet", "csv", "json", "ndjson"}


def _read_one(
    spark: SparkSession, fmt: str, path: str, tbl: TableConfig, context: str = ""
) -> DataFrame:
    reader = spark.read
    opts = dict(tbl.options)
    declared = tbl.struct_type()
    if fmt == "parquet":
        df = reader.options(**opts).parquet(path)
        if declared is not None:
            from strake_spark.sources.drift import reconcile

            # context = the REGISTERED VIEW name: drift warnings key on
            # it, and a bare table name would collide across sources
            df = reconcile(df, declared, context=context or tbl.name)
        return df
    if fmt == "csv":
        opts.setdefault("header", "true")
        if declared is not None:
            return reader.options(**opts).schema(declared).csv(path)
        opts.setdefault("inferSchema", "true")
        return reader.options(**opts).csv(path)
    if fmt in ("json", "ndjson"):
        if declared is not None:
            return reader.options(**opts).schema(declared).json(path)
        return reader.options(**opts).json(path)
    raise SourceError(f"unsupported file format {fmt!r}")


def view_name(source: str, table: str) -> str:
    return f"{sanitize_identifier(source)}_{sanitize_identifier(table)}"


# config option -> hadoop conf key (object-store credentials;
# file.rs:124-207 routes these through OpenDAL — Spark routes through
# the Hadoop FS connectors, configured here per source)
_HADOOP_CONF = {
    "s3_access_key": "fs.s3a.access.key",
    "s3_secret_key": "fs.s3a.secret.key",
    "s3_endpoint": "fs.s3a.endpoint",
    "s3_path_style": "fs.s3a.path.style.access",
    "gcs_keyfile": "google.cloud.auth.service.account.json.keyfile",
    "azure_account_key": "fs.azure.account.key",
}


# Hadoop builds one FileSystem per scheme and bucket, from the
# configuration as it is at that first read, and caches it: a source
# that sets object-store keys holds this lock from setting them until
# its reads are done, so no other source's keys are in place meanwhile.
_object_store_keys = threading.Lock()


def _configure_object_store(spark: SparkSession, cfg: SourceConfig) -> None:
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for opt, key in _HADOOP_CONF.items():
        if opt in cfg.options:
            hconf.set(key, str(cfg.options[opt]))


def _spool_ftp(url: str, options: dict) -> str:
    """Fetch ftp:// files to a local spool dir (stdlib ftplib) and
    return the local path Spark reads.

    Reference file.rs:124-207 routes ftp/ftps through OpenDAL — also a
    whole-object fetch; there is no split-capable FTP reader anywhere.
    This is therefore explicitly the SMALL-FILE path (config refresh,
    dimension drops): bytes move through the driver once per
    registration, then Spark scans the local spool. Large-scale data
    belongs on a splittable store (s3a/gs/abfss route straight to
    executor-side Hadoop FS connectors above).

    sftp:// routes to the jar-free SSH transport (sources/sshwire.py,
    r15) through ``_spool_sftp`` — the spool shape is identical.
    """
    import tempfile
    from ftplib import FTP, error_perm
    from urllib.parse import unquote, urlparse

    u = urlparse(url)
    if u.scheme == "sftp":
        return _spool_sftp(url, options)
    spool = tempfile.mkdtemp(prefix="strake-ftp-")
    ftp = FTP()
    ftp.connect(u.hostname or "", u.port or 21, timeout=float(options.get("timeout", 30)))
    ftp.login(unquote(u.username or "anonymous"), unquote(u.password or ""))
    try:
        path = u.path or "/"
        try:
            names = ftp.nlst(path)  # directory listing (or [path] for a file)
        except error_perm:
            names = [path]
        single = len(names) == 1
        fetched: list[str] = []
        for remote in names:
            base = os.path.basename(remote.rstrip("/"))
            if not base:
                continue
            local = os.path.join(spool, base)
            try:
                with open(local, "wb") as f:
                    ftp.retrbinary(f"RETR {remote}", f.write)
            except error_perm:
                # RETR refused: a sub-directory in the listing (flat
                # fetch only, like OpenDAL's) — skip it. For a single
                # explicit path this IS the requested file: surface it.
                if os.path.exists(local):
                    os.unlink(local)
                if single:
                    raise SourceError(f"ftp fetch failed for {remote!r}")
                continue
            except Exception as e:  # noqa: BLE001 - transport error: surface with context
                if os.path.exists(local):
                    os.unlink(local)
                raise SourceError(f"ftp fetch failed for {remote!r}: {e}") from e
            fetched.append(local)
        if not fetched:
            raise SourceError(f"ftp source fetched no files from {path!r}")
        return fetched[0] if len(fetched) == 1 else spool
    finally:
        try:
            ftp.quit()
        except Exception:  # noqa: BLE001 - broken control socket must not
            ftp.close()    # mask the real (already-raised) error


def _spool_sftp(url: str, options: dict) -> str:
    """Fetch sftp:// files to a local spool dir and return the local
    path Spark reads — the same whole-object small-file posture as the
    ftp spool (reference file.rs:124-207 routes sftp through OpenDAL's
    whole-object fetch too).

    Transport: ``paramiko`` when installed (any server algorithm mix);
    otherwise the jar-free SSH client (sources/sshwire.py —
    curve25519-sha256 / ssh-ed25519 / aes128-ctr / hmac-sha2-256, the
    modern-server default suite; validated against the real OpenSSH
    client in tests). Host-key policy (both transports):
    ``host_key_fingerprint`` (OpenSSH SHA256:... form) pins the server
    key; with no pin the connection is REFUSED with the observed
    fingerprint in the error so the user can pin it, unless
    ``allow_unverified_host_key: true`` explicitly opts into
    accept-any-key (the password would otherwise be sent to an
    unverified peer)."""
    import tempfile
    from urllib.parse import unquote, urlparse

    u = urlparse(url)
    host = u.hostname or ""
    port = u.port or 22
    user = unquote(u.username or "anonymous")
    password = unquote(u.password or str(options.get("password", "")))
    timeout = float(options.get("timeout", 30))
    path = u.path or "/"
    spool = tempfile.mkdtemp(prefix="strake-sftp-")

    pinned = options.get("host_key_fingerprint")
    allow_unverified = bool(options.get("allow_unverified_host_key", False))

    def _fetch_with_paramiko() -> str:
        import socket as socket_mod

        import paramiko  # noqa: F401 — optional, absent in this container

        from strake_spark.sources.sshwire import host_key_fingerprint

        sock = socket_mod.create_connection((host, port), timeout=timeout)
        t = paramiko.Transport(sock)
        t.start_client(timeout=timeout)
        # same host-key policy as the sshwire path: verify the pin
        # BEFORE sending the password; refuse unpinned unless the user
        # opted in explicitly
        got = host_key_fingerprint(t.get_remote_server_key().asbytes())
        if pinned:
            if got != pinned:
                t.close()
                raise SourceError(
                    f"ssh host key mismatch: expected {pinned}, got {got}"
                )
        elif not allow_unverified:
            t.close()
            raise SourceError(
                "ssh host key not pinned: server presented "
                f"{got} — set host_key_fingerprint: '{got}' after "
                "verifying it out of band, or set "
                "allow_unverified_host_key: true to accept any key"
            )
        t.auth_password(username=user, password=password)
        sftp = paramiko.SFTPClient.from_transport(t)
        try:
            import stat as stat_mod

            try:
                is_dir = stat_mod.S_ISDIR(sftp.stat(path).st_mode or 0)
            except FileNotFoundError as e:
                raise SourceError(f"sftp path {path!r} not found") from e
            remotes = (
                [f"{path.rstrip('/')}/{n}" for n in sftp.listdir(path)]
                if is_dir
                else [path]
            )
            fetched = []
            for remote in remotes:
                local = os.path.join(spool, os.path.basename(remote))
                sftp.get(remote, local)
                fetched.append(local)
            return fetched[0] if len(fetched) == 1 else spool
        finally:
            t.close()

    try:
        import paramiko  # noqa: F401

        have_paramiko = True
    except ImportError:
        have_paramiko = False
    if have_paramiko:
        return _fetch_with_paramiko()

    from strake_spark.sources.sshwire import connect_sftp

    ssh, sftp = connect_sftp(
        host, port, user, password, timeout=timeout,
        host_key_fingerprint=pinned,
        allow_unverified=allow_unverified,
    )
    try:
        attrs = sftp.stat(path)
        if attrs.is_dir:
            remotes = [
                f"{path.rstrip('/')}/{name}"
                for name, a in sftp.listdir(path)
                if not a.is_dir  # flat fetch, like the ftp spool
            ]
        else:
            remotes = [path]
        fetched: list[str] = []
        for remote in remotes:
            local = os.path.join(spool, os.path.basename(remote))
            with open(local, "wb") as f:
                f.write(sftp.read_file(remote))
            fetched.append(local)
        if not fetched:
            raise SourceError(f"sftp source fetched no files from {path!r}")
        return fetched[0] if len(fetched) == 1 else spool
    finally:
        ssh.close()


def _spool_http(url: str, options: dict) -> str:
    """Fetch an http(s) object to a local spool file (stdlib urllib)
    and return the local path Spark reads. Like the ftp spool this is
    the whole-object small-file path (reference file.rs:124-207 routes
    http through OpenDAL the same way — HTTP has no directory listing
    or splittable reads); big data belongs on s3a/gs/abfss."""
    import tempfile
    import urllib.request
    from urllib.parse import urlparse

    name = os.path.basename(urlparse(url).path) or "object"
    spool = tempfile.mkdtemp(prefix="strake-http-")
    local = os.path.join(spool, name)
    req = urllib.request.Request(url)
    for k, v in (options.get("http_headers") or {}).items():
        req.add_header(str(k), str(v))
    try:
        with urllib.request.urlopen(
            req, timeout=float(options.get("timeout", 30))
        ) as resp, open(local, "wb") as f:
            while True:
                chunk = resp.read(1 << 20)
                if not chunk:
                    break
                f.write(chunk)
    except Exception as e:  # noqa: BLE001 - transport error: surface with context
        raise SourceError(f"http fetch failed for {url!r}: {e}") from e
    return local


@source_type("parquet", "csv", "json", "ndjson", "file")
def register_file_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    fmt = cfg.type if cfg.type in _FORMATS else str(cfg.options.get("format", "parquet"))
    base = cfg.url or ""
    if not cfg.tables:
        raise SourceError(f"file source {cfg.name!r} declares no tables")
    # string-aware (r18 advice): env/JSON-substituted "false" must not
    # silently enable the distributed readers
    distributed = opt_bool(cfg.options.get("distributed"))

    def register(tbl: TableConfig) -> str:
        path = tbl.path or os.path.join(base, f"{tbl.name}.{ 'parquet' if fmt == 'parquet' else fmt }")
        if distributed and fmt == "parquet" and path.startswith(("s3://", "az://", "gs://")):
            # executor-parallel jar-free readers (r17): keys distribute
            # to tasks, each fetching/decoding its own objects with
            # pyarrow under mapInArrow — no driver byte bottleneck.
            # Opt-in via options.distributed; parquet only (the readers
            # decode parquet executor-side).
            if path.startswith("az://"):
                from strake_spark.sources.azblob import read_az_parquet_distributed

                df = read_az_parquet_distributed(spark, path, cfg.options)
            else:
                from strake_spark.sources.s3http import read_s3_parquet_distributed

                opts = dict(cfg.options)
                if path.startswith("gs://"):
                    opts.setdefault("s3_endpoint", "https://storage.googleapis.com")
                    opts.setdefault("s3_access_key", opts.get("gcs_hmac_key"))
                    opts.setdefault("s3_secret_key", opts.get("gcs_hmac_secret"))
                    path = "s3://" + path[len("gs://"):]
                df = read_s3_parquet_distributed(spark, path, opts)
            if cfg.default_limit:
                df = df.limit(cfg.default_limit)
            name = view_name(cfg.name, tbl.name)
            df.createOrReplaceTempView(name)
            return name
        if path.startswith(("ftp://", "ftps://", "sftp://")):
            path = _spool_ftp(path, cfg.options)
        elif path.startswith(("http://", "https://")):
            path = _spool_http(path, cfg.options)
        elif path.startswith("s3://"):
            # jar-free SigV4 spool (r17; sources/s3http.py). s3a:// is
            # untouched — it stays the executor-side splittable path
            # through the fs.s3a.* plumbing above when jars exist.
            from strake_spark.sources.s3http import spool_s3

            path = spool_s3(path, cfg.options)
        elif path.startswith("gs://"):
            # GCS's XML interop API is S3-compatible under HMAC keys —
            # the same SigV4 client serves gs:// with the interop
            # endpoint (public GCS feature). The hadoop gcs connector
            # path (keyfile plumbing above) remains the scale route.
            from strake_spark.sources.s3http import spool_s3

            opts = dict(cfg.options)
            opts.setdefault("s3_endpoint", "https://storage.googleapis.com")
            opts.setdefault("s3_access_key", opts.get("gcs_hmac_key"))
            opts.setdefault("s3_secret_key", opts.get("gcs_hmac_secret"))
            path = spool_s3("s3://" + path[len("gs://"):], opts)
        elif path.startswith("az://"):
            # jar-free SharedKey spool (r17; sources/azblob.py);
            # abfss:// stays the executor-side hadoop-azure path.
            from strake_spark.sources.azblob import spool_az

            path = spool_az(path, cfg.options)
        df = _read_one(spark, fmt, path, tbl, context=view_name(cfg.name, tbl.name))
        if cfg.default_limit:
            # per-source row cap (models.rs SourceConfig.default_limit):
            # every view over this source is bounded — a blunt guard for
            # sources whose full scan would be pathological
            df = df.limit(cfg.default_limit)
        name = view_name(cfg.name, tbl.name)
        df.createOrReplaceTempView(name)
        return name

    sets_keys = any(opt in cfg.options for opt in _HADOOP_CONF)
    with _object_store_keys if sets_keys else contextlib.nullcontext():
        _configure_object_store(spark, cfg)
        return ordered_map(register, cfg.tables)
