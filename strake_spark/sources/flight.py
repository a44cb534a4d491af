"""Arrow Flight source — federate to Flight / Flight SQL endpoints.

Reference: crates/connectors/src/sources/flight.rs:23-60 (register any
Flight SQL endpoint — Snowflake, Dremio, another engine instance — as a
table provider).

Spark-first shape: a Flight query's ``FlightInfo`` carries N endpoints,
each with its own ticket and preferred locations — that IS a partition
plan. We map one Spark InputPartition per Flight endpoint, so a server
that shards a result across 32 endpoints gets 32 parallel executor-side
``do_get`` streams. Arrow record batches flow straight from the wire
into the scan with no row conversion.

Auth: optional static bearer token via ``token`` option (sent as an
authorization header), matching the reference's Flight client config.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from strake_spark.config import SourceConfig
from strake_spark.errors import SourceError
from strake_spark.sources.registry import ensure_format, source_type

FORMAT_NAME = "strake_flight"


def _call_options(options):
    import pyarrow.flight as fl

    headers = []
    token = options.get("token")
    if token:
        headers.append((b"authorization", f"Bearer {token}".encode()))
    return fl.FlightCallOptions(headers=headers) if headers else None


def _descriptor(options):
    import pyarrow.flight as fl

    cmd = options.get("command")
    path = options.get("path")
    if cmd:
        return fl.FlightDescriptor.for_command(cmd.encode())
    if path:
        return fl.FlightDescriptor.for_path(*path.split("/"))
    raise SourceError("flight source needs 'command' (query) or 'path' option")


def _client(location: str):
    import pyarrow.flight as fl

    return fl.FlightClient(location)


@dataclass
class _Endpoint(InputPartition):
    ticket: bytes
    locations: tuple[str, ...]  # empty -> use the original server


class FlightReader(DataSourceReader):
    def __init__(self, options, schema: StructType) -> None:
        self.options = options
        self.schema = schema

    def partitions(self):
        client = _client(self.options["location"])
        try:
            info = client.get_flight_info(
                _descriptor(self.options), _call_options(self.options)
            )
            return [
                _Endpoint(
                    ep.ticket.ticket,
                    tuple(str(loc.uri.decode() if isinstance(loc.uri, bytes) else loc.uri)
                          for loc in ep.locations),
                )
                for ep in info.endpoints
            ]
        finally:
            client.close()

    def read(self, partition: _Endpoint):
        import pyarrow.flight as fl

        location = partition.locations[0] if partition.locations else self.options["location"]
        client = _client(location)
        try:
            reader = client.do_get(
                fl.Ticket(partition.ticket), _call_options(self.options)
            )
            for chunk in reader:
                yield chunk.data
        finally:
            client.close()


class FlightDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        client = _client(self.options["location"])
        try:
            info = client.get_flight_info(
                _descriptor(self.options), _call_options(self.options)
            )
            return from_arrow_schema(info.schema, prefer_timestamp_ntz=True)
        finally:
            client.close()

    def reader(self, schema: StructType) -> DataSourceReader:
        return FlightReader(self.options, schema)


@source_type("flight", "flight_sql")
def register_flight_source(spark: SparkSession, cfg: SourceConfig) -> list[str]:
    from strake_spark.sources.file import view_name

    if not cfg.url:
        raise SourceError(f"flight source {cfg.name!r} needs url (grpc://host:port)")
    ensure_format(spark, FlightDataSource)
    registered: list[str] = []
    for tbl in cfg.tables:
        options = {"location": cfg.url}
        if cfg.password:
            options["token"] = cfg.password
        if "token" in cfg.options:
            options["token"] = str(cfg.options["token"])
        # a table maps to either a path descriptor or a command (query)
        if tbl.options.get("command"):
            options["command"] = str(tbl.options["command"])
        else:
            options["path"] = tbl.path or tbl.name
        reader = spark.read.format(FORMAT_NAME).options(**options)
        declared = tbl.struct_type()
        if declared is not None:
            reader = reader.schema(declared)
        df = reader.load()
        view = view_name(cfg.name, tbl.name)
        df.createOrReplaceTempView(view)
        registered.append(view)
    return registered
