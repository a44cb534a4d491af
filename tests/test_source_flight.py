"""Flight connector vs an in-process pyarrow Flight server, including
multi-endpoint partitioning and bearer-token auth."""

from __future__ import annotations

import threading

import pyarrow as pa
import pyarrow.flight as fl
import pyarrow.parquet as pq
import pytest

from strake_spark.config import parse_config
from strake_spark.sources import flight as flight_src
from strake_spark.sources.registry import ensure_format
from strake_spark.sources.registry import register_source
from tests.conftest import SF_DIR


class _Server(fl.FlightServerBase):
    """Serves the nation table: path descriptor -> 1 endpoint;
    command 'nation:sharded' -> one endpoint per region shard."""

    def __init__(self):
        super().__init__("grpc://127.0.0.1:0")
        self.table = pq.read_table(f"{SF_DIR}/nation.parquet")

    def _shards(self):
        return {
            f"region-{r}": self.table.filter(
                pa.compute.equal(self.table["n_regionkey"], r)
            )
            for r in range(5)
        }

    def get_flight_info(self, context, descriptor):
        if descriptor.command == b"nation:sharded":
            endpoints = [
                fl.FlightEndpoint(k.encode(), []) for k in self._shards()
            ]
        else:
            endpoints = [fl.FlightEndpoint(b"nation", [])]
        return fl.FlightInfo(self.table.schema, descriptor, endpoints, -1, -1)

    def do_get(self, context, ticket):
        t = ticket.ticket
        if t == b"nation":
            return fl.RecordBatchStream(self.table)
        if t.startswith(b"region-"):
            return fl.RecordBatchStream(self._shards()[t.decode()])
        raise fl.FlightServerError(f"unknown ticket {t!r}")


class _AuthMiddlewareFactory(fl.ServerMiddlewareFactory):
    def start_call(self, info, headers):
        vals = headers.get("authorization") or headers.get(b"authorization") or []
        tok = vals[0] if vals else ""
        if isinstance(tok, bytes):
            tok = tok.decode()
        if tok != "Bearer tok123":
            raise fl.FlightUnauthenticatedError("bad token")
        return None


class _AuthServer(_Server):
    def __init__(self):
        fl.FlightServerBase.__init__(
            self,
            "grpc://127.0.0.1:0",
            middleware={"auth": _AuthMiddlewareFactory()},
        )
        self.table = pq.read_table(f"{SF_DIR}/nation.parquet")


@pytest.fixture(scope="module")
def flight_server():
    srv = _Server()
    t = threading.Thread(target=srv.serve, daemon=True)
    t.start()
    yield f"grpc://127.0.0.1:{srv.port}"
    srv.shutdown()


@pytest.fixture(scope="module")
def auth_server():
    srv = _AuthServer()
    t = threading.Thread(target=srv.serve, daemon=True)
    t.start()
    yield f"grpc://127.0.0.1:{srv.port}"
    srv.shutdown()


class TestFlightSource:
    def test_path_descriptor_full_table(self, spark, flight_server):
        ensure_format(spark, flight_src.FlightDataSource)
        df = (
            spark.read.format(flight_src.FORMAT_NAME)
            .option("location", flight_server)
            .option("path", "nation")
            .load()
        )
        assert df.count() == 25
        assert set(df.columns) == {"n_nationkey", "n_name", "n_regionkey"}

    def test_multi_endpoint_maps_to_partitions(self, spark, flight_server):
        ensure_format(spark, flight_src.FlightDataSource)
        df = (
            spark.read.format(flight_src.FORMAT_NAME)
            .option("location", flight_server)
            .option("command", "nation:sharded")
            .load()
        )
        assert df.rdd.getNumPartitions() == 5
        assert df.count() == 25

    def test_register_source(self, spark, flight_server):
        cfg = parse_config(
            {
                "sources": [
                    {
                        "name": "fx",
                        "type": "flight",
                        "url": flight_server,
                        "tables": [{"name": "nation"}],
                    }
                ]
            }
        )
        views = register_source(spark, cfg.sources[0])
        assert views == ["fx_nation"]
        n = spark.sql(
            "SELECT count(*) AS n FROM fx_nation WHERE n_regionkey = 0"
        ).collect()[0].n
        assert n == 5

    def test_bearer_token_auth(self, spark, auth_server):
        ensure_format(spark, flight_src.FlightDataSource)
        df = (
            spark.read.format(flight_src.FORMAT_NAME)
            .option("location", auth_server)
            .option("path", "nation")
            .option("token", "tok123")
            .load()
        )
        assert df.count() == 25

    def test_bad_token_rejected(self, spark, auth_server):
        ensure_format(spark, flight_src.FlightDataSource)
        with pytest.raises(Exception, match="(?i)unauthenticated|bad token"):
            (
                spark.read.format(flight_src.FORMAT_NAME)
                .option("location", auth_server)
                .option("path", "nation")
                .option("token", "WRONG")
                .load()
            )
