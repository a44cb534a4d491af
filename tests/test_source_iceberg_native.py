"""Native Iceberg read path: a spec-shaped filesystem table (metadata
JSON + Avro manifest lists + Avro manifests + parquet data files) built
on disk, then read back with snapshot selection and time travel. The
Avro layer is the JVM's avro jar in both directions, so decode is the
battle-tested implementation, not a test double."""

from __future__ import annotations

import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import strake_spark as ss
from strake_spark.errors import SourceError
from strake_spark.sources.iceberg_native import (
    read_avro_records,
    read_iceberg_table,
)

# NOTE: real Iceberg manifests declare snapshot_id as ["null","long"];
# py4j re-unboxes java.lang.Long to Python int at every gateway crossing
# so a union member can't be forced from the Python side — the test
# schema uses plain long (the READER is generic and schema-driven, so
# it handles whatever the file declares; real writers resolve their own
# unions).
_MANIFEST_SCHEMA = json.dumps({
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {"name": "data_file", "type": {
            "type": "record", "name": "data_file", "fields": [
                {"name": "content", "type": "int", "default": 0},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
            ]}},
    ]})

_MLIST_SCHEMA = json.dumps({
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int", "default": 0},
        {"name": "content", "type": "int", "default": 0},
        {"name": "added_snapshot_id", "type": "long"},
    ]})


from strake_spark.sources.avro_source import write_avro as _write_avro


def _entry(path, n_rows, status=1, content=0):
    return {
        "status": status, "snapshot_id": 1,
        "data_file": {
            "content": content, "file_path": path, "file_format": "PARQUET",
            "record_count": n_rows,
            "file_size_in_bytes": os.path.getsize(path),
        },
    }


@pytest.fixture(scope="module")
def iceberg_table(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("iceberg") / "events_tbl"
    data, meta = root / "data", root / "metadata"
    data.mkdir(parents=True)
    meta.mkdir()
    fa = str(data / "a.parquet")
    fb = str(data / "b.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3], "v": ["x", "y", "z"]}), fa)
    pq.write_table(pa.table({"id": [4, 5], "v": ["p", "q"]}), fb)

    m1, m2 = str(meta / "m1.avro"), str(meta / "m2.avro")
    _write_avro(spark, m1, _MANIFEST_SCHEMA, [_entry(fa, 3)])
    _write_avro(spark, m2, _MANIFEST_SCHEMA, [_entry(fb, 2)])

    s1, s2 = str(meta / "snap-1.avro"), str(meta / "snap-2.avro")

    def mf(p):
        return {"manifest_path": p, "manifest_length": os.path.getsize(p),
                "partition_spec_id": 0, "content": 0, "added_snapshot_id": 1}

    _write_avro(spark, s1, _MLIST_SCHEMA, [mf(m1)])
    _write_avro(spark, s2, _MLIST_SCHEMA, [mf(m1), mf(m2)])

    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": str(root),
        "current-snapshot-id": 2,
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1_700_000_000_000,
             "manifest-list": s1},
            {"snapshot-id": 2, "timestamp-ms": 1_700_000_100_000,
             "manifest-list": s2},
        ],
    }
    (meta / "v2.metadata.json").write_text(json.dumps(metadata))
    (meta / "version-hint.text").write_text("2")
    return str(root)


# --------------------------------------------- partitioned table fixture
_PART_MANIFEST_SCHEMA = json.dumps({
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        {"name": "data_file", "type": {
            "type": "record", "name": "data_file", "fields": [
                {"name": "content", "type": "int", "default": 0},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "partition", "type": {
                    "type": "record", "name": "r102", "fields": [
                        {"name": "region", "type": ["null", "string"]},
                        {"name": "event_date", "type": ["null", "int"]},
                    ]}},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
            ]}},
    ]})

_PART_MLIST_SCHEMA = json.dumps({
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int", "default": 0},
        {"name": "content", "type": "int", "default": 0},
        {"name": "added_snapshot_id", "type": "long"},
        {"name": "partitions", "type": ["null", {
            "type": "array", "items": {
                "type": "record", "name": "r508", "fields": [
                    {"name": "contains_null", "type": "boolean"},
                    {"name": "lower_bound", "type": ["null", "bytes"]},
                    {"name": "upper_bound", "type": ["null", "bytes"]},
                ]}}]},
    ]})

_EPOCH_D1 = 19815  # 2024-04-02
_EPOCH_D2 = 19816  # 2024-04-03


@pytest.fixture(scope="module")
def part_table(spark, tmp_path_factory):
    """Identity-partitioned table: region (string) x event_date (date),
    2x2 partitions, one parquet file each, one manifest per region with
    real lower/upper bound summaries in the manifest list."""
    import struct as st

    root = tmp_path_factory.mktemp("iceberg_part") / "events_part"
    data, meta = root / "data", root / "metadata"
    data.mkdir(parents=True)
    meta.mkdir()

    def dfile(region, day, ids):
        p = str(data / f"{region}-{day}.parquet")
        pq.write_table(pa.table({
            "id": ids,
            "region": [region] * len(ids),
            "event_date": pa.array([day] * len(ids), pa.date32()),
        }), p)
        return p, {
            "status": 1, "snapshot_id": 1,
            "data_file": {
                "content": 0, "file_path": p, "file_format": "PARQUET",
                "partition": {"region": region, "event_date": day},
                "record_count": len(ids),
                "file_size_in_bytes": os.path.getsize(p),
            },
        }
    f_eu1, e_eu1 = dfile("eu", _EPOCH_D1, [1, 2])
    f_eu2, e_eu2 = dfile("eu", _EPOCH_D2, [3, 4])
    f_us1, e_us1 = dfile("us", _EPOCH_D1, [5, 6])
    f_us2, e_us2 = dfile("us", _EPOCH_D2, [7, 8])

    m_eu, m_us = str(meta / "m-eu.avro"), str(meta / "m-us.avro")
    _write_avro(spark, m_eu, _PART_MANIFEST_SCHEMA, [e_eu1, e_eu2])
    _write_avro(spark, m_us, _PART_MANIFEST_SCHEMA, [e_us1, e_us2])

    def summaries(region, d_lo, d_hi):
        return [
            {"contains_null": False, "lower_bound": region.encode(),
             "upper_bound": region.encode()},
            {"contains_null": False, "lower_bound": st.pack("<i", d_lo),
             "upper_bound": st.pack("<i", d_hi)},
        ]

    slist = str(meta / "snap-1.avro")
    _write_avro(spark, slist, _PART_MLIST_SCHEMA, [
        {"manifest_path": m_eu, "manifest_length": os.path.getsize(m_eu),
         "partition_spec_id": 0, "content": 0, "added_snapshot_id": 1,
         "partitions": summaries("eu", _EPOCH_D1, _EPOCH_D2)},
        {"manifest_path": m_us, "manifest_length": os.path.getsize(m_us),
         "partition_spec_id": 0, "content": 0, "added_snapshot_id": 1,
         "partitions": summaries("us", _EPOCH_D1, _EPOCH_D2)},
    ])

    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000002",
        "location": str(root),
        "current-snapshot-id": 1,
        "current-schema-id": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "id", "type": "long", "required": False},
                {"id": 2, "name": "region", "type": "string", "required": False},
                {"id": 3, "name": "event_date", "type": "date", "required": False},
            ]}],
        "default-spec-id": 0,
        "partition-specs": [{
            "spec-id": 0, "fields": [
                {"name": "region", "transform": "identity",
                 "source-id": 2, "field-id": 1000},
                {"name": "event_date", "transform": "identity",
                 "source-id": 3, "field-id": 1001},
            ]}],
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1_700_000_000_000,
             "manifest-list": slist},
        ],
    }
    (meta / "v1.metadata.json").write_text(json.dumps(metadata))
    (meta / "version-hint.text").write_text("1")
    return str(root)


class TestPartitionPruning:
    def test_filter_lists_strictly_fewer_files(self, spark, part_table):
        from strake_spark.sources.iceberg_native import (
            data_files_for_snapshot,
            load_table_metadata,
            select_snapshot,
        )

        meta = load_table_metadata(part_table)
        snap = select_snapshot(meta)
        all_files = data_files_for_snapshot(spark, snap, meta, None)
        eu_files = data_files_for_snapshot(
            spark, snap, meta, [["region", "=", "eu"]]
        )
        assert len(all_files) == 4
        assert len(eu_files) == 2
        assert all("eu-" in os.path.basename(f) for f in eu_files)

    def test_summary_pruning_never_opens_excluded_manifest(
        self, spark, part_table, monkeypatch
    ):
        """The us manifest's string bounds exclude region='eu', so the
        manifest FILE itself must not be read — that is the difference
        between touching 2 manifests and 20k at 100 TB."""
        import strake_spark.sources.iceberg_native as mod

        opened: list[str] = []
        real = mod.read_avro_records

        def spy(spark_, path):
            opened.append(os.path.basename(path))
            return real(spark_, path)

        monkeypatch.setattr(mod, "read_avro_records", spy)
        meta = mod.load_table_metadata(part_table)
        snap = mod.select_snapshot(meta)
        files = mod.data_files_for_snapshot(
            spark, snap, meta, [["region", "=", "eu"]]
        )
        assert len(files) == 2
        assert "m-eu.avro" in opened
        assert "m-us.avro" not in opened

    def test_filtered_values_match_full_scan(self, spark, part_table):
        full = read_iceberg_table(spark, part_table)
        pruned = read_iceberg_table(
            spark, part_table, partition_filter=[["region", "=", "eu"]]
        )
        exp = sorted(r.id for r in full.filter("region = 'eu'").collect())
        got = sorted(r.id for r in pruned.collect())
        assert got == exp == [1, 2, 3, 4]

    def test_date_filter_with_iso_literal(self, spark, part_table):
        df = read_iceberg_table(
            spark, part_table,
            partition_filter=[["event_date", ">=", "2024-04-03"]],
        )
        assert sorted(r.id for r in df.collect()) == [3, 4, 7, 8]
        # and the listing side pruned to one file per region
        from strake_spark.sources.iceberg_native import (
            data_files_for_snapshot,
            load_table_metadata,
            select_snapshot,
        )

        meta = load_table_metadata(part_table)
        files = data_files_for_snapshot(
            spark, select_snapshot(meta), meta,
            [["event_date", ">=", "2024-04-03"]],
        )
        assert len(files) == 2

    def test_filter_pruning_everything_returns_empty_with_schema(
        self, spark, part_table
    ):
        df = read_iceberg_table(
            spark, part_table, partition_filter=[["region", "=", "apac"]]
        )
        assert df.count() == 0
        assert set(df.columns) == {"id", "region", "event_date"}

    def test_in_and_range_ops(self, spark, part_table):
        df = read_iceberg_table(
            spark, part_table,
            partition_filter=[["region", "in", ["us", "apac"]]],
        )
        assert sorted(r.id for r in df.collect()) == [5, 6, 7, 8]

    def test_dict_equality_shorthand(self, spark, part_table):
        df = read_iceberg_table(
            spark, part_table, partition_filter={"region": "us"}
        )
        assert sorted(r.id for r in df.collect()) == [5, 6, 7, 8]


class TestIcebergNative:
    def test_avro_roundtrip_through_jvm(self, spark, iceberg_table):
        recs = read_avro_records(
            spark, os.path.join(iceberg_table, "metadata", "m1.avro")
        )
        assert recs[0]["status"] == 1
        assert recs[0]["data_file"]["file_format"] == "PARQUET"
        assert recs[0]["data_file"]["record_count"] == 3

    def test_avro_decode_cached_for_immutable_manifests(self, spark, iceberg_table):
        """Iceberg metadata files are immutable; repeated walks (the
        query-time pruner does up to three per statement) must not pay
        py4j decode again — same object comes back from the LRU."""
        p = os.path.join(iceberg_table, "metadata", "m1.avro")
        a = read_avro_records(spark, p)
        b = read_avro_records(spark, p)
        assert a is b

    def test_current_snapshot_reads_all_files(self, spark, iceberg_table):
        df = read_iceberg_table(spark, iceberg_table)
        assert sorted(r.id for r in df.collect()) == [1, 2, 3, 4, 5]

    def test_time_travel_by_snapshot_id(self, spark, iceberg_table):
        df = read_iceberg_table(spark, iceberg_table, snapshot_id=1)
        assert sorted(r.id for r in df.collect()) == [1, 2, 3]

    def test_time_travel_by_timestamp(self, spark, iceberg_table):
        df = read_iceberg_table(
            spark, iceberg_table, as_of_timestamp_ms=1_700_000_050_000
        )
        assert df.count() == 3  # only snapshot 1 existed then
        with pytest.raises(SourceError, match="no snapshot at or before"):
            read_iceberg_table(
                spark, iceberg_table, as_of_timestamp_ms=1_600_000_000_000
            )

    def test_unknown_snapshot_rejected(self, spark, iceberg_table):
        with pytest.raises(SourceError, match="snapshot 99 not found"):
            read_iceberg_table(spark, iceberg_table, snapshot_id=99)

    def test_deleted_entries_excluded(self, spark, tmp_path, iceberg_table):
        """A manifest entry with status=DELETED drops its file."""
        meta = os.path.join(iceberg_table, "metadata")
        fa = os.path.join(iceberg_table, "data", "a.parquet")
        fb = os.path.join(iceberg_table, "data", "b.parquet")
        m3 = str(tmp_path / "m3.avro")
        _write_avro(spark, m3, _MANIFEST_SCHEMA,
                    [_entry(fa, 3), _entry(fb, 2, status=2)])
        s3 = str(tmp_path / "snap-3.avro")
        _write_avro(spark, s3, _MLIST_SCHEMA,
                    [{"manifest_path": m3, "manifest_length": os.path.getsize(m3),
                      "partition_spec_id": 0, "content": 0,
                      "added_snapshot_id": 3}])
        md = json.loads(
            open(os.path.join(meta, "v2.metadata.json")).read()
        )
        md["snapshots"].append(
            {"snapshot-id": 3, "timestamp-ms": 1_700_000_200_000,
             "manifest-list": s3}
        )
        alt = tmp_path / "tbl"
        (alt / "metadata").mkdir(parents=True)
        (alt / "metadata" / "v1.metadata.json").write_text(json.dumps(md))
        (alt / "metadata" / "version-hint.text").write_text("1")
        df = read_iceberg_table(spark, str(alt), snapshot_id=3)
        assert sorted(r.id for r in df.collect()) == [1, 2, 3]

    def test_non_parquet_data_rejected_loudly(self, spark, tmp_path, iceberg_table):
        fa = os.path.join(iceberg_table, "data", "a.parquet")
        m = str(tmp_path / "mdel.avro")
        entry = _entry(fa, 3)
        entry["data_file"]["file_format"] = "ORC"
        _write_avro(spark, m, _MANIFEST_SCHEMA, [entry])
        s = str(tmp_path / "sdel.avro")
        _write_avro(spark, s, _MLIST_SCHEMA,
                    [{"manifest_path": m, "manifest_length": os.path.getsize(m),
                      "partition_spec_id": 0, "content": 0,
                      "added_snapshot_id": 9}])
        alt = tmp_path / "tbl2"
        (alt / "metadata").mkdir(parents=True)
        (alt / "metadata" / "v1.metadata.json").write_text(json.dumps({
            "format-version": 2, "current-snapshot-id": 9,
            "snapshots": [{"snapshot-id": 9, "timestamp-ms": 1,
                           "manifest-list": s}],
        }))
        (alt / "metadata" / "version-hint.text").write_text("1")
        with pytest.raises(SourceError, match="ORC"):
            read_iceberg_table(spark, str(alt))

    def test_engine_integration_mor(self, spark, mor_table):
        eng = ss.connect(
            {"sources": [{
                "name": "mor", "type": "iceberg_native",
                "url": os.path.dirname(mor_table),
                "tables": [{"name": os.path.basename(mor_table)}],
            }]},
            spark=spark,
        )
        out = eng.execute("SELECT id FROM mor_events_mor ORDER BY id")
        assert [r["id"] for r in out.to_pylist()] == [1, 3, 4]

    def test_engine_integration_with_partition_filter(self, spark, part_table):
        eng = ss.connect(
            {"sources": [{
                "name": "icep", "type": "iceberg_native",
                "url": os.path.dirname(part_table),
                "tables": [
                    {"name": "events_eu", "path": part_table,
                     "options": {"partition_filter": [["region", "=", "eu"]]}},
                ],
            }]},
            spark=spark,
        )
        out = eng.execute("SELECT count(*) AS n FROM icep_events_eu")
        assert out.to_pylist() == [{"n": 4}]

    def test_engine_integration_with_time_travel(self, spark, iceberg_table):
        eng = ss.connect(
            {"sources": [{
                "name": "ice", "type": "iceberg_native",
                "url": os.path.dirname(iceberg_table),
                "tables": [
                    {"name": os.path.basename(iceberg_table)},
                    {"name": "events_v1",
                     "path": iceberg_table,
                     "options": {"snapshot_id": 1}},
                ],
            }]},
            spark=spark,
        )
        cur = eng.execute("SELECT count(*) AS n FROM ice_events_tbl")
        old = eng.execute("SELECT count(*) AS n FROM ice_events_v1")
        assert cur.to_pylist() == [{"n": 5}]
        assert old.to_pylist() == [{"n": 3}]


# ----------------------------------------------- merge-on-read fixture
_MOR_MANIFEST_SCHEMA = json.dumps({
    "type": "record", "name": "manifest_entry", "fields": [
        {"name": "status", "type": "int"},
        {"name": "snapshot_id", "type": "long"},
        # real manifests declare ["null","long"]; py4j passes small ints
        # as Integer which the JVM writer can't resolve against that
        # union (same caveat as the module-top NOTE) — plain long here
        {"name": "sequence_number", "type": "long"},
        {"name": "data_file", "type": {
            "type": "record", "name": "data_file", "fields": [
                {"name": "content", "type": "int", "default": 0},
                {"name": "file_path", "type": "string"},
                {"name": "file_format", "type": "string"},
                {"name": "record_count", "type": "long"},
                {"name": "file_size_in_bytes", "type": "long"},
                {"name": "equality_ids",
                 "type": ["null", {"type": "array", "items": "int"}],
                 "default": None},
            ]}},
    ]})

_MOR_MLIST_SCHEMA = json.dumps({
    "type": "record", "name": "manifest_file", "fields": [
        {"name": "manifest_path", "type": "string"},
        {"name": "manifest_length", "type": "long"},
        {"name": "partition_spec_id", "type": "int", "default": 0},
        {"name": "content", "type": "int", "default": 0},
        {"name": "sequence_number", "type": "long", "default": 0},
        {"name": "added_snapshot_id", "type": "long"},
    ]})


@pytest.fixture(scope="module")
def mor_table(spark, tmp_path_factory):
    """v2 merge-on-read table: two data files at sequence 1, then

    - pd.parquet     (seq 2): position delete (a.parquet, pos 1) -> id 2
    - pd_stale.parquet (seq 0): position delete (b.parquet, pos 0) —
      BELOW the data's sequence, must not apply (id 4 survives)
    - ed.parquet     (seq 2): equality delete id=5 -> id 5 deleted
    - ed_same.parquet (seq 1): equality delete id=4 at the SAME sequence
      as the data — the strictly-earlier rule keeps id 4

    Expected surviving ids: {1, 3, 4}.
    """
    root = tmp_path_factory.mktemp("iceberg_mor") / "events_mor"
    data, meta = root / "data", root / "metadata"
    data.mkdir(parents=True)
    meta.mkdir()
    fa, fb = str(data / "a.parquet"), str(data / "b.parquet")
    pq.write_table(pa.table({"id": pa.array([1, 2, 3], pa.int64()),
                             "v": ["x", "y", "z"]}), fa)
    pq.write_table(pa.table({"id": pa.array([4, 5], pa.int64()),
                             "v": ["p", "q"]}), fb)

    pd_f = str(data / "pd.parquet")
    pq.write_table(pa.table({"file_path": [fa],
                             "pos": pa.array([1], pa.int64())}), pd_f)
    pd_stale = str(data / "pd_stale.parquet")
    pq.write_table(pa.table({"file_path": [fb],
                             "pos": pa.array([0], pa.int64())}), pd_stale)
    ed_f = str(data / "ed.parquet")
    pq.write_table(pa.table({"id": pa.array([5], pa.int64())}), ed_f)
    ed_same = str(data / "ed_same.parquet")
    pq.write_table(pa.table({"id": pa.array([4], pa.int64())}), ed_same)

    def entry(path, content, seq, eq_ids=None):
        return {
            "status": 1, "snapshot_id": 1, "sequence_number": seq,
            "data_file": {
                "content": content, "file_path": path,
                "file_format": "PARQUET", "record_count": 1,
                "file_size_in_bytes": os.path.getsize(path),
                "equality_ids": eq_ids,
            },
        }

    m_data = str(meta / "m-data.avro")
    _write_avro(spark, m_data, _MOR_MANIFEST_SCHEMA, [
        entry(fa, 0, 1), entry(fb, 0, 1),
    ])
    m_del = str(meta / "m-del.avro")
    _write_avro(spark, m_del, _MOR_MANIFEST_SCHEMA, [
        entry(pd_f, 1, 2),
        entry(pd_stale, 1, 0),
        entry(ed_f, 2, 2, eq_ids=[1]),
        entry(ed_same, 2, 1, eq_ids=[1]),
    ])

    slist = str(meta / "snap-1.avro")

    def mf(p, content, seq):
        return {"manifest_path": p, "manifest_length": os.path.getsize(p),
                "partition_spec_id": 0, "content": content,
                "sequence_number": seq, "added_snapshot_id": 1}

    _write_avro(spark, slist, _MOR_MLIST_SCHEMA,
                [mf(m_data, 0, 1), mf(m_del, 1, 2)])

    metadata = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000003",
        "location": str(root),
        "current-snapshot-id": 1,
        "current-schema-id": 0,
        "schemas": [{
            "schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "id", "type": "long", "required": False},
                {"id": 2, "name": "v", "type": "string", "required": False},
            ]}],
        "snapshots": [
            {"snapshot-id": 1, "timestamp-ms": 1_700_000_000_000,
             "manifest-list": slist},
        ],
    }
    (meta / "v1.metadata.json").write_text(json.dumps(metadata))
    (meta / "version-hint.text").write_text("1")
    return str(root)


class TestMergeOnRead:
    def test_scan_plan_classifies_files(self, spark, mor_table):
        from strake_spark.sources.iceberg_native import (
            load_table_metadata,
            scan_plan,
            select_snapshot,
        )

        meta = load_table_metadata(mor_table)
        plan = scan_plan(spark, select_snapshot(meta), meta)
        assert len(plan["data"]) == 2
        assert {d["seq"] for d in plan["data"]} == {1}
        assert len(plan["pos_deletes"]) == 2
        assert len(plan["eq_deletes"]) == 2
        assert all(d["equality_ids"] == [1] for d in plan["eq_deletes"])

    def test_deletes_applied_with_sequence_rules(self, spark, mor_table):
        df = read_iceberg_table(spark, mor_table)
        assert sorted(r.id for r in df.collect()) == [1, 3, 4]
        # surviving rows keep their full payload
        assert {(r.id, r.v) for r in df.collect()} == {
            (1, "x"), (3, "z"), (4, "p")}

    def test_no_helper_columns_leak(self, spark, mor_table):
        df = read_iceberg_table(spark, mor_table)
        assert df.columns == ["id", "v"]

    def test_equality_delete_unknown_field_id_raises(self, spark, tmp_path, mor_table):
        """An equality_ids referencing a field id absent from the schema
        must fail loudly, not silently skip the delete."""
        from strake_spark.sources.iceberg_native import (
            _apply_deletes,
            load_table_metadata,
            scan_plan,
            select_snapshot,
        )

        meta = load_table_metadata(mor_table)
        plan = scan_plan(spark, select_snapshot(meta), meta)
        bad = [dict(d, equality_ids=[99]) for d in plan["eq_deletes"]]
        plan2 = {"data": plan["data"], "pos_deletes": [], "eq_deletes": bad}
        df = spark.read.parquet(*[d["path"] for d in plan["data"]])
        with pytest.raises(SourceError, match="unknown field id"):
            _apply_deletes(spark, df, plan2, meta).collect()


# -------------------------------------- hidden-partition transforms
class TestTransformHash:
    def test_murmur3_spec_vectors(self):
        """Iceberg spec Appendix B reference values (signed int32)."""
        from strake_spark.sources.iceberg_native import _murmur3_32
        import struct

        def signed(x):
            return x - (1 << 32) if x >= (1 << 31) else x

        assert signed(_murmur3_32(struct.pack("<q", 34))) == 2017239379
        assert signed(_murmur3_32("iceberg".encode())) == 1210000089
        assert signed(_murmur3_32(struct.pack("<q", 17486))) == -653330422

    def test_bucket_value(self):
        from strake_spark.sources.iceberg_native import _bucket_value

        # (2017239379 & Int.MAX) % 16
        assert _bucket_value(34, 16, "long") == 2017239379 % 16
        assert _bucket_value("iceberg", 16, "string") == 1210000089 % 16

    def test_bucket_value_out_of_int64_range_skips(self):
        """r19 review: a literal outside int64 made struct.pack raise
        out of the pruning path — it must conservatively skip (keep the
        file; the re-applied filter yields the correct empty result)."""
        from strake_spark.sources.iceberg_native import _SKIP, _bucket_value

        assert _bucket_value(2**63, 4, "long") is _SKIP
        assert _bucket_value(-(2**63) - 1, 4, "long") is _SKIP
        assert _bucket_value(2**63 - 1, 4, "long") is not _SKIP


class TestTransformPruning:
    @staticmethod
    def _field(name, source, typ, transform, param=None):
        return {"name": name, "source_name": source, "type": typ,
                "transform": transform, "param": param}

    def test_bucket_equality_prunes(self):
        from strake_spark.sources.iceberg_native import (
            _bucket_value,
            _entry_matches,
        )

        f = self._field("id_bucket", "id", "long", "bucket", 16)
        b34 = _bucket_value(34, 16, "long")
        keep = _entry_matches({"id_bucket": b34}, [("id", "==", 34)], [f])
        assert keep is True
        drop = _entry_matches(
            {"id_bucket": (b34 + 1) % 16}, [("id", "==", 34)], [f]
        )
        assert drop is False
        # range predicates never prune a bucket field
        assert _entry_matches(
            {"id_bucket": (b34 + 1) % 16}, [("id", ">", 34)], [f]
        ) is True

    def test_truncate_prunes(self):
        from strake_spark.sources.iceberg_native import _entry_matches

        f = self._field("x_trunc", "x", "long", "truncate", 10)
        part = {"x_trunc": 10}  # file holds x in [10, 20)
        assert _entry_matches(part, [("x", "==", 13)], [f]) is True
        assert _entry_matches(part, [("x", "==", 25)], [f]) is False
        assert _entry_matches(part, [("x", "<", 5)], [f]) is False
        assert _entry_matches(part, [("x", "<", 100)], [f]) is True
        assert _entry_matches(part, [("x", ">", 25)], [f]) is False
        # != on a many-to-one transform can never prune
        assert _entry_matches(part, [("x", "!=", 13)], [f]) is True

    def test_truncate_string_prefix(self):
        from strake_spark.sources.iceberg_native import _entry_matches

        f = self._field("s_trunc", "s", "string", "truncate", 3)
        assert _entry_matches({"s_trunc": "abc"}, [("s", "==", "abcdef")], [f]) is True
        assert _entry_matches({"s_trunc": "abc"}, [("s", "==", "abd")], [f]) is False

    def test_day_month_year_transforms(self):
        from strake_spark.sources.iceberg_native import _transform_literal

        # 2024-04-02 = epoch day 19815
        f_day = self._field("d", "ts", "date", "day")
        assert _transform_literal(f_day, "2024-04-02") == 19815
        f_year = self._field("y", "ts", "date", "year")
        assert _transform_literal(f_year, "2024-04-02") == 54
        f_month = self._field("m", "ts", "date", "month")
        assert _transform_literal(f_month, "2024-04-02") == 54 * 12 + 3
        # timestamps: micros -> hour/day
        f_hour = self._field("h", "ts", "timestamp", "hour")
        micros = 19815 * 86_400_000_000 + 7 * 3_600_000_000
        assert _transform_literal(f_hour, micros) == 19815 * 24 + 7
        f_tsday = self._field("d", "ts", "timestamp", "day")
        assert _transform_literal(f_tsday, "2024-04-02T07:30:00") == 19815

    def test_day_partition_entry_pruning(self):
        from strake_spark.sources.iceberg_native import _entry_matches

        f = self._field("ts_day", "ts", "timestamp", "day")
        d1 = {"ts_day": 19815}
        d2 = {"ts_day": 19816}
        pred = [("ts", ">=", "2024-04-03T00:00:00")]  # day 19816
        assert _entry_matches(d1, pred, [f]) is False
        assert _entry_matches(d2, pred, [f]) is True
        # equality within the day keeps only that day's file
        pred_eq = [("ts", "==", "2024-04-02T10:00:00")]
        assert _entry_matches(d1, pred_eq, [f]) is True
        assert _entry_matches(d2, pred_eq, [f]) is False

    def test_manifest_summary_transform_bounds(self):
        from strake_spark.sources.iceberg_native import _manifest_may_match
        import struct

        f = self._field("ts_day", "ts", "timestamp", "day")
        summ = [{"contains_null": False,
                 "lower_bound": struct.pack("<i", 19815),
                 "upper_bound": struct.pack("<i", 19815)}]
        pred_out = [("ts", ">=", "2024-04-03T00:00:00")]  # day 19816
        assert _manifest_may_match(summ, pred_out, [f]) is False
        pred_in = [("ts", ">=", "2024-04-02T05:00:00")]  # same day: keep
        assert _manifest_may_match(summ, pred_in, [f]) is True

    def test_void_and_unknown_transforms_never_prune(self):
        from strake_spark.sources.iceberg_native import (
            _partition_spec_fields,
        )

        meta = {
            "schemas": [{"schema-id": 0, "fields": [
                {"id": 1, "name": "id", "type": "long"}]}],
            "current-schema-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": "p1", "transform": "void", "source-id": 1},
                {"name": "p2", "transform": "zorder[2]", "source-id": 1},
            ]}],
        }
        fields = _partition_spec_fields(meta, 0)
        assert all(f["source_name"] is None for f in fields)


class TestQueryTimePruning:
    """engine.sql WHERE clauses on partition source columns re-plan the
    iceberg_native scan over only the matching files (the reference's
    provider-level pushdown, provider.rs:526-540, for ad-hoc SQL)."""

    @pytest.fixture(scope="class")
    def eng(self, spark, part_table):
        return ss.connect(
            {"sources": [{
                "name": "iceq", "type": "iceberg_native",
                "url": os.path.dirname(part_table),
                "tables": [{"name": "events_part", "path": part_table}],
            }]},
            spark=spark,
        )

    def test_equality_prunes_files(self, eng):
        from strake_spark.plans.iceberg_prune import IcebergPrunePlan

        df = eng.sql("SELECT id FROM iceq_events_part WHERE region = 'eu' ORDER BY id")
        assert [r.id for r in df.collect()] == [1, 2, 3, 4]
        plan = eng._last_pushdown
        assert isinstance(plan, IcebergPrunePlan)
        (s,) = plan.scans
        assert (s.files_before, s.files_after) == (4, 2)

    def test_date_range_prunes(self, eng):
        df = eng.sql(
            "SELECT id FROM iceq_events_part "
            "WHERE event_date >= DATE '2024-04-03' ORDER BY id"
        )
        assert [r.id for r in df.collect()] == [3, 4, 7, 8]
        (s,) = eng._last_pushdown.scans
        assert (s.files_before, s.files_after) == (4, 2)

    def test_combined_predicates_prune_to_one_file(self, eng):
        df = eng.sql(
            "SELECT id FROM iceq_events_part "
            "WHERE region = 'eu' AND event_date >= DATE '2024-04-03' ORDER BY id"
        )
        assert [r.id for r in df.collect()] == [3, 4]
        (s,) = eng._last_pushdown.scans
        assert (s.files_before, s.files_after) == (4, 1)

    def test_in_list_and_reversed_literal(self, eng):
        df = eng.sql(
            "SELECT id FROM iceq_events_part "
            "WHERE region IN ('us', 'apac') ORDER BY id"
        )
        assert [r.id for r in df.collect()] == [5, 6, 7, 8]
        assert eng._last_pushdown.scans[0].files_after == 2
        df2 = eng.sql(
            "SELECT id FROM iceq_events_part WHERE 'us' = region ORDER BY id"
        )
        assert [r.id for r in df2.collect()] == [5, 6, 7, 8]
        assert eng._last_pushdown.scans[0].files_after == 2

    def test_alias_qualified_column(self, eng):
        df = eng.sql(
            "SELECT t.id FROM iceq_events_part t WHERE t.region = 'us' ORDER BY t.id"
        )
        assert [r.id for r in df.collect()] == [5, 6, 7, 8]
        assert eng._last_pushdown.scans[0].files_after == 2

    def test_non_partition_predicate_does_not_prune(self, eng):
        df = eng.sql("SELECT id FROM iceq_events_part WHERE id > 6 ORDER BY id")
        assert [r.id for r in df.collect()] == [7, 8]
        assert eng._last_pushdown is None

    def test_results_match_unpruned(self, eng):
        pruned = eng.sql(
            "SELECT id, region, event_date FROM iceq_events_part "
            "WHERE region = 'eu' ORDER BY id"
        ).collect()
        full = eng.sql("SELECT id, region, event_date FROM iceq_events_part") \
            .collect()
        assert [r.id for r in pruned] == sorted(
            r.id for r in full if r.region == "eu"
        )

    def test_explain_tree_reports_pruning(self, eng):
        tree = eng.explain_tree(
            "SELECT count(*) AS n FROM iceq_events_part WHERE region = 'eu'"
        )
        assert "IcebergPartitionPruning" in tree
        assert "[PRUNED] 2/4 files" in tree

    def test_governed_execute_path(self, eng):
        out = eng.execute(
            "SELECT count(*) AS n FROM iceq_events_part "
            "WHERE region = 'eu' AND event_date = DATE '2024-04-02'"
        )
        assert out.to_pylist() == [{"n": 2}]


class TestSchemaEvolution:
    """Field-id column resolution: Iceberg identifies columns by id, so
    a renamed column keeps its data and an added column fills null —
    by-name reading would break both."""

    @pytest.fixture(scope="class")
    def renamed_table(self, spark, tmp_path_factory):
        root = tmp_path_factory.mktemp("iceberg_evo") / "evo_tbl"
        data, meta = root / "data", root / "metadata"
        data.mkdir(parents=True)
        meta.mkdir()
        # file written BEFORE the rename: column 'old_name' with id 1,
        # 'dropped' with id 2 (later removed from the schema)
        fsch = pa.schema([
            pa.field("old_name", pa.int64(),
                     metadata={b"PARQUET:field_id": b"1"}),
            pa.field("dropped", pa.string(),
                     metadata={b"PARQUET:field_id": b"2"}),
        ])
        fa = str(data / "a.parquet")
        pq.write_table(
            pa.table({"old_name": [10, 20], "dropped": ["x", "y"]},
                     schema=fsch), fa)
        m1 = str(meta / "m1.avro")
        _write_avro(spark, m1, _MANIFEST_SCHEMA, [_entry(fa, 2)])
        s1 = str(meta / "snap-1.avro")
        _write_avro(spark, s1, _MLIST_SCHEMA,
                    [{"manifest_path": m1, "manifest_length": os.path.getsize(m1),
                      "partition_spec_id": 0, "content": 0,
                      "added_snapshot_id": 1}])
        metadata = {
            "format-version": 2,
            "location": str(root),
            "current-snapshot-id": 1,
            "current-schema-id": 1,
            # current schema AFTER evolution: id 1 renamed, id 2 dropped,
            # id 3 added (not present in the old file)
            "schemas": [{
                "schema-id": 1, "type": "struct", "fields": [
                    {"id": 1, "name": "new_name", "type": "long",
                     "required": False},
                    {"id": 3, "name": "added_col", "type": "double",
                     "required": False},
                ]}],
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": s1}],
        }
        (meta / "v1.metadata.json").write_text(json.dumps(metadata))
        (meta / "version-hint.text").write_text("1")
        return str(root)

    def test_rename_drop_add_resolved_by_field_id(self, spark, renamed_table):
        df = read_iceberg_table(spark, renamed_table)
        assert df.columns == ["new_name", "added_col"]
        rows = sorted(df.collect(), key=lambda r: r.new_name)
        assert [r.new_name for r in rows] == [10, 20]
        assert all(r.added_col is None for r in rows)

    def test_idless_files_still_read_by_name(self, spark, iceberg_table):
        """Plain pyarrow files without field ids keep the by-name path
        (engaging id resolution would null every column)."""
        df = read_iceberg_table(spark, iceberg_table)
        assert sorted(r.id for r in df.collect()) == [1, 2, 3, 4, 5]

    def test_equality_delete_resolves_renamed_column(self, spark, tmp_path_factory):
        """An equality delete written BEFORE a rename (old column name,
        same field id) must still delete matching rows afterwards."""
        root = tmp_path_factory.mktemp("iceberg_evo_del") / "evo_del"
        data, meta = root / "data", root / "metadata"
        data.mkdir(parents=True)
        meta.mkdir()
        fid = {b"PARQUET:field_id": b"1"}
        fa = str(data / "a.parquet")
        pq.write_table(pa.table(
            {"old_name": [10, 20, 30]},
            schema=pa.schema([pa.field("old_name", pa.int64(), metadata=fid)])
        ), fa)
        ed = str(data / "ed.parquet")
        pq.write_table(pa.table(
            {"old_name": [20]},
            schema=pa.schema([pa.field("old_name", pa.int64(), metadata=fid)])
        ), ed)

        def entry(path, content, seq, eq_ids=None):
            return {"status": 1, "snapshot_id": 1, "sequence_number": seq,
                    "data_file": {"content": content, "file_path": path,
                                  "file_format": "PARQUET", "record_count": 1,
                                  "file_size_in_bytes": os.path.getsize(path),
                                  "equality_ids": eq_ids}}

        m1 = str(meta / "m1.avro")
        _write_avro(spark, m1, _MOR_MANIFEST_SCHEMA,
                    [entry(fa, 0, 1), entry(ed, 2, 2, eq_ids=[1])])
        s1 = str(meta / "snap-1.avro")
        _write_avro(spark, s1, _MOR_MLIST_SCHEMA,
                    [{"manifest_path": m1, "manifest_length": os.path.getsize(m1),
                      "partition_spec_id": 0, "content": 0,
                      "sequence_number": 1, "added_snapshot_id": 1}])
        (meta / "v1.metadata.json").write_text(json.dumps({
            "format-version": 2, "location": str(root),
            "current-snapshot-id": 1, "current-schema-id": 1,
            "schemas": [{"schema-id": 1, "type": "struct", "fields": [
                {"id": 1, "name": "renamed", "type": "long",
                 "required": False}]}],
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": s1}],
        }))
        (meta / "version-hint.text").write_text("1")
        df = read_iceberg_table(spark, str(root))
        assert df.columns == ["renamed"]
        assert sorted(r.renamed for r in df.collect()) == [10, 30]


class TestSnapshotInspection:
    def test_snapshots_view_registered(self, spark, iceberg_table):
        eng = ss.connect(
            {"sources": [{
                "name": "snap", "type": "iceberg_native",
                "url": os.path.dirname(iceberg_table),
                "tables": [{"name": os.path.basename(iceberg_table)}],
            }]},
            spark=spark,
        )
        out = eng.execute(
            "SELECT snapshot_id, operation, is_current "
            "FROM snap_events_tbl__snapshots ORDER BY snapshot_id"
        )
        rows = out.to_pylist()
        assert [r["snapshot_id"] for r in rows] == [1, 2]
        assert [r["is_current"] for r in rows] == [False, True]
        # committed_at is a real timestamp derived from timestamp-ms
        df = eng.sql(
            "SELECT CAST(committed_at AS STRING) AS t "
            "FROM snap_events_tbl__snapshots WHERE snapshot_id = 1"
        )
        assert df.collect()[0].t.startswith("2023-11-")


class TestCorruptMetadata:
    """Corrupt/non-spec metadata fails LOUDLY with context — at 100 TB a
    silent misread is far worse than a refused scan (same stance as the
    wire-client fuzz suites)."""

    def _table(self, tmp_path, metadata_text: str) -> str:
        root = tmp_path / "tbl"
        (root / "metadata").mkdir(parents=True)
        (root / "metadata" / "v1.metadata.json").write_text(metadata_text)
        (root / "metadata" / "version-hint.text").write_text("1")
        return str(root)

    def test_invalid_json(self, spark, tmp_path):
        t = self._table(tmp_path, "{not json")
        with pytest.raises(SourceError, match="unreadable Iceberg metadata"):
            read_iceberg_table(spark, t)

    def test_non_object_json(self, spark, tmp_path):
        t = self._table(tmp_path, "[1, 2, 3]")
        with pytest.raises(SourceError, match="not a JSON object"):
            read_iceberg_table(spark, t)

    def test_future_format_version(self, spark, tmp_path):
        t = self._table(tmp_path, json.dumps({"format-version": 3}))
        with pytest.raises(SourceError, match="format-version"):
            read_iceberg_table(spark, t)

    def test_snapshot_without_manifest_list(self, spark, tmp_path):
        t = self._table(tmp_path, json.dumps({
            "format-version": 2, "current-snapshot-id": 1,
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1}],
        }))
        with pytest.raises(SourceError, match="no manifest-list"):
            read_iceberg_table(spark, t)

    def test_missing_manifest_list_file(self, spark, tmp_path):
        t = self._table(tmp_path, json.dumps({
            "format-version": 2, "current-snapshot-id": 1,
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": str(tmp_path / "nope.avro")}],
        }))
        with pytest.raises(SourceError, match="cannot open avro"):
            read_iceberg_table(spark, t)

    def test_truncated_avro_manifest_list(self, spark, tmp_path):
        bad = tmp_path / "trunc.avro"
        bad.write_bytes(b"Obj\x01\x02garbage-not-a-container")
        t = self._table(tmp_path, json.dumps({
            "format-version": 2, "current-snapshot-id": 1,
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": str(bad)}],
        }))
        with pytest.raises(SourceError, match="cannot open avro"):
            read_iceberg_table(spark, t)

    def test_manifest_entry_without_file_path(self, spark, tmp_path):
        schema = json.dumps({
            "type": "record", "name": "manifest_entry", "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": "long"},
                {"name": "data_file", "type": {
                    "type": "record", "name": "data_file", "fields": [
                        {"name": "content", "type": "int", "default": 0},
                        {"name": "file_path", "type": ["null", "string"],
                         "default": None},
                        {"name": "file_format", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ]}},
            ]})
        m = str(tmp_path / "m.avro")
        _write_avro(spark, m, schema, [{
            "status": 1, "snapshot_id": 1,
            "data_file": {"content": 0, "file_path": None,
                          "file_format": "PARQUET", "record_count": 1,
                          "file_size_in_bytes": 1},
        }])
        s = str(tmp_path / "s.avro")
        _write_avro(spark, s, _MLIST_SCHEMA,
                    [{"manifest_path": m, "manifest_length": os.path.getsize(m),
                      "partition_spec_id": 0, "content": 0,
                      "added_snapshot_id": 1}])
        t = self._table(tmp_path, json.dumps({
            "format-version": 2, "current-snapshot-id": 1,
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": s}],
        }))
        with pytest.raises(SourceError, match="missing file_path"):
            read_iceberg_table(spark, t)

    def test_current_snapshot_id_dangling(self, spark, tmp_path):
        t = self._table(tmp_path, json.dumps({
            "format-version": 2, "current-snapshot-id": 42,
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": "x"}],
        }))
        with pytest.raises(SourceError, match="current snapshot"):
            read_iceberg_table(spark, t)

    def test_mixed_field_id_provenance_refused(self, spark, tmp_path_factory):
        """One imported id-less file + one id-bearing file: uniform
        resolution would either null or mis-bind columns depending on
        manifest order — refuse loudly instead."""
        root = tmp_path_factory.mktemp("iceberg_mixed") / "mixed_tbl"
        data, meta = root / "data", root / "metadata"
        data.mkdir(parents=True)
        meta.mkdir()
        fid = {b"PARQUET:field_id": b"1"}
        fa = str(data / "with_ids.parquet")
        pq.write_table(pa.table(
            {"c": [1, 2]},
            schema=pa.schema([pa.field("c", pa.int64(), metadata=fid)])), fa)
        fb = str(data / "no_ids.parquet")
        pq.write_table(pa.table({"c": pa.array([3], pa.int64())}), fb)
        m1 = str(meta / "m1.avro")
        _write_avro(spark, m1, _MANIFEST_SCHEMA, [_entry(fa, 2), _entry(fb, 1)])
        s1 = str(meta / "snap-1.avro")
        _write_avro(spark, s1, _MLIST_SCHEMA,
                    [{"manifest_path": m1, "manifest_length": os.path.getsize(m1),
                      "partition_spec_id": 0, "content": 0,
                      "added_snapshot_id": 1}])
        (meta / "v1.metadata.json").write_text(json.dumps({
            "format-version": 2, "location": str(root),
            "current-snapshot-id": 1, "current-schema-id": 0,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "c", "type": "long", "required": False}]}],
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": s1}],
        }))
        (meta / "version-hint.text").write_text("1")
        with pytest.raises(SourceError, match="mixes parquet files"):
            read_iceberg_table(spark, str(root))


class TestPruningSnapshotPinning:
    def test_filtered_query_reads_registration_snapshot(
        self, spark, tmp_path_factory
    ):
        """A writer committing a NEW snapshot after registration must not
        make filtered queries (which re-plan through the pruner) read
        different data than unfiltered ones — the pruner is pinned to
        the registration-time snapshot."""
        import struct as st

        root = tmp_path_factory.mktemp("iceberg_pin") / "pin_tbl"
        data, meta = root / "data", root / "metadata"
        data.mkdir(parents=True)
        meta.mkdir()

        def dfile(name, region, ids):
            p = str(data / name)
            pq.write_table(pa.table({
                "id": pa.array(ids, pa.int64()), "region": [region] * len(ids),
            }), p)
            return p

        f1 = dfile("a.parquet", "eu", [1, 2])
        f2 = dfile("b.parquet", "us", [3, 4])
        f3 = dfile("c.parquet", "eu", [99])  # only in snapshot 2

        part_schema = json.dumps({
            "type": "record", "name": "manifest_entry", "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": "long"},
                {"name": "data_file", "type": {
                    "type": "record", "name": "data_file", "fields": [
                        {"name": "content", "type": "int", "default": 0},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "partition", "type": {
                            "type": "record", "name": "rp", "fields": [
                                {"name": "region", "type": ["null", "string"]},
                            ]}},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ]}},
            ]})

        def entry(p, region):
            return {"status": 1, "snapshot_id": 1,
                    "data_file": {"content": 0, "file_path": p,
                                  "file_format": "PARQUET",
                                  "partition": {"region": region},
                                  "record_count": 1,
                                  "file_size_in_bytes": os.path.getsize(p)}}

        m1 = str(meta / "m1.avro")
        _write_avro(spark, m1, part_schema, [entry(f1, "eu"), entry(f2, "us")])
        m2 = str(meta / "m2.avro")
        _write_avro(spark, m2, part_schema,
                    [entry(f1, "eu"), entry(f2, "us"), entry(f3, "eu")])
        s1, s2 = str(meta / "s1.avro"), str(meta / "s2.avro")
        for s, ms in ((s1, [m1]), (s2, [m2])):
            _write_avro(spark, s, _MLIST_SCHEMA, [
                {"manifest_path": m, "manifest_length": os.path.getsize(m),
                 "partition_spec_id": 0, "content": 0, "added_snapshot_id": 1}
                for m in ms])

        def metadata(cur, snaps):
            return {
                "format-version": 2, "location": str(root),
                "current-snapshot-id": cur, "current-schema-id": 0,
                "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                    {"id": 1, "name": "id", "type": "long", "required": False},
                    {"id": 2, "name": "region", "type": "string",
                     "required": False}]}],
                "default-spec-id": 0,
                "partition-specs": [{"spec-id": 0, "fields": [
                    {"name": "region", "transform": "identity",
                     "source-id": 2, "field-id": 1000}]}],
                "snapshots": snaps,
            }

        snap1 = {"snapshot-id": 1, "timestamp-ms": 1, "manifest-list": s1}
        snap2 = {"snapshot-id": 2, "timestamp-ms": 2, "manifest-list": s2}
        (meta / "v1.metadata.json").write_text(json.dumps(metadata(1, [snap1])))
        (meta / "version-hint.text").write_text("1")

        eng = ss.connect(
            {"sources": [{
                "name": "pin", "type": "iceberg_native",
                "url": os.path.dirname(str(root)),
                "tables": [{"name": "pin_tbl"}],
            }]},
            spark=spark,
        )
        # writer commits snapshot 2 AFTER registration
        (meta / "v2.metadata.json").write_text(
            json.dumps(metadata(2, [snap1, snap2])))
        (meta / "version-hint.text").write_text("2")

        unfiltered = sorted(
            r.id for r in eng.sql(
                "SELECT id FROM pin_pin_tbl").collect() if r.id is not None
        )
        filtered = sorted(
            r.id for r in eng.sql(
                "SELECT id FROM pin_pin_tbl WHERE region = 'eu'").collect()
        )
        assert unfiltered == [1, 2, 3, 4]  # registration-time snapshot
        assert filtered == [1, 2]          # same snapshot — 99 absent


class TestLadderComposition:
    """Mixed statement over an iceberg_native view AND a remote SQL
    table: the planning ladder must apply BOTH iceberg file pruning and
    partial remote pushdown — including when the statement references a
    DuckDB reserved word (the deserializer double-quotes it; the ladder
    keeps the pruned statement DuckDB-parseable for the partial rung and
    converts identifier quoting only for Spark execution)."""

    def test_prune_and_partial_pushdown_compose(self, spark, part_table, tmp_path):
        import duckdb

        dbp = str(tmp_path / "dims.duckdb")
        con = duckdb.connect(dbp)
        # 'label' is quoted by DuckDB's SQL serializer (reserved word)
        con.execute("CREATE TABLE region_dim (region VARCHAR, label VARCHAR)")
        con.execute(
            "INSERT INTO region_dim VALUES ('eu','Europe'),('us','United States')"
        )
        con.close()
        eng = ss.connect(
            {"sources": [
                {"name": "icx", "type": "iceberg_native",
                 "url": os.path.dirname(part_table),
                 "tables": [{"name": "events_part", "path": part_table}]},
                {"name": "ddx", "type": "duckdb", "url": dbp,
                 "tables": [{"name": "region_dim"}]},
            ]},
            spark=spark,
        )
        sql = (
            "SELECT d.label, count(*) AS n FROM icx_events_part e "
            "JOIN ddx_region_dim d ON e.region = d.region "
            "WHERE e.region = 'eu' AND d.label = 'Europe' GROUP BY d.label"
        )
        out = eng.execute(sql)
        assert out.to_pylist() == [{"label": "Europe", "n": 4}]
        # partial pushdown fired on the remote side (reported plan)...
        from strake_spark.plans.partial import PartialPlan

        plan = eng._last_pushdown
        assert isinstance(plan, PartialPlan)
        assert "region_dim" in plan.rewritten_sql
        # ...AND the iceberg scan inside the rewritten statement is the
        # pruned relation (2 of 4 files), not the full view
        pruned = [n for n in plan.relations if n.startswith("strake_iceprune_")]
        assert len(pruned) == 1 and pruned[0] in plan.local_sql
        assert len(plan.relations[pruned[0]].inputFiles()) == 2

    def test_reserved_word_identifier_roundtrip(self, spark, part_table, tmp_path):
        """Single-table iceberg statement selecting into a reserved-word
        alias still prunes and parses (backtick conversion)."""
        eng = ss.connect(
            {"sources": [{
                "name": "icy", "type": "iceberg_native",
                "url": os.path.dirname(part_table),
                "tables": [{"name": "events_part", "path": part_table}]},
            ]},
            spark=spark,
        )
        df = eng.sql(
            'SELECT id AS "label" FROM icy_events_part '
            "WHERE region = 'us' ORDER BY 1"
        )
        assert [r["label"] for r in df.collect()] == [5, 6, 7, 8]
        assert eng._last_pushdown is not None  # pruning fired


class TestNullPartitionPruning:
    def test_is_null_prunes_to_null_partition_file(self, spark, tmp_path_factory):
        root = tmp_path_factory.mktemp("iceberg_null") / "null_tbl"
        data, meta = root / "data", root / "metadata"
        data.mkdir(parents=True)
        meta.mkdir()
        fa = str(data / "eu.parquet")
        pq.write_table(pa.table({
            "id": pa.array([1, 2], pa.int64()), "region": ["eu", "eu"],
        }), fa)
        fb = str(data / "null.parquet")
        pq.write_table(pa.table({
            "id": pa.array([9], pa.int64()),
            "region": pa.array([None], pa.string()),
        }), fb)
        schema = json.dumps({
            "type": "record", "name": "manifest_entry", "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": "long"},
                {"name": "data_file", "type": {
                    "type": "record", "name": "data_file", "fields": [
                        {"name": "content", "type": "int", "default": 0},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "partition", "type": {
                            "type": "record", "name": "rn", "fields": [
                                {"name": "region", "type": ["null", "string"],
                                 "default": None}]}},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ]}},
            ]})

        def entry(p, region):
            return {"status": 1, "snapshot_id": 1,
                    "data_file": {"content": 0, "file_path": p,
                                  "file_format": "PARQUET",
                                  "partition": {"region": region},
                                  "record_count": 1,
                                  "file_size_in_bytes": os.path.getsize(p)}}

        m1 = str(meta / "m1.avro")
        _write_avro(spark, m1, schema, [entry(fa, "eu"), entry(fb, None)])
        s1 = str(meta / "s1.avro")
        _write_avro(spark, s1, _MLIST_SCHEMA,
                    [{"manifest_path": m1, "manifest_length": os.path.getsize(m1),
                      "partition_spec_id": 0, "content": 0,
                      "added_snapshot_id": 1}])
        (meta / "v1.metadata.json").write_text(json.dumps({
            "format-version": 2, "location": str(root),
            "current-snapshot-id": 1, "current-schema-id": 0,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "id", "type": "long", "required": False},
                {"id": 2, "name": "region", "type": "string",
                 "required": False}]}],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": "region", "transform": "identity",
                 "source-id": 2, "field-id": 1000}]}],
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": s1}],
        }))
        (meta / "version-hint.text").write_text("1")

        # file-listing level: IS NULL keeps only the null-partition file
        from strake_spark.sources.iceberg_native import (
            data_files_for_snapshot,
            load_table_metadata,
            select_snapshot,
        )

        m = load_table_metadata(str(root))
        snap = select_snapshot(m)
        assert len(data_files_for_snapshot(spark, snap, m, None)) == 2
        only_null = data_files_for_snapshot(
            spark, snap, m, [["region", "is_null", None]])
        assert [os.path.basename(f) for f in only_null] == ["null.parquet"]
        only_notnull = data_files_for_snapshot(
            spark, snap, m, [["region", "not_null", None]])
        assert [os.path.basename(f) for f in only_notnull] == ["eu.parquet"]

        # engine level: WHERE region IS NULL prunes and answers correctly
        eng = ss.connect(
            {"sources": [{
                "name": "nul", "type": "iceberg_native",
                "url": os.path.dirname(str(root)),
                "tables": [{"name": "null_tbl"}],
            }]},
            spark=spark,
        )
        df = eng.sql("SELECT id FROM nul_null_tbl WHERE region IS NULL")
        assert [r.id for r in df.collect()] == [9]
        (s,) = eng._last_pushdown.scans
        assert (s.files_before, s.files_after) == (2, 1)
        df2 = eng.sql(
            "SELECT id FROM nul_null_tbl WHERE region IS NOT NULL ORDER BY id")
        assert [r.id for r in df2.collect()] == [1, 2]
        assert eng._last_pushdown.scans[0].files_after == 1


class TestTransformPruningEndToEnd:
    def test_day_transform_prunes_through_engine_sql(
        self, spark, tmp_path_factory
    ):
        """Hidden partitioning end-to-end: table partitioned by
        day(ts); a WHERE on the SOURCE timestamp column prunes files via
        the transformed partition values."""
        root = tmp_path_factory.mktemp("iceberg_day") / "day_tbl"
        data, meta = root / "data", root / "metadata"
        data.mkdir(parents=True)
        meta.mkdir()
        d1, d2 = 19815, 19816  # 2024-04-02, 2024-04-03

        def dfile(name, day, ids):
            p = str(data / name)
            micros = [day * 86_400_000_000 + i * 3_600_000_000 for i in range(len(ids))]
            pq.write_table(pa.table({
                "id": pa.array(ids, pa.int64()),
                "ts": pa.array(micros, pa.timestamp("us")),
            }), p)
            return p

        f1 = dfile("d1.parquet", d1, [1, 2])
        f2 = dfile("d2.parquet", d2, [3, 4])
        schema = json.dumps({
            "type": "record", "name": "manifest_entry", "fields": [
                {"name": "status", "type": "int"},
                {"name": "snapshot_id", "type": "long"},
                {"name": "data_file", "type": {
                    "type": "record", "name": "data_file", "fields": [
                        {"name": "content", "type": "int", "default": 0},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {"name": "partition", "type": {
                            "type": "record", "name": "rd", "fields": [
                                {"name": "ts_day", "type": ["null", "int"],
                                 "default": None}]}},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ]}},
            ]})

        def entry(p, day):
            return {"status": 1, "snapshot_id": 1,
                    "data_file": {"content": 0, "file_path": p,
                                  "file_format": "PARQUET",
                                  "partition": {"ts_day": day},
                                  "record_count": 2,
                                  "file_size_in_bytes": os.path.getsize(p)}}

        m1 = str(meta / "m1.avro")
        _write_avro(spark, m1, schema, [entry(f1, d1), entry(f2, d2)])
        s1 = str(meta / "s1.avro")
        _write_avro(spark, s1, _MLIST_SCHEMA,
                    [{"manifest_path": m1, "manifest_length": os.path.getsize(m1),
                      "partition_spec_id": 0, "content": 0,
                      "added_snapshot_id": 1}])
        (meta / "v1.metadata.json").write_text(json.dumps({
            "format-version": 2, "location": str(root),
            "current-snapshot-id": 1, "current-schema-id": 0,
            "schemas": [{"schema-id": 0, "type": "struct", "fields": [
                {"id": 1, "name": "id", "type": "long", "required": False},
                {"id": 2, "name": "ts", "type": "timestamp",
                 "required": False}]}],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": [
                {"name": "ts_day", "transform": "day",
                 "source-id": 2, "field-id": 1000}]}],
            "snapshots": [{"snapshot-id": 1, "timestamp-ms": 1,
                           "manifest-list": s1}],
        }))
        (meta / "version-hint.text").write_text("1")

        eng = ss.connect(
            {"sources": [{
                "name": "dy", "type": "iceberg_native",
                "url": os.path.dirname(str(root)),
                "tables": [{"name": "day_tbl"}],
            }]},
            spark=spark,
        )
        df = eng.sql(
            "SELECT id FROM dy_day_tbl "
            "WHERE ts >= TIMESTAMP '2024-04-03 00:00:00' ORDER BY id"
        )
        assert [r.id for r in df.collect()] == [3, 4]
        (s,) = eng._last_pushdown.scans
        assert (s.files_before, s.files_after) == (2, 1)
        # equality inside a day keeps only that day's file
        df2 = eng.sql(
            "SELECT id FROM dy_day_tbl "
            "WHERE ts = TIMESTAMP '2024-04-02 01:00:00'"
        )
        assert [r.id for r in df2.collect()] == [2]
        assert eng._last_pushdown.scans[0].files_after == 1
