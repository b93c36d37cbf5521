"""The reference's 16 feature-store test behaviors, ported assertion-
for-assertion (reference tests/test_feature_store.py:33-152; inventory
in SURVEY.md §5.1), plus a few extras the Spark engine adds (batch
writes, deterministic tie-breaks, open schema round-trip)."""

import base64
import hashlib
import math
import os
from datetime import datetime

import pytest

from blackroad_feature_store_spark import (
    FeatureStore,
    GroupExistsError,
    UnknownFeatureError,
    UnknownGroupError,
)


@pytest.fixture()
def store(spark, tmp_path):
    return FeatureStore(spark, str(tmp_path / "fs"))


@pytest.fixture()
def store_with_features(store):
    store.register_feature("age", "user", "int")
    store.register_feature("income", "user", "float")
    store.register_feature("city", "user", "str")
    return store


@pytest.fixture()
def store_with_group(store_with_features):
    g = store_with_features.create_group(
        "user_demographics", ["age", "income", "city"], "user_id"
    )
    return store_with_features, g


# -- init ------------------------------------------------------------------

def test_store_init_creates_layout(store, tmp_path):
    # reference: db file created on init (test_feature_store.py:33-36)
    assert (tmp_path / "fs" / "entity_records").exists()


# -- register / get / list (test_feature_store.py:39-72) --------------------

def test_register_feature_roundtrip(store):
    f = store.register_feature(
        "age", "user", "int", description="years", tags=["demo"]
    )
    assert f.id
    assert f.name == "age"
    assert f.entity_type == "user"
    assert f.dtype == "int"
    assert f.description == "years"
    assert f.tags == ["demo"]
    assert f.is_active is True


def test_register_invalid_dtype(store):
    with pytest.raises(ValueError, match="Invalid dtype"):
        store.register_feature("bad", "user", "decimal")


def test_get_feature_by_name(store_with_features):
    f = store_with_features.get_feature("age")
    assert f is not None and f.dtype == "int"
    assert store_with_features.get_feature("nope") is None


def test_list_features_and_filter(store_with_features):
    store_with_features.register_feature("price", "product", "float")
    all_feats = store_with_features.list_features()
    assert [f.name for f in all_feats] == ["price", "age", "city", "income"]
    users = store_with_features.list_features(entity_type="user")
    assert [f.name for f in users] == ["age", "city", "income"]


def test_register_replaces_by_name(store_with_features):
    old = store_with_features.get_feature("age")
    new = store_with_features.register_feature("age", "user", "float")
    assert new.id != old.id
    assert store_with_features.get_feature("age").dtype == "float"


def test_soft_delete_asymmetry(store_with_features):
    # list_features filters is_active; get_feature does not
    # (reference feature_store.py:243-261; SURVEY.md §2.2 P5)
    store_with_features.deactivate_feature("age")
    assert store_with_features.get_feature("age") is not None
    assert "age" not in [f.name for f in store_with_features.list_features()]


# -- groups (test_feature_store.py:75-86) -----------------------------------

def test_create_group_fields(store_with_group):
    _, g = store_with_group
    assert g.name == "user_demographics"
    assert g.features == ["age", "income", "city"]
    assert g.entity_key == "user_id"
    assert g.frequency == "batch"
    assert g.version == 1


def test_create_group_unknown_feature(store_with_features):
    with pytest.raises(UnknownFeatureError, match="not registered"):
        store_with_features.create_group("g", ["ghost"], "user_id")


def test_create_group_duplicate_version(store_with_group):
    s, _ = store_with_group
    with pytest.raises(GroupExistsError):
        s.create_group("user_demographics", ["age"], "user_id", version=1)
    g2 = s.create_group("user_demographics", ["age"], "user_id", version=2)
    assert g2.version == 2
    assert s.get_group_by_name("user_demographics", version=2).id == g2.id


def test_get_group_lookups(store_with_group):
    s, g = store_with_group
    assert s.get_group(g.id).name == g.name
    assert s.get_group_by_name("user_demographics").id == g.id
    assert s.get_group("missing") is None
    assert s.get_group_by_name("missing") is None
    assert [x.name for x in s.list_groups()] == ["user_demographics"]


# -- write / read (test_feature_store.py:89-102) ----------------------------

def test_write_read_roundtrip(store_with_group):
    s, g = store_with_group
    s.write_features(
        g.id, "user-1", {"age": 25, "income": 60000.0, "city": "NYC"}
    )
    vals = s.get_features(g.id, "user-1")
    assert vals == {"age": 25, "income": 60000.0, "city": "NYC"}
    assert isinstance(vals["age"], int)
    assert isinstance(vals["income"], float)


def test_write_unknown_group(store_with_features):
    with pytest.raises(UnknownGroupError, match="not found"):
        store_with_features.write_features("ghost", "user-1", {"age": 1})


def test_read_missing_entity(store_with_group):
    s, g = store_with_group
    assert s.get_features(g.id, "user-404") is None


# -- point-in-time correctness (test_feature_store.py:105-117) --------------

def test_as_of_between_snapshots(store_with_group):
    s, g = store_with_group
    s.write_features(g.id, "user-1", {"age": 25}, timestamp="2023-01-01T00:00:00")
    s.write_features(g.id, "user-1", {"age": 26}, timestamp="2024-01-01T00:00:00")
    assert s.get_features(g.id, "user-1", as_of="2023-06-01T00:00:00") == {
        "age": 25
    }
    assert s.get_features(g.id, "user-1") == {"age": 26}


def test_snapshot_wins_no_coalesce(store_with_group):
    # Latest record returned verbatim: older record's income must NOT
    # leak into the newer snapshot (SURVEY.md §2.3).
    s, g = store_with_group
    s.write_features(
        g.id, "user-1", {"age": 25, "income": 60000.0},
        timestamp="2023-01-01T00:00:00",
    )
    s.write_features(g.id, "user-1", {"age": 26}, timestamp="2024-01-01T00:00:00")
    assert s.get_features(g.id, "user-1") == {"age": 26}


def test_open_schema_roundtrip(store_with_group):
    # Extra keys outside the group are stored anyway and leak into reads
    # (reference feature_store.py:347-349).
    s, g = store_with_group
    s.write_features(g.id, "user-1", {"age": 30, "shoe_size": 44})
    assert s.get_features(g.id, "user-1") == {"age": 30, "shoe_size": 44}


# -- PIT join (test_feature_store.py:120-133) --------------------------------

def test_point_in_time_join(store_with_group):
    s, g = store_with_group
    s.write_features(
        g.id, "user-1", {"age": 30, "income": 80000.0},
        timestamp="2024-01-01T00:00:00",
    )
    s.write_features(
        g.id, "user-2", {"age": 25, "income": 60000.0},
        timestamp="2024-01-01T00:00:00",
    )
    rows = s.point_in_time_join(
        ["user-1", "user-2", "user-3"], [g.id], timestamp="2024-06-01T00:00:00"
    )
    assert len(rows) == 3
    assert rows[0]["entity_id"] == "user-1" and rows[0]["age"] == 30
    assert rows[1]["entity_id"] == "user-2" and rows[1]["income"] == 60000.0
    assert rows[2]["entity_id"] == "user-3"
    assert rows[2]["age"] is None and rows[2]["income"] is None
    assert rows[2]["city"] is None


def test_pit_join_group_precedence(store_with_features):
    # Later group in the list overwrites earlier on key collision;
    # null-fill never clobbers (feature_store.py:436,442).
    s = store_with_features
    g1 = s.create_group("g1", ["age", "income"], "user_id")
    g2 = s.create_group("g2", ["age"], "user_id")
    s.write_features(g1.id, "u", {"age": 1, "income": 10.0},
                     timestamp="2024-01-01T00:00:00")
    s.write_features(g2.id, "u", {"age": 2}, timestamp="2024-01-01T00:00:00")
    rows = s.point_in_time_join(["u"], [g1.id, g2.id],
                                timestamp="2024-06-01T00:00:00")
    assert rows[0]["age"] == 2          # g2 (later) wins
    assert rows[0]["income"] == 10.0    # g2's null-fill didn't clobber g1


def _jobs_under(sc, group, fn):
    """Run ``fn`` under a Spark job group; return its result and the
    ids of the jobs it started."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_serving_reads_job_counts(store_with_features):
    """``get_features`` and ``point_in_time_join`` read the pruned files
    with pyarrow on the driver: neither starts a Spark job."""
    from blackroad_feature_store_spark.store import EntityRecord

    s = store_with_features
    g1 = s.create_group("g1", ["age", "income"], "user_id")
    g2 = s.create_group("g2", ["age", "city"], "user_id")
    for day in range(1, 4):  # three commits: several files to scan
        s.write_features_batch(
            [
                EntityRecord(g.id, f"u{i}", {"age": i + day},
                             f"2024-01-0{day}T00:00:00")
                for g in (g1, g2)
                for i in range(6)
            ]
        )
    sc = s.spark.sparkContext

    got, jobs = _jobs_under(
        sc,
        "serving_get_features",
        lambda: s.get_features(g1.id, "u2", as_of="2024-01-02T12:00:00"),
    )
    assert got == {"age": 4}
    assert jobs == []

    rows, jobs = _jobs_under(
        sc,
        "serving_pit",
        lambda: s.point_in_time_join(
            ["u2", "nobody"], [g1.id, g2.id], "2024-01-02T12:00:00"
        ),
    )
    assert rows == [
        {"entity_id": "u2", "age": 4},
        {"entity_id": "nobody", "age": None, "income": None, "city": None},
    ]
    assert jobs == []


def test_pre_gregorian_cutoff_is_exact(store_with_group):
    """An as-of cutoff before 1582-10-15 bounds at the instant given:
    the record stamped exactly at the cutoff is found by the driver
    read and by Spark's ``latest_as_of``, and a cutoff one microsecond
    earlier misses it (no Julian/Gregorian shift of the bound)."""
    from datetime import timedelta

    from blackroad_feature_store_spark.operators.asof import latest_as_of

    s, g = store_with_group
    at = datetime(1000, 3, 1, 12)
    s.write_features(g.id, "u1", {"age": 1}, timestamp=at)
    before = at - timedelta(microseconds=1)
    assert s.get_features(g.id, "u1", as_of=at) == {"age": 1}
    assert s.get_features(g.id, "u1", as_of=before) is None
    assert s.point_in_time_join(["u1"], [g.id], at)[0]["age"] == 1
    df = s.records_df(g.id)
    for keys in (["entity_id"], []):  # no keys: one window
        for cutoff, n in ((at, 1), (before, 0)):
            got = latest_as_of(df, keys, as_of=cutoff).collect()
            assert [r["feature_values"] for r in got] == [{"age": "1"}] * n


def test_serving_read_skips_row_groups_by_entity_stats(store_with_group):
    """A serving read opens only the row groups whose footer
    ``entity_id`` min/max can hold a requested entity, and answers as
    Spark's ``latest_as_of`` does over the same file. The file is
    entity-sorted with three-row groups and millisecond timestamps, and
    adopted by a legacy store's migration."""
    import os
    import shutil
    from datetime import timedelta

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blackroad_feature_store_spark.operators.asof import latest_as_of
    from blackroad_feature_store_spark.store import _read_serving_rows

    s, g = store_with_group
    t0 = datetime(2026, 1, 1)
    ents = [f"u{i // 3}" for i in range(12)]
    part = os.path.join(s._records_path, f"group_id={g.id}")
    os.makedirs(part)
    path = os.path.join(part, "part-legacy.parquet")
    pq.write_table(
        pa.table(
            {
                "id": [f"r{i:02d}" for i in range(12)],
                "entity_id": ents,
                "feature_values": pa.array(
                    [[("age", str(i))] for i in range(12)],
                    pa.map_(pa.string(), pa.string()),
                ),
                "timestamp": pa.array(
                    [t0 + timedelta(days=i % 3) for i in range(12)],
                    pa.timestamp("ms", tz="UTC"),
                ),
                "version": pa.array([1] * 12, pa.int32()),
            }
        ),
        path,
        row_group_size=3,
    )
    shutil.rmtree(os.path.join(s.base_path, "_versions"))
    store = FeatureStore(s.spark, s.base_path)

    assert pq.ParquetFile(path).metadata.num_row_groups == 4
    assert _read_serving_rows(path, ["u2"])["entity_id"].to_pylist() == [
        "u2"
    ] * 3
    assert _read_serving_rows(path, ["u0", "u3"]).num_rows == 6
    assert _read_serving_rows(path, ["u", "u9"]).num_rows == 0
    df = store.records_df(g.id)
    for cutoff in (None, t0, t0 + timedelta(days=1, hours=1)):
        want = {
            r["entity_id"]: r["feature_values"]
            for r in latest_as_of(df, ["entity_id"], as_of=cutoff).collect()
        }
        for ent in ["u0", "u1", "u2", "u3", "absent"]:
            got = store.get_features(g.id, ent, as_of=cutoff)
            assert got == (
                None if ent not in want
                else {"age": int(want[ent]["age"])}
            ), (cutoff, ent)


# -- append path (pyarrow straight to parquet) -------------------------------

def test_append_is_job_free_one_file_per_group(store_with_features):
    """A batch append starts no Spark job and lands one file per group,
    written by pyarrow: no ``group_id`` column (the partition directory
    carries it) and ``timestamp`` as INT64 TIMESTAMP_MICROS adjusted to
    UTC, whose footer stats fill the manifest entry."""
    import json
    import os

    import pyarrow.parquet as pq

    from blackroad_feature_store_spark.store import EntityRecord

    s = store_with_features
    g1 = s.create_group("g1", ["age"], "user_id")
    g2 = s.create_group("g2", ["age"], "user_id")
    n, jobs = _jobs_under(
        s.spark.sparkContext,
        "append_batch",
        lambda: s.write_features_batch(
            [
                EntityRecord(g.id, f"u{i}", {"age": i},
                             f"2024-01-01T00:{i % 60:02d}:00")
                for g in (g1, g2)
                for i in range(100)
            ]
        ),
    )
    assert n == 200
    assert jobs == []
    added = s._log.read(s._log.latest_version())["add"]
    assert sorted(e["path"].split("/")[0] for e in added) == sorted(
        f"group_id={g.id}" for g in (g1, g2)
    )
    for e in added:
        md = pq.read_metadata(os.path.join(s._records_path, e["path"]))
        assert md.num_rows == 100
        names = [md.schema.column(i).name for i in range(md.num_columns)]
        assert "group_id" not in names
        col = md.schema.column(names.index("timestamp"))
        assert col.physical_type == "INT64"
        lt = json.loads(col.logical_type.to_json())
        assert (lt["Type"], lt["isAdjustedToUTC"], lt["timeUnit"]) == (
            "Timestamp", True, "microseconds"
        )
        assert (e["min_ts"], e["max_ts"]) == (
            "2024-01-01T00:00:00", "2024-01-01T00:59:00"
        )
        assert "entity_bloom" in e


def test_fired_maybe_compact_runs_no_spark_job(store_with_group):
    """A compaction sizes its rewrite from the live files' footers and
    writes a one-file rewrite with pyarrow on the driver, so a fired
    ``maybe_compact`` runs no Spark job."""
    from blackroad_feature_store_spark.store import EntityRecord

    s, g = store_with_group
    for day in range(1, 4):
        s.write_features_batch(
            [EntityRecord(g.id, f"u{i}", {"age": i + day},
                          datetime(2024, 1, day)) for i in range(20)]
        )
    n, jobs = _jobs_under(
        s.spark.sparkContext,
        "fired_compaction",
        lambda: s.maybe_compact(g.id, max_files=2),
    )
    assert n == 60
    assert jobs == []
    assert len(s._log.live_files()) == 1
    assert s.history()[0]["op"] == "compact"
    assert s.get_features(g.id, "u7") == {"age": 10}


def test_compacted_tiny_appends_make_one_row_group(store_with_group):
    """Forty tiny appends compact into one file holding one row group,
    not one row group per input file. The file carries footer
    ``timestamp`` min/max, and the manifest's stats are those."""
    import os

    import pyarrow.parquet as pq

    from blackroad_feature_store_spark.store import EntityRecord

    s, g = store_with_group
    for i in range(40):
        s.write_features_batch(
            [EntityRecord(g.id, f"u{i % 7}", {"age": i},
                          datetime(2024, 1, 1 + i % 28, i % 24))]
        )
    assert s.compact_records(g.id) == 40
    (entry,) = s._log.live_entries()
    md = pq.read_metadata(os.path.join(s._records_path, entry["path"]))
    assert (md.num_rows, md.num_row_groups) == (40, 1)
    names = [md.schema.column(i).name for i in range(md.num_columns)]
    assert "group_id" not in names
    st = md.row_group(0).column(names.index("timestamp")).statistics
    assert st.has_min_max
    assert (entry["min_ts"], entry["max_ts"]) == (
        "2024-01-01T00:00:00", "2024-01-28T03:00:00"
    )
    assert st.min.replace(tzinfo=None).isoformat() == entry["min_ts"]
    assert st.max.replace(tzinfo=None).isoformat() == entry["max_ts"]
    assert "entity_bloom" in entry
    assert s.get_features(g.id, "u3") == {"age": 24}


def test_driver_compaction_cuts_full_row_groups(store_with_group, monkeypatch):
    """Past the row-group length, the rewrite cuts full row groups
    across input-file boundaries and writes the rest as a last, shorter
    one (the length is shrunk to 4 rows here). The add-entry's row
    count and bloom, built from the row groups as they are written,
    cover the whole file."""
    import os

    import pyarrow.parquet as pq

    from blackroad_feature_store_spark import store as store_mod
    from blackroad_feature_store_spark.store import EntityRecord

    s, g = store_with_group
    for k in (3, 3, 1, 3):
        s.write_features_batch(
            [EntityRecord(g.id, f"u{k}{i}", {"age": i}, datetime(2024, 1, 1))
             for i in range(k)]
        )
    before = sorted(r["entity_id"] for r in s.records_df(g.id).collect())
    monkeypatch.setattr(store_mod, "_ROW_GROUP_ROWS", 4)
    assert s.compact_records(g.id) == 10
    (entry,) = s._log.live_entries()
    path = os.path.join(s._records_path, entry["path"])
    md = pq.read_metadata(path)
    assert [md.row_group(i).num_rows for i in range(md.num_row_groups)] == [
        4, 4, 2
    ]
    assert entry["rows"] == 10
    assert entry["entity_bloom"] == store_mod._file_entity_bloom(path)
    assert sorted(r["entity_id"] for r in s.records_df(g.id).collect()) == (
        before
    )


def test_driver_compaction_keeps_every_row_of_mixed_files(store_with_group):
    """A group holding a Spark INT96 bulk file, a Spark TIMESTAMP_MILLIS
    file, a pyarrow append and a legacy file with no ``version`` column
    compacts, with no Spark job, to one file holding exactly the row
    multiset ``records_df`` read before: every column, NULLs kept."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blackroad_feature_store_spark.store import (
        RECORDS_SCHEMA,
        EntityRecord,
    )

    s, g = store_with_group
    part = os.path.join(s._records_path, f"group_id={g.id}")
    os.makedirs(part)
    pq.write_table(
        pa.table(
            {
                "id": ["legacy0", None],
                "entity_id": ["u1", "u2"],
                "feature_values": pa.array(
                    [[("age", "7")], None], pa.map_(pa.string(), pa.string())
                ),
                "timestamp": pa.array(
                    [datetime(2023, 5, 1, 1, 2, 3, 456789), None],
                    pa.timestamp("us", tz="UTC"),
                ),
            }
        ),
        os.path.join(part, "part-legacy.parquet"),
    )
    shutil.rmtree(os.path.join(s.base_path, "_versions"))
    s = FeatureStore(s.spark, s.base_path)  # migrate adopts the file
    spark = s.spark

    def bulk(tag):
        return spark.createDataFrame(
            [
                (f"{tag}0", g.id, "u1", {"age": "1", "city": None},
                 datetime(1000, 3, 1, 12), 1),
                (f"{tag}1", g.id, "u2", {}, None, None),
                (None, g.id, "u3", None, datetime(2024, 1, 1, 0, 0, 1), 3),
                (f"{tag}3", g.id, None, {"age": "4"},
                 datetime(2024, 6, 1, 0, 0, 0, 123000), 2),
            ],
            RECORDS_SCHEMA,
        )

    s.write_records_df(bulk("i96"))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    try:
        s.write_records_df(bulk("ms"))
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    s.write_features_batch(
        [EntityRecord(g.id, "u4", {"city": "x", "income": None},
                      datetime(2024, 2, 2, 2), version=5, id="app0")]
    )
    types = {
        str(pq.read_schema(os.path.join(s._records_path, f)).field(
            "timestamp").type)
        for f in s._log.live_files()
    }
    # INT96 (read here at pyarrow's default ns), millis, micros
    assert types == {
        "timestamp[ns]", "timestamp[ms, tz=UTC]", "timestamp[us, tz=UTC]"
    }

    def rows():
        return sorted(
            (
                tuple(
                    tuple(sorted(v.items())) if isinstance(v, dict) else v
                    for v in r
                )
                for r in s.records_df(g.id).collect()
            ),
            key=repr,
        )

    before = rows()
    assert len(before) == 11
    n, jobs = _jobs_under(
        spark.sparkContext, "driver_compaction",
        lambda: s.compact_records(g.id),
    )
    assert (n, jobs) == (11, [])
    assert len(s._log.live_files()) == 1
    assert rows() == before


def test_clustered_and_multi_file_compactions_run_on_spark(store_with_group):
    """``cluster_by`` (lexicographic or Z-order) needs a range sort and
    a target under the row count needs parallel writers: those
    rewrites stay Spark jobs, and keep every row."""
    from blackroad_feature_store_spark.store import EntityRecord

    s, g = store_with_group
    for i in range(6):
        s.write_features_batch(
            [EntityRecord(g.id, f"u{i}", {"age": i}, datetime(2024, 1, 1 + i))]
        )
    for tag, kwargs in [
        ("cluster_by", {"cluster_by": ["timestamp"]}),
        ("zorder", {"cluster_by": ["entity_id", "timestamp"], "zorder": True}),
        ("multi_file", {"target_rows_per_file": 4}),
    ]:
        n, jobs = _jobs_under(
            s.spark.sparkContext, f"compaction_{tag}",
            lambda: s.compact_records(g.id, **kwargs),
        )
        assert n == 6, tag
        assert len(jobs) >= 1, tag
        assert s.records_df(g.id).count() == 6, tag
        assert s.get_features(g.id, "u5") == {"age": 5}, tag


def test_mixed_writers_read_identically_before_and_after_compaction(
    store_with_features,
):
    """One store fed by both writers — a Spark-written bulk load
    (``write_records_df``, INT96 timestamps) and direct pyarrow appends
    (TIMESTAMP_MICROS) — answers every read the same way as a
    pure-Python model of its records, before and after compaction."""
    from blackroad_feature_store_spark.store import (
        RECORDS_SCHEMA,
        EntityRecord,
        encode_value,
    )

    s = store_with_features
    g1 = s.create_group("g1", ["age", "city"], "user_id")
    g2 = s.create_group("g2", ["age", "income"], "user_id")
    bulk = [
        (f"b{g.id[:4]}{i}", g.id, f"u{i % 5}",
         {"age": i, "city": f"c{i}"} if g is g1 else {"age": i, "income": i / 4},
         datetime(2024, 1, 1 + i % 5, i % 24))
        for g in (g1, g2)
        for i in range(15)
    ]
    appends = [
        (f"a{g.id[:4]}{i}", g.id, f"u{i % 7}",
         {"age": 100 + i} if g is g1 else {"income": -i},
         datetime(2024, 1, 3, 6 + i))
        for g in (g1, g2)
        for i in range(7)
    ]
    s.write_records_df(
        s.spark.createDataFrame(
            [(rid, gid, eid, {k: encode_value(v) for k, v in fv.items()},
              ts, 1)
             for rid, gid, eid, fv, ts in bulk],
            RECORDS_SCHEMA,
        )
    )
    v_bulk = s.current_version
    s.write_features_batch(
        [EntityRecord(gid, eid, fv, ts, id=rid)
         for rid, gid, eid, fv, ts in appends[:7]]
    )
    for rid, gid, eid, fv, ts in appends[7:]:
        s.write_features_batch([EntityRecord(gid, eid, fv, ts, id=rid)])
    model = bulk + appends
    # mid-history (both writers' files hold rows past it) and latest
    cutoffs = [datetime(2024, 1, 3, 9), datetime(2024, 2, 1)]
    ents = [f"u{i}" for i in range(8)]

    def expected_latest(gid, eid, cut):
        hits = [r for r in model
                if r[1] == gid and r[2] == eid and r[4] <= cut]
        return max(hits, key=lambda r: (r[4], r[0]))[3] if hits else None

    def expected_pit(cut):
        out = []
        for e in ents:
            row = {"entity_id": e}
            for g in (g1, g2):
                values = expected_latest(g.id, e, cut)
                if values:
                    row.update(values)
                else:
                    for f in g.features:
                        row.setdefault(f, None)
            out.append(row)
        return out

    def expected_typed(g):
        return sorted(
            (rid, eid, ts, fv.get("age"), fv.get("city"), fv.get("income"))
            for rid, gid, eid, fv, ts in model
            if gid == g.id
        )

    def check_reads():
        for cut in cutoffs:
            for g in (g1, g2):
                for e in ents:
                    assert s.get_features(g.id, e, as_of=cut) == (
                        expected_latest(g.id, e, cut)
                    ), (g.name, e, cut)
            assert s.point_in_time_join(ents, [g1.id, g2.id], cut) == (
                expected_pit(cut)
            )
        for g in (g1, g2):
            got = sorted(
                (r["id"], r["entity_id"], r["timestamp"],
                 r.asDict().get("age"), r.asDict().get("city"),
                 r.asDict().get("income"))
                for r in s.typed_records_df(g.id).collect()
            )
            assert got == expected_typed(g)
        feed = sorted(
            (r["id"], r["_commit_version"])
            for r in s.records_changes(since_version=v_bulk).collect()
        )
        assert feed == sorted(
            (rid, v_bulk + 1 + max(0, i - 6))
            for i, (rid, *_rest) in enumerate(appends)
        )

    check_reads()
    assert s.compact_records(g1.id) == 22
    assert s.compact_records() == 44
    assert len(s._log.live_files()) == 2
    check_reads()


def test_manifest_stats_hold_outside_the_nanosecond_range(store_with_group):
    """Spark writes ``timestamp`` as INT96, which carries no footer
    stats, so the manifest's min/max come from reading the column —
    at microsecond precision: as nanoseconds a year-1000 instant
    overflows and the file's ``min_ts`` lands centuries off, which
    pruned it from every earlier as-of read."""
    from blackroad_feature_store_spark.store import (
        RECORDS_SCHEMA,
        encode_value,
    )

    s, g = store_with_group
    early, late = datetime(1000, 3, 1, 12), datetime(9999, 12, 31, 23, 59, 59)
    s.write_records_df(
        s.spark.createDataFrame(
            [("r1", g.id, "old", {"age": encode_value(1)}, early, 1),
             ("r2", g.id, "far", {"age": encode_value(2)}, late, 1)],
            RECORDS_SCHEMA,
        ).coalesce(1)
    )
    s.write_features(g.id, "new", {"age": 3}, datetime(2024, 1, 1))
    assert s.compact_records(g.id) == 3
    (entry,) = s._log.live_entries()
    assert (entry["min_ts"], entry["max_ts"]) == (
        early.isoformat(), late.isoformat()
    )
    assert s.get_features(g.id, "old", as_of=datetime(2000, 1, 1)) == {"age": 1}
    assert s.get_features(g.id, "far", as_of=late) == {"age": 2}
    assert s.get_features(g.id, "far", as_of=datetime(2000, 1, 1)) is None
    assert sorted(
        (r["entity_id"], r["timestamp"]) for r in s.records_df(g.id).collect()
    ) == [("far", late), ("new", datetime(2024, 1, 1)), ("old", early)]


def test_torn_first_append_stays_unreferenced(store_with_group):
    """A direct append writes its file under the final name before the
    commit. If the process dies mid-write in a store's first append, the
    torn file must stay an unreferenced orphan — not be adopted by the
    pre-versioning migration at the next open — and vacuum reclaims
    it."""
    import glob
    import os

    from blackroad_feature_store_spark.versioning import CommitLog

    s, g = store_with_group
    orig_commit = CommitLog.commit

    def crash(self, *a, **k):
        raise RuntimeError("simulated crash before commit")

    CommitLog.commit = crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            s.write_features(g.id, "u1", {"age": 1})
    finally:
        CommitLog.commit = orig_commit
    (torn,) = glob.glob(os.path.join(s._records_path, "*", "*.parquet"))
    with open(torn, "r+b") as fh:
        fh.truncate(os.path.getsize(torn) // 2)

    reopened = FeatureStore(s.spark, s.base_path)
    assert reopened.current_version is None
    assert reopened.get_features(g.id, "u1") is None
    assert reopened.vacuum(orphan_grace_seconds=0.0) == 1
    reopened.write_features(g.id, "u2", {"age": 2})
    assert reopened.get_features(g.id, "u2") == {"age": 2}


def test_crashed_first_append_is_not_adopted(store_with_group):
    """A store's first append whose commit never lands leaves a whole,
    readable file that no commit lists. Reopening must not adopt it as
    a pre-versioning store (the open made the log directory, so this
    store is versioned): nothing reads back, history stays empty and
    vacuum reclaims the file."""
    from blackroad_feature_store_spark.versioning import CommitLog

    s, g = store_with_group
    orig_commit = CommitLog.commit

    def crash(self, *a, **k):
        raise RuntimeError("simulated crash before commit")

    CommitLog.commit = crash
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            s.write_features(g.id, "u1", {"age": 1})
    finally:
        CommitLog.commit = orig_commit

    reopened = FeatureStore(s.spark, s.base_path)
    assert reopened.get_features(g.id, "u1") is None
    assert reopened.history() == []
    assert reopened.vacuum(orphan_grace_seconds=0.0) == 1


def test_append_roundtrip_matches_decoded_rows(store_with_group):
    """Every value and timestamp shape an append accepts reads back as
    the plain-list write path stored it: naive, aware (converted to
    naive UTC), ISO-string and absent timestamps, an empty map, JSON
    ``None``/bool/list/unicode values and an explicit version."""
    from datetime import timedelta, timezone

    from blackroad_feature_store_spark.store import EntityRecord, decode_value

    s, g = store_with_group
    s.write_features_batch(
        [
            EntityRecord(g.id, "naive", {"age": 30, "city": "Zürich"},
                         datetime(2024, 1, 1, 12, 0, 0, 123456), id="r1"),
            EntityRecord(g.id, "aware", {"flag": True, "tags": ["a", "日本"]},
                         datetime(2024, 1, 1, 12,
                                  tzinfo=timezone(timedelta(hours=2))),
                         id="r2"),
            EntityRecord(g.id, "iso", {"income": None, "ratio": 0.25},
                         "2024-01-02T03:04:05", id="r3"),
            EntityRecord(g.id, "no_ts", {"age": 1}, None, id="r4"),
            EntityRecord(g.id, "empty", {}, datetime(2024, 1, 3),
                         version=3, id="r5"),
        ]
    )
    rows = sorted(
        (r["id"], r["group_id"], r["entity_id"],
         {k: decode_value(v) for k, v in r["feature_values"].items()},
         r["timestamp"], r["version"])
        for r in s.records_df(g.id).collect()
    )
    assert rows == [
        ("r1", g.id, "naive", {"age": 30, "city": "Zürich"},
         datetime(2024, 1, 1, 12, 0, 0, 123456), 1),
        ("r2", g.id, "aware", {"flag": True, "tags": ["a", "日本"]},
         datetime(2024, 1, 1, 10, 0), 1),
        ("r3", g.id, "iso", {"income": None, "ratio": 0.25},
         datetime(2024, 1, 2, 3, 4, 5), 1),
        ("r4", g.id, "no_ts", {"age": 1}, None, 1),
        ("r5", g.id, "empty", {}, datetime(2024, 1, 3), 3),
    ]


def test_naive_timestamp_is_utc_under_non_utc_driver_tz(store_with_group):
    """A naive timestamp is naive UTC whatever the driver's zone: the
    stored instant (rendered by Spark in the UTC session zone) and the
    manifest's ``min_ts`` both read 12:00, not 12:00 shifted by the
    local offset."""
    import os
    import time

    from pyspark.sql import functions as F

    s, g = store_with_group
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        s.write_features(g.id, "u1", {"age": 1}, datetime(2024, 1, 1, 12))
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    stored = s.records_df(g.id).select(
        F.date_format("timestamp", "yyyy-MM-dd'T'HH:mm:ss").alias("ts")
    ).collect()
    assert [r["ts"] for r in stored] == ["2024-01-01T12:00:00"]
    (entry,) = s._log.read(s._log.latest_version())["add"]
    assert entry["min_ts"] == "2024-01-01T12:00:00"


# -- statistics (test_feature_store.py:136-152) ------------------------------

def test_stats_empty_group(store_with_group):
    s, g = store_with_group
    st = s.statistics(g.id)
    assert st["total_records"] == 0
    assert set(st["features"]) == {"age", "income", "city"}
    assert st["features"]["age"]["count"] == 0


def test_stats_unknown_group(store_with_features):
    with pytest.raises(UnknownGroupError):
        store_with_features.statistics("ghost")


def test_stats_values(store_with_group):
    s, g = store_with_group
    recs = [
        {"age": 20 + i, "income": 40000.0 + 1000 * i} for i in range(5)
    ]
    from blackroad_feature_store_spark.store import EntityRecord
    from datetime import datetime

    s.write_features_batch(
        EntityRecord(g.id, f"u{i}", recs[i], datetime(2024, 1, 1 + i))
        for i in range(5)
    )
    st = s.statistics(g.id)
    assert st["total_records"] == 5
    age = st["features"]["age"]
    assert age["count"] == 5
    assert age["mean"] == 22.0
    assert age["min"] == 20 and age["max"] == 24
    # city never written → all nulls
    city = st["features"]["city"]
    assert city["count"] == 0 and city["null_count"] == 5
    assert city["mean"] is None


def test_stats_numeric_only_and_bool_quirk(store_with_group):
    s, g = store_with_group
    s.register_feature("vip", "user", "bool")
    s.write_features(g.id, "u1", {"city": "NYC", "vip": True, "age": 10})
    s.write_features(g.id, "u2", {"city": "LA", "vip": False, "age": None})
    st = s.statistics(g.id)
    city = st["features"]["city"]
    # strings count but produce no numeric stats
    assert city["count"] == 2 and city["mean"] is None
    # explicit JSON null counts as null, not value (feature_store.py:475-479)
    age = st["features"]["age"]
    assert age["count"] == 1 and age["null_count"] == 1


# -- compaction (scale write-path maintenance) -------------------------------

def test_compact_records_preserves_data(store_with_group):
    store, g = store_with_group
    for i in range(10):  # 10 single-record writes → 10 tiny files
        store.write_features(
            g.id, f"u{i % 3}", {"age": 20 + i},
            timestamp=f"2026-01-{i+1:02d}T00:00:00",
        )
    import glob, os
    part = os.path.join(store.base_path, "entity_records", f"group_id={g.id}")
    pre_version = store.current_version
    live_before = store._log.live_files()
    assert len(live_before) >= 10

    assert store.compact_records(g.id) == 10
    # The LIVE file set shrinks (manifest replay), even though the old
    # files stay on disk for time travel until vacuum.
    live_after = store._log.live_files()
    assert len(live_after) < len(live_before)
    assert not set(live_after) & set(live_before)

    # reads unchanged after the commit
    assert store.records_df(g.id).count() == 10
    latest = store.get_features(g.id, "u0")
    assert latest["age"] == 29
    st = store.statistics(g.id)
    assert st["total_records"] == 10

    # Pre-compaction version still reads identically (time travel)...
    old = store.records_df(g.id, version=pre_version)
    assert old.count() == 10

    # ...until vacuum reclaims the superseded files.
    physical_before = len(glob.glob(os.path.join(part, "*.parquet")))
    deleted = store.vacuum(retain_versions=1)
    assert deleted >= 10
    physical_after = len(glob.glob(os.path.join(part, "*.parquet")))
    assert physical_after < physical_before
    assert physical_after == len(
        [f for f in live_after if f.startswith(f"group_id={g.id}/")]
    )
    assert store.records_df(g.id).count() == 10


def test_compact_records_crash_before_commit_is_invisible(store_with_group):
    # Kill the compaction AFTER its data files are written but BEFORE
    # the manifest commits — the worst-case window. The table must be
    # completely unaffected (the new files are unreferenced), and
    # vacuum must reclaim the orphans.
    store, g = store_with_group
    for i in range(6):
        store.write_features(
            g.id, f"u{i}", {"age": 20 + i},
            timestamp=f"2026-01-{i+1:02d}T00:00:00",
        )
    version_before = store.current_version

    from blackroad_feature_store_spark.versioning import CommitLog
    orig_commit = CommitLog.commit

    def exploding_commit(self, *a, **k):
        raise RuntimeError("simulated crash before commit")

    CommitLog.commit = exploding_commit
    try:
        with pytest.raises(RuntimeError, match="simulated crash"):
            store.compact_records(g.id)
    finally:
        CommitLog.commit = orig_commit

    # Table state is byte-identical: same version, same rows.
    assert store.current_version == version_before
    assert store.records_df(g.id).count() == 6
    assert store.get_features(g.id, "u5")["age"] == 25

    # Orphaned (never-committed) compacted files are vacuumable — but
    # only once past the in-flight-writer grace window. With the
    # default grace these fresh orphans MUST survive (they are
    # indistinguishable from a live writer's absorbed-not-yet-committed
    # files); with grace waived they go.
    assert store.vacuum(retain_versions=1) == 0
    assert store.vacuum(retain_versions=1, orphan_grace_seconds=0.0) >= 1
    assert store.records_df(g.id).count() == 6

    # Reopen + a subsequent compaction completes normally.
    reopened = FeatureStore(store.spark, store.base_path)
    assert reopened.compact_records(g.id) == 6
    assert reopened.records_df(g.id).count() == 6


def test_legacy_compaction_between_renames_recovers_at_open(spark, tmp_path):
    """A store written before the commit log could crash a compaction
    between its two renames, leaving the pre-compaction copy of a
    partition under ``compact_old/``. Opening it restores a copy whose
    live partition is missing and drops a stale copy whose live
    partition exists; the migration then adopts exactly the live
    files."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = tmp_path / "legacy"

    def part_file(root, gid, name, age):
        d = root / f"group_id={gid}"
        d.mkdir(parents=True)
        pq.write_table(
            pa.table(
                {
                    "id": [name],
                    "entity_id": ["u1"],
                    "feature_values": pa.array(
                        [[("age", str(age))]], pa.map_(pa.string(), pa.string())
                    ),
                    "timestamp": pa.array(
                        [datetime(2024, 1, 1)], pa.timestamp("us", tz="UTC")
                    ),
                    "version": pa.array([1], pa.int32()),
                }
            ),
            str(d / f"{name}.parquet"),
        )

    # group a: crashed after the aside rename, before the move-in
    part_file(base / "compact_old", "a", "a_old", 1)
    # group b: crashed after the move-in, before the copy was dropped
    part_file(base / "compact_old", "b", "b_old", 2)
    part_file(base / "entity_records", "b", "b_new", 3)

    s = FeatureStore(spark, str(base))
    assert not (base / "compact_old").exists()
    assert sorted(s._log.live_files()) == [
        os.path.join("group_id=a", "a_old.parquet"),
        os.path.join("group_id=b", "b_new.parquet"),
    ]
    got = {
        (r["group_id"], r["id"], r["feature_values"]["age"])
        for r in s.records_df().collect()
    }
    assert got == {("a", "a_old", "1"), ("b", "b_new", "3")}


def test_time_travel_and_history(store_with_group):
    store, g = store_with_group
    store.write_features(g.id, "u1", {"age": 1},
                         timestamp="2026-01-01T00:00:00")
    v0 = store.current_version
    store.write_features(g.id, "u2", {"age": 2},
                         timestamp="2026-01-02T00:00:00")
    v1 = store.current_version
    assert v1 == v0 + 1

    # Each version is a frozen snapshot.
    assert store.records_df(g.id, version=v0).count() == 1
    assert store.records_df(g.id, version=v1).count() == 2
    assert store.records_df(g.id).count() == 2

    # version= and as_of_commit= are mutually exclusive.
    with pytest.raises(ValueError):
        store.records_df(g.id, version=v0, as_of_commit="2026-01-01")

    # as_of_commit pins by COMMIT wall-clock (not record timestamps):
    # a cutoff between the two commits' ts fields sees only the first.
    h = store.history()
    assert [e["version"] for e in h] == [v1, v0]
    assert all(e["op"] == "append" for e in h)
    cutoff = h[-1]["ts"]  # exactly at v0's commit instant
    assert store.records_df(g.id, as_of_commit=cutoff).count() == 1


def test_delete_entity_is_versioned(store_with_group):
    # GDPR delete rewrites the partition in a new version; the purged
    # entity stays readable at the OLD version until vacuum (and after
    # vacuum the old version's files are gone — erasure completes).
    store, g = store_with_group
    store.write_features(g.id, "u1", {"age": 1})
    store.write_features(g.id, "u2", {"age": 2})
    pre = store.current_version
    assert store.delete_entity_records(g.id, "u1") == 1
    assert store.records_df(g.id).count() == 1
    assert store.records_df(g.id, version=pre).count() == 2
    store.vacuum(retain_versions=1)
    assert store.records_df(g.id).count() == 1
    # Old version now points at deleted files — u1 is physically gone.
    import glob, os
    part = os.path.join(store.base_path, "entity_records", f"group_id={g.id}")
    assert len(glob.glob(os.path.join(part, "*.parquet"))) == 1


def test_concurrent_stores_share_commit_log(spark, tmp_path):
    # Two store instances on the same path: appends interleave, both
    # visible, versions strictly increasing (optimistic commit).
    a = FeatureStore(spark, str(tmp_path / "s"))
    a.register_feature("age", "user", "int")
    g = a.create_group("g", features=["age"], entity_key="user_id")
    b = FeatureStore(spark, str(tmp_path / "s"))
    a.write_features(g.id, "u1", {"age": 1})
    b.write_features(g.id, "u2", {"age": 2})
    a.write_features(g.id, "u3", {"age": 3})
    assert a.records_df(g.id).count() == 3
    assert b.records_df(g.id).count() == 3
    versions = [e["version"] for e in a.history()]
    assert versions == sorted(versions, reverse=True)
    assert len(versions) == len(set(versions)) == 3


def test_stats_mixed_int_float_min_max_types(store_with_group):
    # Reference min()/max() preserve the WINNING element's own type
    # (feature_store.py:491-492): [1, 2.5] → min is int 1, max is
    # float 2.5; [0.5, 3] → min float, max int.
    s, g = store_with_group
    s.write_features(g.id, "u1", {"age": 1, "income": 0.5})
    s.write_features(g.id, "u2", {"age": 2.5, "income": 3})
    st = s.statistics(g.id)
    age = st["features"]["age"]
    assert age["min"] == 1 and isinstance(age["min"], int)
    assert age["max"] == 2.5 and isinstance(age["max"], float)
    inc = st["features"]["income"]
    assert inc["min"] == 0.5 and isinstance(inc["min"], float)
    assert inc["max"] == 3 and isinstance(inc["max"], int)


def test_delete_entity_records(store_with_group):
    store, g = store_with_group
    for i in range(4):
        store.write_features(
            g.id, "keep_me", {"age": 30 + i},
            timestamp=f"2026-01-{i+1:02d}T00:00:00",
        )
    store.write_features(
        g.id, "erase_me", {"age": 99}, timestamp="2026-01-05T00:00:00"
    )
    assert store.delete_entity_records(g.id, "erase_me") == 1
    assert store.get_features(g.id, "erase_me") is None
    # the surviving entity is untouched, latest snapshot intact
    assert store.records_df(g.id).count() == 4
    assert store.get_features(g.id, "keep_me")["age"] == 33
    # absent entity → 0, no rewrite
    assert store.delete_entity_records(g.id, "ghost") == 0


def test_delete_entity_records_last_entity_empties_partition(store_with_group):
    store, g = store_with_group
    store.write_features(
        g.id, "only", {"age": 1}, timestamp="2026-01-01T00:00:00"
    )
    assert store.delete_entity_records(g.id, "only") == 1
    assert store.records_df(g.id).count() == 0
    # store still writable afterwards
    store.write_features(
        g.id, "next", {"age": 2}, timestamp="2026-01-02T00:00:00"
    )
    assert store.records_df(g.id).count() == 1


def test_delete_entity_keeps_null_entity_rows(store_with_group):
    """A row whose ``entity_id`` is NULL is no match for any entity, so
    delete-entity keeps it."""
    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.write_features_batch(
        [
            EntityRecord(g.id, e, {"age": i}, datetime(2026, 1, 1 + i))
            for i, e in enumerate(["a", None, "b"])
        ]
    )
    assert store.delete_entity_records(g.id, "a") == 1
    rows = [
        (r["entity_id"], r["feature_values"]["age"])
        for r in store.records_df(g.id).collect()
    ]
    assert len(rows) == 2 and set(rows) == {(None, "1"), ("b", "2")}


def test_delete_entity_rewrites_only_the_files_holding_it(store_with_group):
    """Delete-entity runs no Spark job. Of a group's files it removes
    only those holding the entity, adds at most one file per removed
    file (none for a file left empty), leaves a file whose bloom
    admits the entity by a false positive untouched, and keeps an
    append that commits while it runs."""
    from blackroad_feature_store_spark.store import (
        EntityRecord,
        _bloom_maybe_contains,
    )
    from blackroad_feature_store_spark.versioning import CommitLog

    store, g = store_with_group

    def append(*ents):
        store.write_features_batch(
            [EntityRecord(g.id, e, {"age": i}, datetime(2026, 1, 1 + i % 28))
             for i, e in enumerate(ents)]
        )
        return store._log.read(store._log.latest_version())["add"][0]

    big = append(*[f"e{i}" for i in range(500)])
    # an id absent from ``big`` whose bloom still admits it
    victim = next(
        v for v in (f"x{i}" for i in range(100_000))
        if _bloom_maybe_contains(big["entity_bloom"], v)
    )
    mixed = append(victim, "k1", victim, None)
    only = append(victim)
    other = append("k3")
    before = {e["path"] for e in store._log.live_entries()}
    assert {big["path"], mixed["path"], only["path"], other["path"]} == before

    orig_commit = CommitLog.commit
    state = {"injected": False}

    def racing_commit(self, op, add, remove, meta=None):
        if op == "delete-entity" and not state["injected"]:
            state["injected"] = True
            store.write_features_batch(
                [EntityRecord(g.id, "late", {"age": 7}, datetime(2026, 2, 1))]
            )
        return orig_commit(self, op, add, remove, meta)

    CommitLog.commit = racing_commit
    try:
        n, jobs = _jobs_under(
            store.spark.sparkContext,
            "delete_entity",
            lambda: store.delete_entity_records(g.id, victim),
        )
    finally:
        CommitLog.commit = orig_commit
    assert (n, jobs) == (3, [])
    m = store._log.read(store._log.latest_version())
    assert m["op"] == "delete-entity"
    assert sorted(m["remove"]) == sorted([mixed["path"], only["path"]])
    assert len(m["add"]) == 1 and m["add"][0]["rows"] == 2
    live = {e["path"] for e in store._log.live_entries()}
    assert {big["path"], other["path"]} <= live
    assert len(live) == 4  # big, other, the rewrite of mixed, late
    assert store.get_features(g.id, victim) is None
    assert store.get_features(g.id, "late") == {"age": 7}
    assert store.get_features(g.id, "k1") == {"age": 1}
    assert store.records_df(g.id).count() == 500 + 2 + 1 + 1


def test_history_reports_rows_added(store_with_group, tmp_path):
    """Each add-entry records its file's ``rows`` and ``bytes``;
    ``history`` sums the rows per commit, and reports None for a
    manifest whose add actions predate the field."""
    from blackroad_feature_store_spark.store import EntityRecord
    from blackroad_feature_store_spark.versioning import CommitLog

    store, g = store_with_group
    for day in (1, 2):
        store.write_features_batch(
            [EntityRecord(g.id, f"u{i}", {"age": i}, datetime(2026, 1, day))
             for i in range(5)]
        )
    assert store.compact_records(g.id) == 10
    assert store.delete_entity_records(g.id, "u3") == 2
    h = store.history()
    assert [(e["op"], e["rows_added"]) for e in h] == [
        ("delete-entity", 8), ("compact", 10), ("append", 5), ("append", 5)
    ]
    entry = store._log.read(store._log.latest_version())["add"][0]
    path = os.path.join(store._records_path, entry["path"])
    assert entry["bytes"] == os.path.getsize(path)
    assert store.delete_entity_records(g.id, "ghost") == 0
    assert len(store.history()) == 4  # no hit: no commit

    log = CommitLog(str(tmp_path / "old_log"))
    log.commit("append", add=["group_id=g/a.parquet"], remove=[])
    log.commit("delete-entity", add=[], remove=["group_id=g/a.parquet"])
    assert [e["rows_added"] for e in log.history()] == [0, None]


# -- concurrent writers (registry reload-merge) ------------------------------

def test_two_writers_merge_disjoint_features(spark, tmp_path):
    # Two stores on the same base_path writing DIFFERENT names: both
    # must survive (per-key last-writer-wins, not whole-file clobber).
    path = str(tmp_path / "fs")
    s1 = FeatureStore(spark, path)
    s2 = FeatureStore(spark, path)
    s1.register_feature("a", "user", "int")
    s2.register_feature("b", "user", "str")
    s3 = FeatureStore(spark, path)
    assert {f.name for f in s3.list_features()} == {"a", "b"}
    # the merging writer also picked up the other writer's entry
    assert s2.get_feature("a") is not None


def test_two_writers_same_name_last_wins(spark, tmp_path):
    path = str(tmp_path / "fs")
    s1 = FeatureStore(spark, path)
    s2 = FeatureStore(spark, path)
    s1.register_feature("x", "user", "int")
    s2.register_feature("x", "user", "float")  # upsert: later writer wins
    s3 = FeatureStore(spark, path)
    assert s3.get_feature("x").dtype == "float"


def test_two_writers_duplicate_group_version_detected(spark, tmp_path):
    path = str(tmp_path / "fs")
    s1 = FeatureStore(spark, path)
    s1.register_feature("a", "user", "int")
    s2 = FeatureStore(spark, path)
    s1.create_group("g", ["a"], "user_id")
    # s2 doesn't know about s1's group — the in-memory check passes,
    # but the flush-time merge detects the (name, version) collision.
    with pytest.raises(GroupExistsError, match="concurrent writer"):
        s2.create_group("g", ["a"], "user_id")
    s3 = FeatureStore(spark, path)
    assert len(s3.list_groups()) == 1


def test_sql_views(store_with_group):
    store, g = store_with_group
    store.write_features(g.id, "u1", {"age": 30}, timestamp="2026-01-01T00:00:00")
    store.create_views()
    spark = store.spark
    assert spark.sql(
        "SELECT count(*) AS n FROM fs_features WHERE entity_type='user'"
    ).first()["n"] == 3
    assert spark.sql(
        "SELECT entity_key FROM fs_groups WHERE name='user_demographics'"
    ).first()["entity_key"] == "user_id"
    row = spark.sql(
        "SELECT entity_id, feature_values['age'] AS age FROM fs_records"
    ).first()
    assert row["entity_id"] == "u1" and row["age"] == "30"
    hist = spark.sql(
        "SELECT version, op, files_added FROM fs_history ORDER BY version"
    ).collect()
    assert len(hist) == 1 and hist[0]["op"] == "append"
    assert hist[0]["files_added"] >= 1
    # typed wide view: per group, registry-typed columns from pure SQL
    wide = spark.sql(
        "SELECT entity_id, age FROM fs_wide_user_demographics_v1"
    ).first()
    assert wide["entity_id"] == "u1" and wide["age"] == 30  # bigint, not "30"


# -- manifest file statistics / data skipping -------------------------------

def test_manifest_stats_skip_files_on_asof_read(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    # Two commits with disjoint timestamp ranges -> two file sets whose
    # manifest stats don't overlap.
    store.write_features_batch(
        [
            EntityRecord(g.id, "u1", {"age": 30}, datetime(2026, 1, 1)),
            EntityRecord(g.id, "u2", {"age": 40}, datetime(2026, 1, 2)),
        ]
    )
    store.write_features_batch(
        [
            EntityRecord(g.id, "u1", {"age": 31}, datetime(2026, 6, 1)),
            EntityRecord(g.id, "u3", {"age": 50}, datetime(2026, 6, 2)),
        ]
    )
    entries = store._log.live_entries()
    assert all(e.get("min_ts") and e.get("max_ts") for e in entries)

    all_files = set(store.records_df(g.id).inputFiles())
    pruned = set(
        store.records_df(g.id, ts_lte=datetime(2026, 3, 1)).inputFiles()
    )
    # The June commit's files are dropped from the scan entirely.
    assert pruned and pruned < all_files
    june_files = {
        e["path"] for e in entries if e["min_ts"] >= "2026-06-01"
    }
    assert june_files
    assert not any(any(p.endswith(f.split("/")[-1]) for p in pruned)
                   for f in june_files)

    # Correctness is unchanged: as-of before June sees the old snapshot,
    # an unbounded read the new one.
    assert store.get_features(g.id, "u1", as_of=datetime(2026, 3, 1)) == {
        "age": 30
    }
    assert store.get_features(g.id, "u1") == {"age": 31}
    # Boundary: a cutoff exactly equal to a file's min_ts keeps it.
    kept = set(
        store.records_df(g.id, ts_lte=datetime(2026, 6, 1)).inputFiles()
    )
    assert len(kept) > len(pruned)


def test_manifest_stats_survive_compaction(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.write_features_batch(
        [EntityRecord(g.id, "u1", {"age": 1}, datetime(2026, 1, 1))]
    )
    store.write_features_batch(
        [EntityRecord(g.id, "u1", {"age": 2}, datetime(2026, 6, 1))]
    )
    store.compact_records(g.id)
    entries = store._log.live_entries()
    assert all(e.get("min_ts") for e in entries)
    # compacted file spans both ranges -> no pruning at an early cutoff,
    # but results stay right
    assert store.get_features(g.id, "u1", as_of=datetime(2026, 2, 1)) == {
        "age": 1
    }


def test_entity_bloom_skips_files_on_point_lookup(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    # Three commits over disjoint entity populations -> three file sets
    # whose manifest blooms don't share ids.
    for batch, ids in enumerate([("a1", "a2"), ("b1", "b2"), ("c1", "c2")]):
        store.write_features_batch(
            [
                EntityRecord(g.id, e, {"age": batch}, datetime(2026, 1, batch + 1))
                for e in ids
            ]
        )
    entries = store._log.live_entries()
    assert all("entity_bloom" in e for e in entries)

    all_files = set(store.records_df(g.id).inputFiles())
    pruned = set(store.records_df(g.id, entity_id="b1").inputFiles())
    # Only the one commit that wrote b1 survives the bloom prune
    # (deterministic: blake2b positions never flake between runs).
    assert len(all_files) >= 3
    assert len(pruned) == 1
    # Pruning never changes the answer.
    assert store.get_features(g.id, "b1") == {"age": 1}
    # An id in NO file prunes the scan to nothing driver-side...
    assert store.records_df(g.id, entity_id="zz").inputFiles() == []
    # ...and the point read still returns the contract's None.
    assert store.get_features(g.id, "zz") is None


def test_entity_bloom_reads_every_file_holding_the_entity(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    # u1 appears in commits 1 and 3; commit 2 is other entities only.
    store.write_features_batch(
        [EntityRecord(g.id, "u1", {"age": 1}, datetime(2026, 1, 1))]
    )
    store.write_features_batch(
        [EntityRecord(g.id, "u9", {"age": 9}, datetime(2026, 1, 2))]
    )
    store.write_features_batch(
        [EntityRecord(g.id, "u1", {"age": 3}, datetime(2026, 1, 3))]
    )
    files = store.records_df(g.id, entity_id="u1").inputFiles()
    assert len(files) == 2
    rows = store.records_df(g.id, entity_id="u1").count()
    assert rows == 2
    assert store.get_features(g.id, "u1") == {"age": 3}


def test_entity_bloom_malformed_or_absent_is_unskippable():
    from blackroad_feature_store_spark.store import (
        _bloom_maybe_contains,
        _file_entity_bloom,
    )

    # Corrupt/garbage blooms must read as "maybe present", never prune.
    assert _bloom_maybe_contains(None, "x") is True
    assert _bloom_maybe_contains({"m": 64}, "x") is True
    assert _bloom_maybe_contains({"m": 64, "k": 7, "bits": "!!"}, "x") is True
    assert _bloom_maybe_contains({"m": -1, "k": 7, "bits": "AA=="}, "x") is True
    # every position of a 96-bit bloom is unset, but 96 is not a power
    # of two, so the masked positions would be wrong: unskippable
    assert _bloom_maybe_contains({"m": 96, "k": 7, "bits": "A" * 16}, "x") is True
    # Unreadable file -> no bloom, not an exception.
    assert _file_entity_bloom("/nonexistent/file.parquet") is None


def test_entity_bloom_property_no_false_negatives(tmp_path):
    # Property check (seeded-random, repo style): for ANY set of
    # entity ids written to a parquet file, every member must read as
    # "maybe present" — a false negative would silently drop data from
    # a point lookup. Also sanity-check the FP rate is an index, not a
    # pass-through (absent ids mostly prune).
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blackroad_feature_store_spark.store import (
        _bloom_maybe_contains,
        _file_entity_bloom,
    )

    rng = random.Random(20260814)
    for trial in range(10):
        n = rng.choice([1, 3, 17, 200, 1500])
        members = {f"e{rng.randrange(10**9)}" for _ in range(n)}
        path = str(tmp_path / f"t{trial}.parquet")
        pq.write_table(
            pa.table({"entity_id": list(members) * 2}), path
        )
        bloom = _file_entity_bloom(path)
        assert bloom is not None
        assert all(_bloom_maybe_contains(bloom, m) for m in members)
        absent = [f"x{rng.randrange(10**9)}" for _ in range(500)]
        fp = sum(_bloom_maybe_contains(bloom, a) for a in absent)
        assert fp < 50  # ~1% expected at 10 bits/key; 10% is the wire


def _reference_bloom_positions(value, m, k=7):
    d = hashlib.blake2b(value.encode("utf-8"), digest_size=16).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _reference_bloom(ids):
    """The bloom layout every manifest holds, with Python integers:
    10 bits per distinct non-NULL id rounded up to a power of two (at
    least 64, at most 2**17, else no bloom), 7 Kirsch-Mitzenmacher
    positions per id, bit ``p`` at byte ``p >> 3``, bit ``p & 7``."""
    distinct = {v for v in ids if v is not None}
    if not distinct:
        return None
    m = 1 << max(6, math.ceil(math.log2(len(distinct) * 10)))
    if m > 1 << 17:
        return None
    bits = bytearray(m // 8)
    for v in distinct:
        for p in _reference_bloom_positions(v, m):
            bits[p >> 3] |= 1 << (p & 7)
    return {"m": m, "k": 7, "bits": base64.b64encode(bytes(bits)).decode()}


def test_entity_bloom_bits_match_python_reference(tmp_path):
    """The vectorized bloom — built from the writer's per-table
    ``pc.unique`` chunks or from a file's column — is byte-identical
    to the Python-integer reference, across the size cap, and probes
    as the reference does."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    from blackroad_feature_store_spark.store import (
        _BLOOM_MAX_BITS,
        _bloom_maybe_contains,
        _entity_bloom,
        _file_entity_bloom,
    )

    cap = _BLOOM_MAX_BITS // 10  # most distinct ids a bloom holds
    rng = random.Random(20261021)
    alphabet = "ab\u00e9\u7528\U0001f600 "
    for n in (0, 1, 2, 7, 64, 700, cap, cap + 1):
        distinct = {""} if n else set()
        while len(distinct) < n:
            distinct.add(
                "".join(rng.choice(alphabet) for _ in range(rng.randrange(12)))
            )
        ids = list(distinct) * 2 + [None] * 3
        rng.shuffle(ids)
        want = _reference_bloom(ids)
        assert (want is None) == (n == 0 or n > cap)
        chunks = [pa.array(ids[i::3], pa.string()) for i in range(3)]
        assert _entity_bloom(pa.chunked_array(chunks)) == want
        path = str(tmp_path / f"ids{n}.parquet")
        pq.write_table(pa.table({"entity_id": pa.array(ids, pa.string())}), path)
        assert _file_entity_bloom(path) == want
        if want is None:
            continue
        bits = base64.b64decode(want["bits"])
        probes = list(distinct)[:50] + [f"absent{i}" for i in range(300)]
        for v in probes:
            ref = all(
                bits[p >> 3] >> (p & 7) & 1
                for p in _reference_bloom_positions(v, want["m"])
            )
            assert _bloom_maybe_contains(want, v) is ref


def test_entity_bloom_survives_compaction(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    for day, e in enumerate(["u1", "u2", "u3"], start=1):
        store.write_features_batch(
            [EntityRecord(g.id, e, {"age": day}, datetime(2026, 1, day))]
        )
    store.compact_records(g.id)
    entries = store._log.live_entries()
    # Rewritten files get fresh blooms from the same write path.
    assert entries and all("entity_bloom" in e for e in entries)
    assert store.get_features(g.id, "u2") == {"age": 2}


def test_entity_clustered_compaction_bloom_prunes_to_one_file(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    # 12 tiny writes, entities interleaved across them — before
    # compaction a point lookup may touch many files.
    store.write_features_batch(
        [
            EntityRecord(g.id, f"u{m % 4}", {"age": m}, datetime(2026, 1, m + 1))
            for m in range(12)
        ]
    )
    # OPTIMIZE clustered on entity_id: each rewritten file holds a
    # contiguous entity range, so its bloom covers few distinct ids —
    # clustering is what makes the bloom index selective at scale.
    store.compact_records(g.id, target_rows_per_file=3, cluster_by=["entity_id"])
    files = store.records_df(g.id, entity_id="u2").inputFiles()
    assert len(files) == 1
    rows = store.records_df(g.id, entity_id="u2").count()
    assert rows == 3  # m = 2, 6, 10


def test_entity_rollup_incremental_matches_full_recompute(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.write_features_batch(
        [
            EntityRecord(g.id, "a", {"age": 1}, datetime(2026, 1, 1)),
            EntityRecord(g.id, "b", {"age": 2}, datetime(2026, 1, 2)),
        ]
    )
    store.refresh_entity_rollup("roll", g.id)  # cursor at v0
    store.write_features_batch(
        [
            EntityRecord(g.id, "a", {"age": 3}, datetime(2026, 2, 1)),
            EntityRecord(g.id, "c", {"age": 4}, datetime(2026, 2, 2)),
        ]
    )
    store.write_features_batch(
        [EntityRecord(g.id, "a", {"age": 5}, datetime(2026, 3, 1))]
    )
    mv = store.refresh_entity_rollup("roll", g.id)  # delta merge v1-v2
    got = {
        r["entity_id"]: (r["n_records"], r["first_ts"], r["last_ts"])
        for r in mv.collect()
    }
    assert got == {
        "a": (3, datetime(2026, 1, 1), datetime(2026, 3, 1)),
        "b": (1, datetime(2026, 1, 2), datetime(2026, 1, 2)),
        "c": (1, datetime(2026, 2, 2), datetime(2026, 2, 2)),
    }
    # A refresh with no new commits is a no-op snapshot read.
    assert store.refresh_entity_rollup("roll", g.id).count() == 3


def test_entity_rollup_compaction_never_doubles(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.write_features_batch(
        [EntityRecord(g.id, "a", {"age": 1}, datetime(2026, 1, 1))]
    )
    store.refresh_entity_rollup("roll", g.id)
    store.write_features_batch(
        [EntityRecord(g.id, "a", {"age": 2}, datetime(2026, 1, 2))]
    )
    # Compaction rewrites BOTH rows into fresh files; the feed must not
    # re-emit them, so the incremental merge stays at 2, not 4.
    store.compact_records(g.id)
    mv = store.refresh_entity_rollup("roll", g.id)
    assert mv.collect()[0]["n_records"] == 2


def test_entity_rollup_delete_forces_full_recompute(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.write_features_batch(
        [
            EntityRecord(g.id, "a", {"age": 1}, datetime(2026, 1, 1)),
            EntityRecord(g.id, "b", {"age": 2}, datetime(2026, 1, 2)),
        ]
    )
    store.refresh_entity_rollup("roll", g.id)
    store.delete_entity_records(g.id, "a")
    mv = store.refresh_entity_rollup("roll", g.id)
    got = {r["entity_id"]: r["n_records"] for r in mv.collect()}
    assert got == {"b": 1}
    # And errors are the contract's, not scan failures:
    with pytest.raises(ValueError, match="never been refreshed"):
        store.read_entity_rollup("other")
    with pytest.raises(ValueError, match="Invalid materialized-view name"):
        store.refresh_entity_rollup("../evil", g.id)


def test_clustered_compaction_keeps_files_skippable(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    # Many tiny writes spanning a year...
    store.write_features_batch(
        [
            EntityRecord(g.id, f"u{m}", {"age": m}, datetime(2026, m, 15))
            for m in range(1, 13)
        ]
    )
    # ...compacted into two files CLUSTERED on timestamp.
    store.compact_records(
        g.id, target_rows_per_file=6, cluster_by=["timestamp"]
    )
    entries = store._log.live_entries()
    assert len(entries) == 2
    # Range partitioning makes the two files' ts ranges disjoint...
    a, b = sorted(entries, key=lambda e: e["min_ts"])
    assert a["max_ts"] < b["min_ts"]
    # ...so an early as-of read scans exactly one of them.
    pruned = store.records_df(g.id, ts_lte=datetime(2026, 2, 1)).inputFiles()
    assert len(pruned) == 1
    assert store.get_features(g.id, "u1", as_of=datetime(2026, 2, 1)) == {
        "age": 1
    }


def test_records_df_nonexistent_version_raises(store_with_group):
    from datetime import datetime

    import pytest as _pytest

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.write_features_batch(
        [EntityRecord(g.id, "u1", {"age": 1}, datetime(2026, 1, 1))]
    )
    with _pytest.raises(ValueError, match="version 99 does not exist"):
        store.records_df(g.id, version=99)
    # as_of_commit before the first commit is NOT an error: empty table.
    assert store.records_df(
        g.id, as_of_commit=datetime(2000, 1, 1)
    ).count() == 0


def test_concurrent_data_plane_writers_both_commit(spark, tmp_path):
    """Two FeatureStore instances on the same base path appending
    concurrently: the optimistic commit loop must land BOTH commits
    (no lost update, distinct versions, all rows readable)."""
    import threading
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    base = str(tmp_path / "fs_conc")
    a = FeatureStore(spark, base)
    a.register_feature("age", "user", "int")
    g = a.create_group("g", ["age"], "user_id")
    b = FeatureStore(spark, base)

    barrier = threading.Barrier(2)
    errors = []

    def writer(store, lo, hi):
        try:
            barrier.wait(timeout=60)
            store.write_features_batch(
                [
                    EntityRecord(g.id, f"u{i}", {"age": i},
                                 datetime(2026, 1, 1 + (i % 27)))
                    for i in range(lo, hi)
                ]
            )
        except Exception as e:  # pragma: no cover - failure path
            errors.append(e)

    t1 = threading.Thread(target=writer, args=(a, 0, 40))
    t2 = threading.Thread(target=writer, args=(b, 40, 80))
    t1.start(); t2.start(); t1.join(120); t2.join(120)
    assert not errors
    versions = a._log.versions()
    assert len(versions) == 2  # two distinct commits, no clobber
    fresh = FeatureStore(spark, base)
    df = fresh.records_df(g.id)
    assert df.count() == 80
    assert df.select("entity_id").distinct().count() == 80


def test_bitemporal_get_features(store_with_group):
    """Value time (as_of) and commit time (table_version) are
    independent axes: a late-arriving backdated record is visible at
    the latest table version but absent from the earlier one, at the
    SAME value-time cutoff."""
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.write_features_batch(
        [EntityRecord(g.id, "u1", {"age": 30}, datetime(2026, 1, 1))]
    )  # table version 0
    # Late arrival: committed later (version 1), but BACKDATED to Jan 2.
    store.write_features_batch(
        [EntityRecord(g.id, "u1", {"age": 31}, datetime(2026, 1, 2))]
    )
    cutoff = datetime(2026, 1, 15)
    # What we believe now about Jan 15: the backdated row counts.
    assert store.get_features(g.id, "u1", as_of=cutoff) == {"age": 31}
    # What the table knew at version 0 about Jan 15: it didn't have it.
    assert store.get_features(
        g.id, "u1", as_of=cutoff, table_version=0
    ) == {"age": 30}


def test_vacuumed_version_raises_clear_error(store_with_group):
    from datetime import datetime

    import pytest as _pytest

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.write_features_batch(
        [EntityRecord(g.id, "u1", {"age": 1}, datetime(2026, 1, 1))]
    )  # v0
    store.compact_records(g.id)  # v1 supersedes v0's file
    store.vacuum(retain_versions=1)
    with _pytest.raises(ValueError, match="was vacuumed"):
        store.records_df(g.id, version=0)
    # The retained version still reads fine.
    assert store.records_df(g.id, version=1).count() == 1


def test_concurrent_delete_and_compact_abort_one_side(store_with_group):
    # The ADVICE delete×compact race: a compaction resolves its
    # snapshot, then a concurrent GDPR delete commits first. Replaying
    # both would double every surviving row and resurrect the erased
    # entity via the compaction's add set — the conflict check must
    # abort the compaction instead.
    from blackroad_feature_store_spark.errors import (
        ConcurrentModificationError,
    )
    from blackroad_feature_store_spark.versioning import CommitLog

    store, g = store_with_group
    for i in range(4):
        store.write_features(g.id, f"u{i}", {"age": 20 + i})

    orig_commit = CommitLog.commit
    state = {"injected": False}

    def racing_commit(self, op, add, remove, meta=None):
        if op == "compact" and not state["injected"]:
            state["injected"] = True
            # The concurrent deleter erases u0 (one whole file, since
            # each write_features lands one file) between the
            # compaction's snapshot resolution and its commit.
            store.delete_entity_records(g.id, "u0")
        return orig_commit(self, op, add, remove, meta)

    CommitLog.commit = racing_commit
    try:
        with pytest.raises(ConcurrentModificationError):
            store.compact_records(g.id)
    finally:
        CommitLog.commit = orig_commit

    # The delete won; no doubled rows, no resurrected entity.
    df = store.records_df(g.id)
    assert df.count() == 3
    assert store.get_features(g.id, "u0") is None
    assert df.groupBy("id").count().agg({"count": "max"}).collect()[0][0] == 1

    # A retried compaction re-resolves the snapshot and succeeds.
    assert store.compact_records(g.id) == 3
    assert store.records_df(g.id).count() == 3
    assert store.get_features(g.id, "u0") is None


def test_vacuum_spares_in_flight_writer(store_with_group):
    # The ADVICE vacuum race: _stage_and_commit moves files into the
    # live tree BEFORE the manifest commits; a vacuum running in that
    # window must not delete them. The default orphan grace protects
    # them; the commit then lands and reads back intact.
    from blackroad_feature_store_spark.versioning import CommitLog

    store, g = store_with_group
    store.write_features(g.id, "u1", {"age": 1})

    orig_commit = CommitLog.commit
    state = {"vacuumed_during_write": None}

    def vacuuming_commit(self, op, add, remove, meta=None):
        if state["vacuumed_during_write"] is None:
            # Absorbed-but-uncommitted files are on disk right now.
            state["vacuumed_during_write"] = store.vacuum(retain_versions=1)
        return orig_commit(self, op, add, remove, meta)

    CommitLog.commit = vacuuming_commit
    try:
        store.write_features(g.id, "u2", {"age": 2})
    finally:
        CommitLog.commit = orig_commit

    assert state["vacuumed_during_write"] == 0  # grace spared the files
    assert store.records_df(g.id).count() == 2
    assert store.get_features(g.id, "u2")["age"] == 2


def test_as_of_commit_past_vacuum_watermark_raises(store_with_group):
    # Same contract as version=: an instant resolving below the vacuum
    # horizon raises the clear earliest-travelable error, not a
    # missing-file scan failure.
    store, g = store_with_group
    store.write_features(g.id, "u1", {"age": 1})
    v0_ts = store.history()[-1]["ts"]
    store.compact_records(g.id)
    store.vacuum(retain_versions=1)
    with pytest.raises(ValueError, match="earliest time-travelable"):
        store.records_df(g.id, as_of_commit=v0_ts).count()
    # At-or-after the retained version still reads.
    latest_ts = store.history()[0]["ts"]
    assert store.records_df(g.id, as_of_commit=latest_ts).count() == 1


# -- bulk registration (round-6: one flush per batch) -----------------------

def test_register_features_bulk_single_flush(store, monkeypatch):
    # N individual registrations rewrite the registry parquet N times
    # (O(N^2) bytes over a bulk load); the batch form must flush once.
    flushes = []
    orig = FeatureStore._flush_features
    monkeypatch.setattr(
        FeatureStore, "_flush_features",
        lambda self: (flushes.append(1), orig(self))[1],
    )
    feats = store.register_features(
        [{"name": f"f{i}", "entity_type": "user", "dtype": "int"}
         for i in range(20)]
    )
    assert len(feats) == 20
    assert flushes == [1]
    assert store.get_feature("f7").dtype == "int"


def test_register_features_bulk_invalid_dtype_atomic(store):
    import pytest as _pytest
    from blackroad_feature_store_spark.errors import InvalidDtypeError

    with _pytest.raises(InvalidDtypeError):
        store.register_features([
            {"name": "ok", "entity_type": "user", "dtype": "int"},
            {"name": "bad", "entity_type": "user", "dtype": "decimal"},
        ])
    # all-or-nothing: nothing from the failed batch landed
    assert store.get_feature("ok") is None
    assert store.get_feature("bad") is None


def test_register_features_bulk_two_writer_merge(spark, tmp_path):
    # Batch flush still does the read-merge-write under flock: another
    # writer's features persisted between our load and our flush survive.
    a = FeatureStore(spark, str(tmp_path / "s"))
    b = FeatureStore(spark, str(tmp_path / "s"))
    a.register_feature("from_a", "user", "int")
    b.register_features(
        [{"name": "from_b1", "entity_type": "user", "dtype": "int"},
         {"name": "from_b2", "entity_type": "user", "dtype": "str"}]
    )
    fresh = FeatureStore(spark, str(tmp_path / "s"))
    names = {f.name for f in fresh.list_features()}
    assert {"from_a", "from_b1", "from_b2"} <= names


# -- change data feed (records_changes) -------------------------------------

def _write_batch(store, gid, tag, n, day):
    from blackroad_feature_store_spark.store import EntityRecord
    store.write_features_batch(
        EntityRecord(
            group_id=gid, entity_id=f"{tag}{i}",
            feature_values={"age": i},
            timestamp=f"2026-02-{day:02d}T00:00:00",
        )
        for i in range(n)
    )


def test_records_changes_returns_only_new_commits(store_with_group):
    store, g = store_with_group
    _write_batch(store, g.id, "a", 3, 1)          # version 0
    cursor = store.current_version
    _write_batch(store, g.id, "b", 2, 2)          # version 1
    _write_batch(store, g.id, "c", 4, 3)          # version 2

    feed = store.records_changes(since_version=cursor)
    rows = feed.select("entity_id", "_commit_version").collect()
    assert len(rows) == 6
    by_ver = {}
    for r in rows:
        by_ver.setdefault(r["_commit_version"], set()).add(r["entity_id"])
    assert by_ver == {
        cursor + 1: {"b0", "b1"},
        cursor + 2: {"c0", "c1", "c2", "c3"},
    }
    # full-history feed: since=-1 includes the first commit too
    assert store.records_changes(since_version=-1).count() == 9
    # bounded upper cursor
    assert (
        store.records_changes(
            since_version=cursor, to_version=cursor + 1
        ).count() == 2
    )


def test_records_changes_skips_rewrite_commits(store_with_group):
    store, g = store_with_group
    _write_batch(store, g.id, "a", 5, 1)          # v0: insert
    cursor = store.current_version
    store.compact_records(g.id)                   # v1: rewrite (no new rows)
    _write_batch(store, g.id, "b", 2, 2)          # v2: insert
    store.delete_entity_records(g.id, "a0")       # v3: rewrite
    feed = store.records_changes(since_version=cursor)
    ids = {r["entity_id"] for r in feed.select("entity_id").collect()}
    # only the v2 inserts; neither the compaction's re-added rows nor
    # the delete rewrite appear
    assert ids == {"b0", "b1"}


def test_records_changes_validates_versions(store_with_group):
    store, g = store_with_group
    _write_batch(store, g.id, "a", 2, 1)
    with pytest.raises(ValueError, match="does not exist"):
        store.records_changes(since_version=7)
    with pytest.raises(ValueError, match="does not exist"):
        store.records_changes(since_version=0, to_version=9)


def test_records_changes_raises_below_vacuum_horizon(store_with_group):
    store, g = store_with_group
    _write_batch(store, g.id, "a", 3, 1)          # v0
    _write_batch(store, g.id, "b", 3, 2)          # v1
    store.compact_records(g.id)                   # v2 supersedes v0/v1 files
    store.vacuum(retain_versions=1, orphan_grace_seconds=0.0)
    with pytest.raises(ValueError, match="vacuum horizon"):
        store.records_changes(since_version=0).count()
    # a cursor at/after the horizon still works (no reclaimed files in range)
    assert store.records_changes(since_version=2).count() == 0


def test_records_changes_random_op_sequences_match_ledger(store_with_group):
    """Property check (seeded): over random interleavings of appends,
    compactions, and entity deletes, the feed from ANY cursor equals
    the ledger of inserts made by append commits after it — rewrites
    never re-emit, regardless of where they land in the history."""
    import random as _random

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    rng = _random.Random(20260814)
    ledger = []  # (version, entity_id) per inserted record
    serial = 0
    for _ in range(8):
        op = rng.choice(["append", "append", "append", "compact", "delete"])
        if op == "append":
            n = rng.randrange(1, 4)
            recs = []
            for _i in range(n):
                serial += 1
                recs.append(
                    EntityRecord(
                        group_id=g.id,
                        entity_id=f"e{serial}",
                        feature_values={"age": serial},
                        timestamp=f"2026-03-{(serial % 27) + 1:02d}T00:00:00",
                    )
                )
            store.write_features_batch(recs)
            v = store.current_version
            ledger += [(v, r.entity_id) for r in recs]
        elif op == "compact" and store.current_version is not None:
            store.compact_records(g.id)
        elif op == "delete" and serial:
            store.delete_entity_records(g.id, f"e{rng.randrange(serial) + 1}")
    latest = store.current_version
    for cursor in sorted({-1, 0, latest // 2, latest}):
        if cursor > latest:
            continue
        got = sorted(
            (r["_commit_version"], r["entity_id"])
            for r in store.records_changes(since_version=cursor)
            .select("_commit_version", "entity_id")
            .collect()
        )
        expected = sorted((v, e) for v, e in ledger if v > cursor)
        assert got == expected, f"cursor {cursor}"


def test_records_changes_empty_store_full_history_is_empty(store):
    # -1 is the documented full-history cursor: valid on a store with
    # no commits yet (empty feed, not an error).
    assert store.records_changes(since_version=-1).count() == 0
    with pytest.raises(ValueError, match="does not exist"):
        store.records_changes(since_version=0)


def test_records_changes_includes_migrate_commit(spark, tmp_path):
    # A pre-versioning store adopted via the "migrate" version-0 commit:
    # those rows have never been through the log, so a full-history
    # feed must include them.
    import os
    import shutil

    base = str(tmp_path / "legacy")
    a = FeatureStore(spark, base)
    a.register_feature("age", "user", "int")
    g = a.create_group("g", ["age"], "user_id")
    a.write_features(g.id, "u1", {"age": 1}, timestamp="2026-01-01T00:00:00")
    # strip the commit log → a legacy unversioned layout
    shutil.rmtree(os.path.join(base, "_versions"))
    b = FeatureStore(spark, base)   # re-open runs _migrate_unversioned
    hist = b.history()
    assert hist[-1]["op"] == "migrate"
    feed = b.records_changes(since_version=-1)
    rows = feed.select("entity_id", "_commit_version").collect()
    assert [(r["entity_id"], r["_commit_version"]) for r in rows] == [
        ("u1", 0)
    ]


def test_failed_migration_is_retried_on_next_open(spark, tmp_path):
    """A pre-versioning store whose migrate commit fails (here after the
    log directory was made, as on a full disk) stays unversioned: the
    next open migrates again, its records still read back, and vacuum
    reclaims none of them."""
    import errno
    import os
    import shutil

    from blackroad_feature_store_spark.versioning import CommitLog

    base = str(tmp_path / "legacy")
    a = FeatureStore(spark, base)
    a.register_feature("age", "user", "int")
    g = a.create_group("g", ["age"], "user_id")
    a.write_features(g.id, "u1", {"age": 1}, timestamp="2026-01-01T00:00:00")
    shutil.rmtree(os.path.join(base, "_versions"))
    orig_commit = CommitLog.commit

    def disk_full(self, *a, **k):
        os.makedirs(self.dir, exist_ok=True)
        raise OSError(errno.ENOSPC, "No space left on device")

    CommitLog.commit = disk_full
    try:
        with pytest.raises(OSError, match="No space"):
            FeatureStore(spark, base)
    finally:
        CommitLog.commit = orig_commit
    assert not os.path.exists(os.path.join(base, "_versions"))

    b = FeatureStore(spark, base)
    assert [h["op"] for h in b.history()] == ["migrate"]
    assert b.get_features(g.id, "u1") == {"age": 1}
    assert b.vacuum(orphan_grace_seconds=0.0) == 0
    assert b.get_features(g.id, "u1") == {"age": 1}
    # the failed attempt's staging directory is gone too
    assert not [n for n in os.listdir(base) if n.startswith("._versions")]


# -- typed wide view --------------------------------------------------------

def test_typed_records_df_casts_by_registry_dtype(spark, tmp_path):
    store = FeatureStore(spark, str(tmp_path / "fs"))
    store.register_feature("age", "user", "int")
    store.register_feature("score", "user", "float")
    store.register_feature("active", "user", "bool")
    store.register_feature("city", "user", "str")
    store.register_feature("tags", "user", "list")
    g = store.create_group(
        "wide", ["age", "score", "active", "city", "tags"], "user_id"
    )
    store.write_features(
        g.id, "u1",
        {"age": 30, "score": 1.5, "active": True,
         "city": 'Li"s\nbon', "tags": ["a", "b"],
         "undeclared": 7},                      # open schema
        timestamp="2026-01-01T00:00:00",
    )
    store.write_features(
        g.id, "u2",
        {"age": "not-a-number", "city": None},  # dtypes are advisory
        timestamp="2026-01-02T00:00:00",
    )
    wide = store.typed_records_df(g.id)
    types = dict(wide.dtypes)
    assert types["age"] == "bigint" and types["score"] == "double"
    assert types["active"] == "boolean" and types["city"] == "string"
    assert types["tags"] == "array<string>"
    assert types["_extras"] == "map<string,string>"

    rows = {r["entity_id"]: r for r in wide.collect()}
    u1 = rows["u1"]
    assert u1["age"] == 30 and u1["score"] == 1.5 and u1["active"] is True
    assert u1["city"] == 'Li"s\nbon'            # escapes round-trip
    assert u1["tags"] == ["a", "b"]
    assert u1["_extras"] == {"undeclared": "7"}
    u2 = rows["u2"]
    assert u2["age"] is None                    # uncoercible → NULL, no error
    assert u2["city"] is None
    assert u2["_extras"] == {}

    # snapshot semantics piggyback on records_df
    v0 = store.current_version
    store.write_features(g.id, "u3", {"age": 1},
                         timestamp="2026-01-03T00:00:00")
    assert store.typed_records_df(g.id, version=v0).count() == 2
    assert store.typed_records_df(g.id).count() == 3


# -- z-order compaction -----------------------------------------------------


def test_zorder_compaction_skips_on_both_dimensions(store_with_group):
    from datetime import datetime, timedelta

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    # 8 entities x 8 days, independent dimensions, written shuffled.
    recs = [
        EntityRecord(
            g.id,
            f"e{e}",
            {"age": e * 10 + d},
            datetime(2026, 3, 1) + timedelta(days=d),
        )
        for e in range(8)
        for d in range(8)
    ]
    import random

    rng = random.Random(7)
    rng.shuffle(recs)
    for i in range(0, 64, 16):
        store.write_features_batch(recs[i : i + 16])

    n = store.compact_records(
        g.id,
        target_rows_per_file=16,
        cluster_by=["entity_id", "timestamp"],
        zorder=True,
    )
    assert n == 64
    all_files = set(store.records_df(g.id).inputFiles())
    assert len(all_files) >= 4

    # Dimension 1: entity point lookup prunes via the bloom index.
    ent_files = set(store.records_df(g.id, entity_id="e3").inputFiles())
    assert 0 < len(ent_files) < len(all_files)
    # Dimension 2: an early as-of cutoff prunes via ts min/max stats.
    ts_files = set(
        store.records_df(g.id, ts_lte=datetime(2026, 3, 2)).inputFiles()
    )
    assert 0 < len(ts_files) < len(all_files)

    # Pruning never changes answers.
    assert store.get_features(g.id, "e3")["age"] == 37
    assert (
        store.records_df(g.id, ts_lte=datetime(2026, 3, 2))
        .where("timestamp <= timestamp'2026-03-02'")
        .count()
        == 16
    )


def test_zorder_vs_linear_clustering_on_second_dimension(store_with_group):
    """Lexicographic (entity, ts) clustering leaves every file spanning
    the full time range — the second dimension gains nothing. The same
    compaction with zorder=True must prune time-sliced reads."""
    from datetime import datetime, timedelta

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    recs = [
        EntityRecord(
            g.id,
            f"e{e}",
            {"age": e},
            datetime(2026, 3, 1) + timedelta(days=d),
        )
        for e in range(8)
        for d in range(8)
    ]
    store.write_features_batch(recs)

    store.compact_records(
        g.id, target_rows_per_file=16, cluster_by=["entity_id", "timestamp"]
    )
    all_linear = set(store.records_df(g.id).inputFiles())
    linear_ts = set(
        store.records_df(g.id, ts_lte=datetime(2026, 3, 2)).inputFiles()
    )
    # every file holds >= 2 full entity histories -> no ts pruning
    assert linear_ts == all_linear

    store.compact_records(
        g.id,
        target_rows_per_file=16,
        cluster_by=["entity_id", "timestamp"],
        zorder=True,
    )
    all_z = set(store.records_df(g.id).inputFiles())
    z_ts = set(
        store.records_df(g.id, ts_lte=datetime(2026, 3, 2)).inputFiles()
    )
    assert 0 < len(z_ts) < len(all_z)


def test_records_changes_include_deletes_surfaces_removed_rows(
    store_with_group,
):
    store, g = store_with_group
    _write_batch(store, g.id, "a", 3, 1)                   # v0: a0 a1 a2
    _write_batch(store, g.id, "b", 2, 2)                   # v1: b0 b1
    store.delete_entity_records(g.id, "a1")                # v2: rewrite
    feed = store.records_changes(since_version=-1, include_deletes=True)
    rows = feed.collect()
    by_type = {}
    for r in rows:
        by_type.setdefault(r["_change_type"], []).append(r)
    assert len(by_type["insert"]) == 5
    deletes = by_type["delete"]
    assert [r["entity_id"] for r in deletes] == ["a1"]
    assert deletes[0]["_commit_version"] == 2
    # Without the flag the schema and content are unchanged (5 inserts,
    # no _change_type column).
    plain = store.records_changes(since_version=-1)
    assert "_change_type" not in plain.columns
    assert plain.count() == 5


def test_records_changes_include_deletes_remove_only_commit(
    store_with_group,
):
    """Deleting the LAST entity in a partition commits remove-only
    (no rewrite files) — every removed row must surface as a delete."""
    store, g = store_with_group
    _write_batch(store, g.id, "solo", 2, 1)
    store.delete_entity_records(g.id, "solo0")
    store.delete_entity_records(g.id, "solo1")  # partition now empty
    feed = store.records_changes(since_version=-1, include_deletes=True)
    deletes = sorted(
        r["entity_id"]
        for r in feed.where("_change_type = 'delete'").collect()
    )
    assert deletes == ["solo0", "solo1"]


def test_records_changes_include_deletes_skips_compaction(store_with_group):
    store, g = store_with_group
    _write_batch(store, g.id, "a", 3, 1)
    _write_batch(store, g.id, "b", 3, 2)
    cursor = store.current_version
    store.compact_records(g.id, target_rows_per_file=10)
    feed = store.records_changes(
        since_version=cursor, include_deletes=True
    )
    # Compaction preserves rows: no inserts, no deletes.
    assert feed.count() == 0


def test_records_changes_deletes_below_vacuum_horizon_raise(
    store_with_group,
):
    store, g = store_with_group
    _write_batch(store, g.id, "a", 3, 1)
    store.delete_entity_records(g.id, "a0")
    _write_batch(store, g.id, "b", 2, 2)
    _write_batch(store, g.id, "c", 2, 3)
    _write_batch(store, g.id, "d", 2, 4)
    store.vacuum(retain_versions=2, orphan_grace_seconds=0)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vacuum horizon"):
        store.records_changes(
            since_version=-1, include_deletes=True
        ).count()


def test_maybe_compact_fires_only_over_threshold(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    for i in range(5):  # 5 commits -> 5 files
        store.write_features_batch(
            [EntityRecord(g.id, f"e{i}", {"age": i}, datetime(2026, 1, 1))]
        )
    # Below threshold: no rewrite, no new commit.
    v_before = store.current_version
    assert store.maybe_compact(g.id, max_files=8) == 0
    assert store.current_version == v_before
    # Over threshold: compacts everything in the partition.
    assert store.maybe_compact(g.id, max_files=3) == 5
    assert store.current_version == v_before + 1
    files = set(store.records_df(g.id).inputFiles())
    assert len(files) == 1
    # Data unchanged.
    assert store.get_features(g.id, "e3") == {"age": 3}


# -- version tags ------------------------------------------------------------


def test_tag_pins_version_and_survives_vacuum(store_with_group):
    store, g = store_with_group
    _write_batch(store, g.id, "a", 2, 1)                    # v0
    store.tag_version("training-set")                       # pins v0
    _write_batch(store, g.id, "b", 2, 2)                    # v1
    store.compact_records(g.id, target_rows_per_file=10)    # v2 rewrite
    _write_batch(store, g.id, "c", 2, 3)                    # v3
    # retention alone would reclaim v0's files...
    store.vacuum(retain_versions=1, orphan_grace_seconds=0)
    # ...but the tag protects them: the tagged read still works and
    # returns exactly the v0 state.
    tagged = store.records_df(g.id, tag="training-set")
    assert sorted(r["entity_id"] for r in tagged.collect()) == ["a0", "a1"]
    assert store.list_tags() == {"training-set": 0}
    # untagged time travel below the watermark still errors
    import pytest as _pytest

    with _pytest.raises(ValueError, match="vacuum"):
        store.records_df(g.id, version=1).count()
    # dropping the tag releases the pin; next vacuum reclaims
    store.delete_tag("training-set")
    store.vacuum(retain_versions=1, orphan_grace_seconds=0)
    with _pytest.raises(ValueError, match="vacuum|not.*exist"):
        store.records_df(g.id, tag="training-set").count()


def test_tag_validation_and_retag(store_with_group):
    import pytest as _pytest

    store, g = store_with_group
    with _pytest.raises(ValueError, match="does not exist"):
        store.tag_version("t")  # empty store
    _write_batch(store, g.id, "a", 1, 1)
    store.tag_version("t")
    _write_batch(store, g.id, "b", 1, 2)
    assert store.tag_version("t") == 1  # retag moves the ref
    assert store.list_tags()["t"] == 1
    with _pytest.raises(ValueError, match="Invalid tag name"):
        store.tag_version("../escape")
    with _pytest.raises(ValueError, match="does not exist"):
        store.tag_version("nope", version=99)
    with _pytest.raises(ValueError, match="alone"):
        store.records_df(g.id, tag="t", version=0)
    # tagging below the vacuum watermark is rejected
    _write_batch(store, g.id, "c", 1, 3)
    store.vacuum(retain_versions=1, orphan_grace_seconds=0)
    with _pytest.raises(ValueError, match="watermark"):
        store.tag_version("old", version=0)


# -- CHECK constraints -------------------------------------------------------


def test_check_constraint_rejects_bad_batch_atomically(store_with_group):
    from datetime import datetime

    from blackroad_feature_store_spark.errors import (
        ConstraintViolationError,
    )
    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.add_constraint(
        g.id, "age_nonneg", "TRY_CAST(feature_values['age'] AS INT) >= 0"
    )
    store.add_constraint(g.id, "has_entity", "entity_id IS NOT NULL")
    v_before = store.current_version
    import pytest as _pytest

    with _pytest.raises(ConstraintViolationError, match="age_nonneg"):
        store.write_features_batch(
            [
                EntityRecord(g.id, "ok", {"age": 5}, datetime(2026, 1, 1)),
                EntityRecord(g.id, "bad", {"age": -1}, datetime(2026, 1, 1)),
            ]
        )
    # nothing landed — the whole batch rolled back
    assert store.current_version == v_before
    assert store.get_features(g.id, "ok") is None
    # clean batch goes through
    store.write_features_batch(
        [EntityRecord(g.id, "ok", {"age": 5}, datetime(2026, 1, 1))]
    )
    assert store.get_features(g.id, "ok") == {"age": 5}
    # compaction re-adds existing rows without re-validation cost
    store.compact_records(g.id, target_rows_per_file=10)
    assert store.get_features(g.id, "ok") == {"age": 5}


def test_check_constraint_definition_contract(store_with_group):
    import pytest as _pytest

    store, g = store_with_group
    with _pytest.raises(ValueError, match="does not analyze"):
        store.add_constraint(g.id, "broken", "no_such_column > 0")
    with _pytest.raises(ValueError, match="not found|Unknown"):
        store.add_constraint("nope", "c", "entity_id IS NOT NULL")
    store.add_constraint(g.id, "c1", "entity_id IS NOT NULL")
    assert store.list_constraints(g.id) == {"c1": "entity_id IS NOT NULL"}
    store.drop_constraint(g.id, "c1")
    assert store.list_constraints(g.id) == {}
    with _pytest.raises(ValueError, match="does not exist"):
        store.drop_constraint(g.id, "c1")


def test_corrupt_constraint_file_surfaces_instead_of_disabling(
    store_with_group,
):
    """A corrupted _constraints/<group>.json must raise, not silently
    return {} — returning {} would disable CHECK enforcement and let
    writes that should be rejected land without any signal."""
    import pytest as _pytest

    store, g = store_with_group
    store.add_constraint(g.id, "c1", "entity_id IS NOT NULL")
    path = store._constraints_path(g.id)
    with open(path, "w") as fh:
        fh.write("{not json")
    with _pytest.raises(RuntimeError, match="unreadable or corrupt"):
        store.list_constraints(g.id)
    # absent file still means "no constraints"
    import os as _os

    _os.remove(path)
    assert store.list_constraints(g.id) == {}


def test_check_constraint_null_result_counts_as_violation(
    store_with_group,
):
    """A CHECK evaluating to NULL (e.g. cast failure) must REJECT, not
    silently pass — the strict reading that protects downstream
    consumers from unparseable values."""
    from datetime import datetime

    from blackroad_feature_store_spark.errors import (
        ConstraintViolationError,
    )
    from blackroad_feature_store_spark.store import EntityRecord

    store, g = store_with_group
    store.add_constraint(
        g.id, "age_int", "TRY_CAST(feature_values['age'] AS INT) >= 0"
    )
    import pytest as _pytest

    with _pytest.raises(ConstraintViolationError, match="age_int"):
        store.write_features_batch(
            [
                EntityRecord(
                    g.id, "u1", {"age": "not-a-number"}, datetime(2026, 1, 1)
                )
            ]
        )
