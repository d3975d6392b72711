"""Online-store time travel (io/manifest.py commit log): every
manifest flip records {seq, version, committed_at} for the snapshots GC
keeps, ManifestedParquetTable.read/path_as_of resolve a commit seq or a
wall-clock instant (Delta TIMESTAMP AS OF), and
FeatureStore.get_online_features(as_of=) replays what serving returned
at that instant — including ttl statuses classified against it."""

from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import Row

from feast_spark import (
    Entity,
    FeatureStore,
    FeatureView,
    FileSource,
    RepoConfig,
    ValueType,
)
from feast_spark.io.fs import LocalFS
from feast_spark.io.manifest import ManifestedParquetTable
from feast_spark.online.store import encode_request_keys


def _utcnow():
    return datetime.now(timezone.utc).replace(tzinfo=None)


def test_manifest_commit_log_and_as_of(spark, tmp_path):
    t = ManifestedParquetTable(str(tmp_path / "t"), keep_versions=3)
    for i in (1, 2, 3):
        t.commit(spark.createDataFrame([(i,)], "x INT"))
    hist = t.history()
    assert [e["seq"] for e in hist] == [1, 2, 3]
    assert [e["committed_at"] for e in hist] == sorted(
        e["committed_at"] for e in hist
    )
    for i in (1, 2, 3):
        assert t.read(spark, as_of=i).collect()[0]["x"] == i
    # TIMESTAMP AS OF: an instant between commits resolves the earlier
    # one; an instant after the last resolves head
    mid = datetime.fromtimestamp(
        (hist[0]["committed_at"] + hist[1]["committed_at"]) / 2,
        tz=timezone.utc,
    ).replace(tzinfo=None)
    assert t.read(spark, as_of=mid).collect()[0]["x"] == 1
    assert t.read(spark, as_of=_utcnow() + timedelta(days=1)) \
        .collect()[0]["x"] == 3
    # before the oldest retained commit: honest error naming the window
    early = datetime.fromtimestamp(
        hist[0]["committed_at"] - 60, tz=timezone.utc
    ).replace(tzinfo=None)
    with pytest.raises(ValueError, match="oldest retained"):
        t.path_as_of(early)


def test_manifest_gc_truncates_the_window(spark, tmp_path):
    t = ManifestedParquetTable(str(tmp_path / "t"), keep_versions=2)
    for i in (1, 2, 3):
        t.commit(spark.createDataFrame([(i,)], "x INT"))
    hist = t.history()
    assert [e["seq"] for e in hist] == [2, 3]  # seq 1's dir was GC'd
    with pytest.raises(ValueError, match="retained seqs 2, 3"):
        t.path_as_of(1)
    assert t.read(spark, as_of=2).collect()[0]["x"] == 2


def test_manifest_without_history_is_friendly(spark, tmp_path):
    t = ManifestedParquetTable(str(tmp_path / "t"))
    with pytest.raises(ValueError, match="no commit history"):
        t.path_as_of(1)


def test_manifest_tags_pin_snapshots_past_gc(spark, tmp_path):
    """Tagged snapshots are keep_versions-GC-exempt (r14): the tag's
    version survives every later commit, stays resolvable by name AND
    by its seq, and rejoins the GC window once the tag is deleted —
    the io/epochs.py tag discipline on the snapshot store."""
    t = ManifestedParquetTable(str(tmp_path / "t"), keep_versions=2)
    t.commit(spark.createDataFrame([(1,)], "x INT"))
    assert t.tag("prod") == 1  # default: head seq
    for i in (2, 3, 4, 5):
        t.commit(spark.createDataFrame([(i,)], "x INT"))
    # window is 2, but the pinned seq-1 snapshot is still readable
    assert [e["seq"] for e in t.history()] == [1, 4, 5]
    assert t.read(spark, as_of="prod").collect()[0]["x"] == 1
    assert t.read(spark, as_of=1).collect()[0]["x"] == 1
    with pytest.raises(ValueError, match="retained seqs"):
        t.path_as_of(3)  # untagged mid-window seqs were GC'd
    # a datetime inside the GC GAP must not silently resolve to the
    # pinned-but-stale seq-1 snapshot: serving at that instant was on
    # seq 2 or 3, which are gone — the error is honest
    hist = t.history()
    mid_gap = datetime.fromtimestamp(
        (hist[0]["committed_at"] + hist[1]["committed_at"]) / 2,
        tz=timezone.utc,
    ).replace(tzinfo=None)
    with pytest.raises(ValueError, match="ambiguous instant"):
        t.path_as_of(mid_gap)
    # at-or-after the newest retained commits, instants resolve fine
    assert t.read(
        spark, as_of=_utcnow() + timedelta(days=1)
    ).collect()[0]["x"] == 5
    # unknown tag: honest error naming the committed tags
    with pytest.raises(ValueError, match="committed tags"):
        t.path_as_of("staging")
    # numeric names would shadow literal seqs
    with pytest.raises(ValueError, match="numeric"):
        t.tag("7")
    # tagging an already-GC'd seq is refused
    with pytest.raises(ValueError, match="cannot be pinned"):
        t.tag("late", seq=2)
    # unpin: the snapshot rejoins the GC window at the next commit
    t.delete_tag("prod")
    with pytest.raises(ValueError, match="no tag"):
        t.delete_tag("prod")
    t.commit(spark.createDataFrame([(6,)], "x INT"))
    assert [e["seq"] for e in t.history()] == [5, 6]
    with pytest.raises(ValueError, match="retained seqs"):
        t.path_as_of(1)


def test_manifest_vacuum_reclaims_unpinned_without_a_commit(
    spark, tmp_path
):
    """vacuum() reruns GC against the current manifest: a deleted
    tag's snapshot is reclaimed NOW, pinned/window versions survive,
    and the history log is truncated to survivors."""
    t = ManifestedParquetTable(str(tmp_path / "t"), keep_versions=2)
    for i in (1, 2, 3, 4):
        t.commit(spark.createDataFrame([(i,)], "x INT"))
        if i == 1:
            t.tag("old-run")
        if i == 2:
            t.tag("keeper")
    assert [e["seq"] for e in t.history()] == [1, 2, 3, 4]
    # nothing outside the keep rules: vacuum is a no-op
    assert t.vacuum() == []
    t.delete_tag("old-run")
    deleted = t.vacuum()
    assert deleted == ["v_00000001"]
    assert [e["seq"] for e in t.history()] == [2, 3, 4]
    # the still-pinned and in-window snapshots all read
    assert t.read(spark, as_of="keeper").collect()[0]["x"] == 2
    assert t.read(spark, as_of=4).collect()[0]["x"] == 4
    with pytest.raises(ValueError, match="retained seqs"):
        t.path_as_of(1)
    # empty table: no-op, no error
    assert ManifestedParquetTable(str(tmp_path / "empty")).vacuum() == []


def test_online_snapshot_tag_serves_by_name(spark, store):
    """table(...).tag -> get_online_features(as_of='name') replays the
    pinned materialization through every later upsert."""
    now = _utcnow()
    store.online_store.table("tt", "fv").tag("june-run")
    for v in (5.0, 6.0):
        store.online_store.online_write_batch(
            spark, "tt", "fv",
            spark.createDataFrame(
                [Row(driver_id=1, value=v,
                     ts=now - timedelta(minutes=5), created_ts=now)]
            ),
            ["driver_id"], "ts", "created_ts", ["value"],
        )
    head = store.get_online_features(["fv:value"], [{"driver_id": 1}])
    assert head["value"] == [pytest.approx(6.0)]
    pinned = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}], as_of="june-run"
    )
    assert pinned["value"] == [pytest.approx(0.3)]
    # a tag names a snapshot, not an instant: full statuses need now=
    with pytest.raises(ValueError, match="pass now="):
        store.get_online_features(
            ["fv:value"], [{"driver_id": 1}],
            full_field_statuses=True, as_of="june-run",
        )


@pytest.fixture()
def store(spark, tmp_path):
    now = _utcnow()
    rows = [
        Row(id=1, value=0.3, ts_1=now - timedelta(hours=3),
            created_ts=now),
        Row(id=3, value=4.0, ts_1=now - timedelta(hours=4),
            created_ts=now),
    ]
    src_path = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows).write.parquet(src_path)
    st = FeatureStore(
        spark,
        RepoConfig(
            project="tt",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    st.apply(
        [
            Entity(name="driver", join_key="driver_id",
                   value_type=ValueType.INT64),
            FeatureView(
                name="fv",
                entities=["driver"],
                ttl=timedelta(days=1),
                batch_source=FileSource(
                    path=src_path,
                    event_timestamp_column="ts",
                    created_timestamp_column="created_ts",
                    field_mapping={"ts_1": "ts", "id": "driver_id"},
                ),
            ),
        ]
    )
    st.materialize(now - timedelta(hours=5), now)
    return st


def test_get_online_features_as_of_replays_the_snapshot(
    spark, store, tmp_path
):
    now = _utcnow()
    between = _utcnow()
    # a later ingestion overwrites driver 1 (newer event_ts wins)
    newer = spark.createDataFrame(
        [Row(driver_id=1, value=9.9, ts=now - timedelta(minutes=5),
             created_ts=now)]
    )
    store.online_store.online_write_batch(
        spark, "tt", "fv", newer, ["driver_id"], "ts", "created_ts",
        ["value"],
    )
    head = store.get_online_features(["fv:value"], [{"driver_id": 1}])
    assert head["value"] == [pytest.approx(9.9)]
    past = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}], as_of=between
    )
    assert past["value"] == [pytest.approx(0.3)]
    # ttl statuses classify against the replayed instant (value was
    # 3h old THEN — inside the 1-day ttl -> PRESENT)
    past_full = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}], full_field_statuses=True,
        as_of=between,
    )
    assert past_full["__statuses"]["value"] == ["PRESENT"]
    assert past_full["value"] == [pytest.approx(0.3)]
    # before the store's first commit: the window error surfaces
    with pytest.raises(ValueError, match="oldest retained"):
        store.get_online_features(
            ["fv:value"], [{"driver_id": 1}],
            as_of=now - timedelta(days=2),
        )


def test_get_online_features_as_of_commit_seq(spark, store):
    """as_of may be an int commit seq — the deterministic coordinate a
    provenance manifest records (r14).  Seq 1 is the fixture's first
    materialize; a later upsert becomes seq 2 = head."""
    now = _utcnow()
    newer = spark.createDataFrame(
        [Row(driver_id=1, value=9.9, ts=now - timedelta(minutes=5),
             created_ts=now)]
    )
    store.online_store.online_write_batch(
        spark, "tt", "fv", newer, ["driver_id"], "ts", "created_ts",
        ["value"],
    )
    past = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}], as_of=1
    )
    assert past["value"] == [pytest.approx(0.3)]
    head = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}], as_of=2
    )
    assert head["value"] == [pytest.approx(9.9)]
    # a seq names a snapshot, not an instant: ttl classification under
    # full_field_statuses demands an explicit clock
    with pytest.raises(ValueError, match="pass now="):
        store.get_online_features(
            ["fv:value"], [{"driver_id": 1}],
            full_field_statuses=True, as_of=1,
        )
    full = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}],
        full_field_statuses=True, as_of=1, now=now,
    )
    assert full["__statuses"]["value"] == ["PRESENT"]
    # unknown seq: the manifest's honest window error surfaces
    with pytest.raises(ValueError, match="retained seqs"):
        store.get_online_features(
            ["fv:value"], [{"driver_id": 1}], as_of=99
        )


def test_kv_backends_reject_as_of(spark, tmp_path):
    st = FeatureStore(
        spark,
        RepoConfig(
            project="tt2",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online.db"),
            online_store_type="sqlite",
        ),
    )
    st.apply(
        [
            Entity(name="driver", join_key="driver_id",
                   value_type=ValueType.INT64),
        ]
    )
    with pytest.raises(ValueError, match="overwrites"):
        st.get_online_features(
            ["fv:value"], [{"driver_id": 1}], as_of=_utcnow()
        )


# ---------------------------------------------------------------------------
# registry history: which definitions were live when a model trained
# ---------------------------------------------------------------------------


def test_registry_history_and_load_as_of(tmp_path):
    from feast_spark.registry import Registry

    path = str(tmp_path / "registry.json")
    reg = Registry(path)
    reg.apply_entity(Entity(name="driver", join_key="driver_id",
                            value_type=ValueType.INT64))
    reg.apply_feature_view(
        FeatureView(
            name="fv", entities=["driver"], ttl=timedelta(days=1),
            batch_source=FileSource(path="x.parquet",
                                    event_timestamp_column="ts"),
        )
    )
    reg.commit()
    reg.apply_feature_view(
        FeatureView(
            name="fv", entities=["driver"], ttl=timedelta(days=7),
            batch_source=FileSource(path="x.parquet",
                                    event_timestamp_column="ts"),
        )
    )
    reg.commit()
    assert reg.history_seqs() == [1, 2]

    old = Registry.load_as_of(path, 1)
    assert old.get_feature_view("fv").ttl == timedelta(days=1)
    assert Registry.load_as_of(path, 2).get_feature_view("fv").ttl \
        == timedelta(days=7)
    # datetime resolution: after the last commit -> head version
    assert Registry.load_as_of(
        path, _utcnow() + timedelta(minutes=1)
    ).get_feature_view("fv").ttl == timedelta(days=7)
    # snapshots are read-only
    with pytest.raises(RuntimeError, match="read-only"):
        old.commit()
    with pytest.raises(ValueError, match="archived seqs 1..2"):
        Registry.load_as_of(path, 9)
    with pytest.raises(ValueError, match="oldest archived|no registry"):
        Registry.load_as_of(path, _utcnow() - timedelta(days=1))


def test_registry_history_pruned_to_window(tmp_path):
    from feast_spark.registry import Registry

    path = str(tmp_path / "registry.json")
    reg = Registry(path)
    reg.apply_entity(Entity(name="driver", join_key="driver_id",
                            value_type=ValueType.INT64))
    window = Registry.KEEP_HISTORY
    for _ in range(window + 2):
        reg.commit()
    assert reg.history_seqs() == list(range(3, window + 3))
    with pytest.raises(ValueError, match=f"archived seqs 3..{window + 2}"):
        Registry.load_as_of(path, 1)


def _entity(name):
    return Entity(name=name, join_key=f"{name}_id",
                  value_type=ValueType.INT64)


def _view(ttl_days):
    return FeatureView(
        name="fv", entities=["driver"], ttl=timedelta(days=ttl_days),
        batch_source=FileSource(path="x.parquet",
                                event_timestamp_column="ts"),
    )


def test_registry_concurrent_appliers_both_land(tmp_path):
    """Two registries loaded from one file each apply a different
    entity: the second commit loses the compare-and-swap, merges the
    head per object and lands both."""
    from feast_spark.registry import Registry

    path = str(tmp_path / "registry.json")
    a, b = Registry(path), Registry(path)
    a.apply_entity(_entity("driver"))
    a.commit()
    b.apply_entity(_entity("rider"))
    b.commit()
    assert sorted(Registry(path).entities) == ["driver", "rider"]
    assert sorted(b.entities) == ["driver", "rider"]
    assert b.history_seqs() == [1, 2]
    assert sorted(Registry.load_as_of(path, 1).entities) == ["driver"]
    # b's in-memory base is now the merged head: its next commit is a
    # plain compare-and-swap success
    b.commit()
    assert b.history_seqs() == [1, 2, 3]


def test_registry_deletion_survives_unrelated_concurrent_commit(tmp_path):
    from feast_spark.registry import Registry

    path = str(tmp_path / "registry.json")
    seed = Registry(path)
    seed.apply_entity(_entity("driver"))
    seed.apply_entity(_entity("rider"))
    seed.commit()
    a, b = Registry(path), Registry(path)
    a.delete_entity("driver")
    a.commit()
    b.apply_entity(_entity("car"))
    b.commit()
    assert sorted(Registry(path).entities) == ["car", "rider"]
    assert sorted(b.entities) == ["car", "rider"]


def test_registry_conflicting_edits_raise_and_leave_head(tmp_path):
    """Both writers edit view ``fv`` differently: the second commit
    raises and neither the head nor the archive moves."""
    import os

    from feast_spark.io.epochs import ConcurrentCommitError
    from feast_spark.registry import Registry

    path = str(tmp_path / "registry.json")
    seed = Registry(path)
    seed.apply_entity(_entity("driver"))
    seed.apply_feature_view(_view(1))
    seed.commit()
    a, b = Registry(path), Registry(path)
    a.apply_feature_view(_view(2))
    a.commit()
    head = open(path, "rb").read()
    archive = sorted(os.listdir(f"{path}.history/_history"))
    b.apply_feature_view(_view(3))
    with pytest.raises(ConcurrentCommitError, match="'fv'"):
        b.commit()
    assert open(path, "rb").read() == head
    assert sorted(os.listdir(f"{path}.history/_history")) == archive
    assert Registry(path).get_feature_view("fv").ttl == timedelta(days=2)


def test_registry_crash_between_archive_and_head_leaves_no_readable_orphan(
    tmp_path,
):
    """A crash after the archive write and before the head write leaves
    an archived version above the head: it never resolves, and the
    next commit takes that seq and overwrites it."""
    from feast_spark.registry import Registry

    path = str(tmp_path / "registry.json")

    class CrashingFS(LocalFS):
        crash = False

        def write_bytes_atomic(self, p, data):
            if self.crash and p == path:
                raise OSError("crash before the head write")
            super().write_bytes_atomic(p, data)

    fs = CrashingFS()
    reg = Registry(path, fs=fs)
    reg.apply_entity(_entity("driver"))
    for _ in range(3):
        reg.commit()
    fs.crash = True
    reg.apply_entity(_entity("orphan"))
    with pytest.raises(OSError, match="crash"):
        reg.commit()
    with pytest.raises(ValueError, match="archived seqs 1..3"):
        Registry.load_as_of(path, 4)
    assert reg.history_seqs() == [1, 2, 3]

    fs.crash = False
    reg.delete_entity("orphan")
    reg.apply_entity(_entity("rider"))
    reg.commit()
    assert reg.history_seqs() == [1, 2, 3, 4]
    assert sorted(Registry.load_as_of(path, 4).entities) == [
        "driver", "rider",
    ]


def test_registry_legacy_head_keeps_its_numbering(tmp_path):
    """A head written before the commit core counts with ``seq``: the
    next commit continues from it, the legacy window setting is
    dropped, and the legacy seq itself has no archived version."""
    import json as _json

    from feast_spark.registry import Registry

    path = str(tmp_path / "registry.json")
    with open(path, "w") as f:
        _json.dump({
            "seq": 7, "committed_at": 0.0, "keep_history": 3,
            "entities": [_entity("driver").to_dict()],
            "feature_views": [], "feature_services": [],
            "on_demand_views": [],
        }, f)
    reg = Registry(path)
    reg.apply_entity(_entity("rider"))
    reg.commit()
    head = _json.loads(open(path).read())
    assert head["commit_seq"] == 8
    assert "seq" not in head and "keep_history" not in head
    assert reg.history_seqs() == [8]
    assert sorted(Registry(path).entities) == ["driver", "rider"]
    with pytest.raises(ValueError, match="archived seqs 8..8"):
        Registry.load_as_of(path, 7)


def test_registry_dump_as_of_cli(tmp_path, capsys):
    import json as _json

    from feast_spark.cli import main
    from feast_spark.registry import Registry

    path = str(tmp_path / "registry.json")
    reg = Registry(path)
    reg.apply_entity(Entity(name="driver", join_key="driver_id",
                            value_type=ValueType.INT64))
    reg.commit()
    reg.apply_entity(Entity(name="rider", join_key="rider_id",
                            value_type=ValueType.INT64))
    reg.commit()
    assert main(["--registry", path, "registry-dump", "--as-of", "1"]) == 0
    payload = _json.loads(capsys.readouterr().out)
    assert [e["name"] for e in payload["entities"]] == ["driver"]
    assert main(["--registry", path, "registry-dump", "--as-of", "9"]) == 1


def test_doctor_history_detects_all_three_layers(
    spark, store, tmp_path, capsys
):
    """doctor --history is layer-agnostic: an online snapshot table and
    a registry file print their commit logs through the same verb the
    indexes use."""
    from feast_spark.cli import main

    # online table (written by the store fixture's materialize)
    table_dir = str(tmp_path / "online" / "tt" / "fv")
    assert main(["doctor", "--history", table_dir]) == 0
    out = capsys.readouterr().out
    assert "*seq=1" in out and "readable" in out and "v_00000001" in out

    # snapshot tags (r14) show up as pins in the same log
    store.online_store.table("tt", "fv").tag("june-run")
    assert main(["doctor", "--history", table_dir]) == 0
    out = capsys.readouterr().out
    assert "tags=june-run" in out

    # registry file
    reg_path = str(tmp_path / "registry.json")
    assert main(["doctor", "--history", reg_path]) == 0
    out = capsys.readouterr().out
    assert "*seq=2" in out  # apply + materialize both commit
    assert "entities=1" in out and "views=1" in out

    assert main(["doctor", "--history", str(tmp_path / "nope")]) == 2


def test_as_of_degrades_like_head(spark, store, tmp_path):
    """Review regressions: a never-materialized view serves NOT_FOUND
    at as_of (it would have then, too); a feature column added AFTER
    the replayed instant serves NULL; a tz-aware as_of resolves AND
    classifies ttl statuses without a naive/aware comparison crash."""
    now = _utcnow()
    between = _utcnow()

    # (b) add a second feature column in a later write
    newer = spark.createDataFrame(
        [Row(driver_id=1, value=1.1, value2=7.7,
             ts=now - timedelta(minutes=5), created_ts=now)]
    )
    store.online_store.online_write_batch(
        spark, "tt", "fv", newer, ["driver_id"], "ts", "created_ts",
        ["value", "value2"],
    )
    got = store.online_store.online_read(
        "tt", "fv",
        encode_request_keys([{"driver_id": 1}], ["driver_id"]),
        ["value", "value2"], as_of=between,
    )[0]
    assert got["value"] == pytest.approx(0.3)
    assert got["value2"] is None  # serving then had no value2

    # (a) a view that was never materialized: NOT_FOUND, not a crash
    from feast_spark import FeatureView, FileSource

    store.apply([
        FeatureView(
            name="ghost", entities=["driver"], ttl=timedelta(days=1),
            batch_source=FileSource(
                path=str(tmp_path / "src.parquet"),
                event_timestamp_column="ts",
                created_timestamp_column="created_ts",
                field_mapping={"ts_1": "ts", "id": "driver_id",
                               "value": "gvalue"},
            ),
        )
    ])
    res = store.get_online_features(
        ["ghost:gvalue"], [{"driver_id": 1}], as_of=between
    )
    assert res["gvalue"] == [None]
    assert res["__statuses"]["gvalue"] == ["NOT_FOUND"]

    # (c) tz-aware as_of with full statuses: no naive/aware TypeError
    aware = between.replace(tzinfo=timezone.utc)
    res = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}], full_field_statuses=True,
        as_of=aware,
    )
    assert res["value"] == [pytest.approx(0.3)]
    assert res["__statuses"]["value"] == ["PRESENT"]
