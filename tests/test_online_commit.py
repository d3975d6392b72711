"""Versioned-snapshot commit protocol of the online store: manifest
pointer, orphan tolerance, GC, and the HadoopFS twin.

The reference swaps sqlite rows transactionally; here the unit of
atomicity is the manifest pointer — these tests pin the crash-safety
properties that replaced the (object-store-unsafe) directory rename."""

import json
import os

import pytest
from pyspark.sql import Row

from feast_spark.io.epochs import ConcurrentCommitError
from feast_spark.io.fs import HadoopFS, LocalFS
from feast_spark.io.manifest import ManifestedParquetTable
from feast_spark.online.store import MANIFEST, OnlineStore, encode_request_keys


def _write(store, spark, rows):
    df = spark.createDataFrame(rows)
    store.online_write_batch(
        spark, "p", "v", df, ["driver_id"], "ts", None, ["value"]
    )


def _read_values(store, spark, ids):
    keys = encode_request_keys([{"driver_id": i} for i in ids], ["driver_id"])
    out = store.online_read("p", "v", keys, ["value"])
    return {i: None if r is None else r["value"] for i, r in zip(ids, out)}


def _ts(s):
    from datetime import datetime

    return datetime.fromisoformat(s)


def test_versioned_commit_and_upsert(spark, tmp_path):
    store = OnlineStore(str(tmp_path))
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=10.0)])
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-02T00:00"), value=20.0),
                          Row(driver_id=2, ts=_ts("2024-01-01T00:00"), value=5.0)])
    assert _read_values(store, spark, [1, 2]) == {1: 20.0, 2: 5.0}
    table_dir = tmp_path / "p" / "v"
    manifest = json.loads((table_dir / MANIFEST).read_text())
    assert manifest["current"] == "v_00000002"
    # snapshots are immutable: both versions still present (keep=2)
    assert sorted(d for d in os.listdir(table_dir) if d.startswith("v_")) == [
        "v_00000001",
        "v_00000002",
    ]


def test_crashed_writer_orphan_is_invisible_and_never_reused(spark, tmp_path):
    """Crash between snapshot write and manifest update: readers keep the
    old version; the next commit numbers PAST the orphan (never reuses
    its directory) and the manifest then skips over it."""
    store = OnlineStore(str(tmp_path))
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=10.0)])
    # simulate a writer that died after step (1): full snapshot on disk,
    # manifest never updated
    orphan = tmp_path / "p" / "v" / "v_00000007"
    spark.createDataFrame([Row(junk=1)]).write.parquet(str(orphan))
    assert _read_values(store, spark, [1]) == {1: 10.0}
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-02T00:00"), value=30.0)])
    manifest = json.loads((tmp_path / "p" / "v" / MANIFEST).read_text())
    assert manifest["current"] == "v_00000008"
    assert _read_values(store, spark, [1]) == {1: 30.0}


def test_manifest_tmp_leftover_is_ignored(spark, tmp_path):
    store = OnlineStore(str(tmp_path))
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=1.5)])
    # crash mid write_bytes_atomic: temp file beside the manifest
    (tmp_path / "p" / "v" / f"{MANIFEST}.tmp.dead").write_text("{corrupt")
    assert _read_values(store, spark, [1]) == {1: 1.5}


def test_gc_prunes_to_keep_versions(spark, tmp_path):
    store = OnlineStore(str(tmp_path), keep_versions=1)
    for day, val in [("01", 1.0), ("02", 2.0), ("03", 3.0)]:
        _write(store, spark,
               [Row(driver_id=1, ts=_ts(f"2024-01-{day}T00:00"), value=val)])
    table_dir = tmp_path / "p" / "v"
    assert [d for d in sorted(os.listdir(table_dir)) if d.startswith("v_")] == [
        "v_00000003"
    ]
    assert _read_values(store, spark, [1]) == {1: 3.0}


def test_miss_before_any_commit(spark, tmp_path):
    store = OnlineStore(str(tmp_path))
    vals = _read_values(store, spark, [9])
    assert vals == {9: None}


@pytest.mark.parametrize("fs_name", ["local", "hadoop"])
def test_storefs_contract(spark, tmp_path, fs_name):
    """Both StoreFS implementations honor the same contract; HadoopFS
    runs against file:// here and any cluster scheme in production."""
    if fs_name == "local":
        fs, base = LocalFS(), str(tmp_path / "c")
    else:
        fs, base = HadoopFS(spark), f"file://{tmp_path}/c"
    fs.mkdirs(f"{base}/a/v_00000001")
    fs.mkdirs(f"{base}/a/v_00000002")
    fs.write_bytes_atomic(f"{base}/a/m.json", b'{"current": "v_00000002"}')
    # overwrite must be atomic-replace, not append/fail
    fs.write_bytes_atomic(f"{base}/a/m.json", b'{"current": "v_00000001"}')
    assert json.loads(fs.read_bytes(f"{base}/a/m.json")) == {
        "current": "v_00000001"
    }
    assert fs.exists(f"{base}/a/m.json")
    assert sorted(fs.list_subdirs(f"{base}/a")) == ["v_00000001", "v_00000002"]
    fs.delete(f"{base}/a/v_00000001")
    assert sorted(fs.list_subdirs(f"{base}/a")) == ["v_00000002"]
    assert not fs.exists(f"{base}/a/v_00000001")


def test_online_store_over_hadoopfs(spark, tmp_path):
    """Full upsert/read cycle with manifest IO through the Hadoop
    FileSystem API — the path a real s3a://-rooted store exercises."""
    store = OnlineStore(str(tmp_path), fs=HadoopFS(spark))
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=10.0)])
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-02T00:00"), value=20.0)])
    assert _read_values(store, spark, [1]) == {1: 20.0}


def test_interleaved_writers_keep_both_writers_rows(spark, tmp_path, monkeypatch):
    """A streaming sink and a manual backfill writing one view: writer
    B runs a whole online_write_batch after writer A read the head and
    before A's flip.  A's compare-and-swap fails, A re-merges over B's
    snapshot and commits again, so every key of both writers reads
    back — a blind flip would publish A's merge without B's row."""
    store = OnlineStore(str(tmp_path), keep_versions=3)
    _write(store, spark, [Row(driver_id=0, ts=_ts("2024-01-01T00:00"), value=0.0),
                          Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=1.0)])
    orig = ManifestedParquetTable.commit
    commits = []

    def interleaved(self, *args, **kwargs):
        commits.append(len(commits))
        if len(commits) == 1:  # writer A's first commit: B lands first
            _write(store, spark,
                   [Row(driver_id=2, ts=_ts("2024-01-02T00:00"), value=2.0)])
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ManifestedParquetTable, "commit", interleaved)
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-03T00:00"), value=10.0),
                          Row(driver_id=3, ts=_ts("2024-01-03T00:00"), value=3.0)])
    monkeypatch.undo()
    assert _read_values(store, spark, [0, 1, 2, 3]) == {
        0: 0.0, 1: 10.0, 2: 2.0, 3: 3.0
    }
    # A committed twice (the lost race, then the retry), B once; the
    # log holds the initial write, B's commit and A's retried commit
    assert len(commits) == 3
    table = ManifestedParquetTable(str(tmp_path / "p" / "v"))
    assert [e["seq"] for e in table.history()] == [1, 2, 3]
    b_snapshot = store.online_read(
        "p", "v",
        encode_request_keys([{"driver_id": i} for i in (1, 2, 3)], ["driver_id"]),
        ["value"], as_of=2,
    )
    assert [r and r["value"] for r in b_snapshot] == [1.0, 2.0, None]


def test_superseded_base_raises_and_leaves_the_table_untouched(spark, tmp_path):
    t = ManifestedParquetTable(str(tmp_path / "t"))
    t.commit(spark.createDataFrame([(0,)], "x INT"))
    t.commit(spark.createDataFrame([(1,)], "x INT"), base_seq=1)

    def state():
        root = tmp_path / "t"
        return (
            (root / MANIFEST).read_bytes(),
            sorted(os.listdir(root / "_history")),
            sorted(d for d in os.listdir(root) if d.startswith("v_")),
        )

    before = state()
    with pytest.raises(ConcurrentCommitError):
        t.commit(spark.createDataFrame([(2,)], "x INT"), base_seq=1)
    assert state() == before
    assert t.read(spark).collect()[0]["x"] == 1


def test_expire_keeps_a_concurrent_writers_rows(spark, tmp_path, monkeypatch):
    """A write lands between expire's read of the head and its commit:
    the sweep's compare-and-swap fails, it sweeps the new head and
    commits again, so the written key survives — a blind overwrite
    would publish the sweep of the older snapshot without it."""
    store = OnlineStore(str(tmp_path), keep_versions=3)
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=1.0),
                          Row(driver_id=2, ts=_ts("2024-01-05T00:00"), value=2.0)])
    orig = ManifestedParquetTable.commit
    commits = []

    def interleaved(self, *args, **kwargs):
        commits.append(len(commits))
        if len(commits) == 1:  # the sweep's first commit: a write lands first
            _write(store, spark,
                   [Row(driver_id=3, ts=_ts("2024-01-06T00:00"), value=3.0)])
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ManifestedParquetTable, "commit", interleaved)
    assert store.expire(spark, "p", "v", _ts("2024-01-03T00:00")) == 1
    monkeypatch.undo()
    assert _read_values(store, spark, [1, 2, 3]) == {1: None, 2: 2.0, 3: 3.0}
    assert len(commits) == 3  # the lost sweep, the write, the retried sweep
