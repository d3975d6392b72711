"""Optimistic concurrency on manifest commits (io/epochs.py): the
epoch protocol is single-writer by contract, but on LocalFS a second
writer's os.replace used to be silent last-writer-wins — lost epochs,
lost pair stamps.  commit_manifest now stamps a monotonically
increasing commit_seq and CASes read-modify-write flips against the
committed head, so a contract violation fails loudly."""

import json

import pytest

from feast_spark.io import epochs as epochs_io
from feast_spark.io.epochs import ConcurrentCommitError, commit_manifest
from feast_spark.io.fs import LocalFS


def _read(path, fs):
    return json.loads(fs.read_bytes(f"{path}/_MANIFEST.json"))


def test_interleaved_commits_one_wins_one_raises(tmp_path):
    fs = LocalFS()
    root = str(tmp_path / "idx")
    commit_manifest(root, fs, {"kind": "bm25", "epochs": [0]})
    assert _read(root, fs)["commit_seq"] == 1

    # two writers read the same head...
    m_a = epochs_io.read_manifest(root, fs)
    m_b = epochs_io.read_manifest(root, fs)
    # ...writer A flips first
    commit_manifest(root, fs, {**m_a, "epochs": [0, 1]})
    assert _read(root, fs)["commit_seq"] == 2
    # ...writer B's flip derives from a superseded head: loud, and the
    # committed manifest is untouched
    with pytest.raises(ConcurrentCommitError, match="another writer"):
        commit_manifest(root, fs, {**m_b, "epochs": [0, 7]})
    head = _read(root, fs)
    assert head["epochs"] == [0, 1] and head["commit_seq"] == 2

    # writer B re-reads and re-applies: succeeds
    m_b2 = epochs_io.read_manifest(root, fs)
    commit_manifest(root, fs, {**m_b2, "epochs": [0, 1, 2]})
    assert _read(root, fs)["commit_seq"] == 3


def test_fresh_build_overwrites_and_bumps_seq(tmp_path):
    """A build/rebuild commits a manifest WITHOUT commit_seq (the
    carried-meta allowlist drops it): unconditional by design — but the
    seq still advances past the old head, so an in-flight pre-rebuild
    appender fails its CAS instead of resurrecting dropped epochs."""
    fs = LocalFS()
    root = str(tmp_path / "idx")
    commit_manifest(root, fs, {"kind": "ivf", "epochs": [0]})
    stale = epochs_io.read_manifest(root, fs)

    # rebuild: fresh dict, no commit_seq -> overwrites unconditionally
    commit_manifest(root, fs, {"kind": "ivf", "epochs": [5]})
    head = _read(root, fs)
    assert head["epochs"] == [5] and head["commit_seq"] == 2

    with pytest.raises(ConcurrentCommitError):
        commit_manifest(root, fs, {**stale, "epochs": [0, 1]})

    # carried_meta never carries the seq forward into a rebuild dict
    carried = epochs_io.carried_meta(root, fs)
    assert "commit_seq" not in carried


def test_pre_cas_manifest_upgrades_on_first_commit(tmp_path):
    """Manifests written before the protocol carry no commit_seq; the
    first re-commit stamps one (protection engages from then on)."""
    fs = LocalFS()
    root = str(tmp_path / "idx")
    fs.write_bytes_atomic(
        f"{root}/_MANIFEST.json",
        json.dumps({"kind": "bm25", "epochs": [0]}).encode(),
    )
    m = epochs_io.read_manifest(root, fs)
    assert "commit_seq" not in m
    commit_manifest(root, fs, {**m, "epochs": [0, 1]})
    assert _read(root, fs)["commit_seq"] == 1


class _CountingFS(LocalFS):
    """LocalFS that counts head reads and archive listings per path."""

    def __init__(self):
        self.reads, self.listings = [], []

    def read_bytes(self, path):
        self.reads.append(path)
        return super().read_bytes(path)

    def list_files(self, path):
        self.listings.append(path)
        return super().list_files(path)


def test_vacuum_pass_reads_head_and_lists_archive_once(tmp_path, monkeypatch):
    """The retention pass after a registry commit hands one head read
    and one ``_history/`` listing from the keep-set step to the expire
    step."""
    from feast_spark.entity import Entity
    from feast_spark.registry import Registry

    fs = _CountingFS()
    path = str(tmp_path / "registry.json")
    reg = Registry(path, fs=fs)
    for name in ("a", "b", "c"):
        reg.apply_entity(Entity(name=name, join_key=f"{name}_id"))
        reg.commit()
    passes = []
    vacuum = epochs_io.vacuum

    def counted(*args, **kwargs):
        fs.reads.clear()
        fs.listings.clear()
        out = vacuum(*args, **kwargs)
        passes.append((fs.reads.count(path), len(fs.listings)))
        return out

    monkeypatch.setattr(epochs_io, "vacuum", counted)
    reg.apply_entity(Entity(name="d", join_key="d_id"))
    reg.commit()
    assert passes == [(1, 1)]
    assert reg.history_seqs() == [1, 2, 3, 4]


def test_operator_level_append_race_is_loud(spark, tmp_path):
    """The realistic interleave: a writer holds a manifest read while
    another append lands — its commit must raise, and the committed
    index must keep the interleaving append's epoch."""
    from feast_spark.operators.bm25 import (
        _bm25_manifest,
        bm25_index_append,
        build_bm25_index,
    )

    fs = LocalFS()
    path = str(tmp_path / "bm25")
    docs = spark.createDataFrame(
        [(1, "grape melon kiwi"), (2, "melon kiwi kiwi")],
        "doc_id BIGINT, text STRING",
    )
    build_bm25_index(docs, path, n_term_buckets=4)
    stale = _bm25_manifest(path, fs)

    bm25_index_append(
        spark,
        path,
        spark.createDataFrame([(3, "papaya kiwi")], "doc_id BIGINT, text STRING"),
    )
    with pytest.raises(ConcurrentCommitError):
        commit_manifest(path, fs, {**stale, "epochs": stale["epochs"] + [9]})
    assert len(_bm25_manifest(path, fs)["epochs"]) == 2
