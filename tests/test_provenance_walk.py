"""One layer walk for provenance (provenance.record_layers): pinning,
``provenance describe``, ``doctor --provenance-orphans`` and ``doctor
--history`` over every layer kind, Spark-free — the layers are
committed through io/epochs.py directly, and the CLI verbs only read
committed JSON."""

import os
from datetime import timedelta
from types import SimpleNamespace

import pytest

from feast_spark import Entity, FeatureView, ValueType
from feast_spark.cli import main
from feast_spark.feature import Feature
from feast_spark.io import epochs as epochs_io
from feast_spark.io.fs import LocalFS
from feast_spark.online.store import OnlineStore
from feast_spark.provenance import record_layers, snapshot_provenance
from feast_spark.registry import Registry

FS = LocalFS()


@pytest.fixture()
def layers(tmp_path):
    """A registry with views ``fv`` (one online commit) and ``fv0``
    (never materialized), an index and a dataset, one commit each."""
    reg_path = str(tmp_path / "registry.json")
    reg = Registry(reg_path)
    reg.apply_entity(
        Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64)
    )
    for name in ("fv", "fv0"):
        reg.apply_feature_view(
            FeatureView(
                name=name, entities=["driver"], ttl=timedelta(days=1),
                features=[Feature("x", ValueType.DOUBLE)],
            )
        )
    reg.commit()
    online = str(tmp_path / "online")
    table = os.path.join(online, "p", "fv")
    os.makedirs(os.path.join(table, "v_00000001"))
    epochs_io.commit_manifest(table, FS, {"current": "v_00000001"})
    idx = str(tmp_path / "idx")
    os.makedirs(os.path.join(idx, "postings", "epoch=0"))
    os.makedirs(os.path.join(idx, "stats", "epoch=0"))
    epochs_io.commit_manifest(
        idx, FS, {"kind": "bm25", "epochs": [0], "stream_epoch": 3}
    )
    ds = str(tmp_path / "ds")
    os.makedirs(os.path.join(ds, "v_00000001"))
    epochs_io.commit_manifest(
        ds, FS, {"current": "v_00000001", "meta": {"stream_epoch": 5}}
    )
    base = ["--registry", reg_path, "--online-path", online, "--project", "p"]
    return SimpleNamespace(
        reg=reg, reg_path=reg_path, online=online, table=table, idx=idx,
        ds=ds, base=base, tmp=tmp_path,
    )


def _snapshot(layers, out, *extra):
    return main(layers.base + [
        "provenance", "snapshot", out, "--index", f"bm25={layers.idx}",
        "--dataset", f"train={layers.ds}", *extra,
    ])


def test_describe_replays_a_registry_version_past_the_archive_window(
    layers, capsys
):
    """The registry is checked through RunReplay.registry: once its
    recorded version left the archive, describe still passes on the
    embedded payload and says so; without one it reports the expiry."""
    embedded = str(layers.tmp / "embedded.json")
    assert _snapshot(layers, embedded) == 0
    bare = str(layers.tmp / "bare.json")
    shim = SimpleNamespace(
        registry=Registry(layers.reg_path),
        online_store=OnlineStore(layers.online),
        config=SimpleNamespace(project="p"),
    )
    snapshot_provenance(shim, path=bare, embed_registry=False)
    for _ in range(Registry.KEEP_HISTORY + 1):
        layers.reg.commit()
    assert 1 not in layers.reg.history_seqs()
    capsys.readouterr()

    assert main(layers.base + ["provenance", "describe", embedded]) == 0
    out = capsys.readouterr().out
    assert (
        "ok       registry seq=1 replayable from the embedded payload" in out
    )
    assert "expired" not in out
    assert main(layers.base + ["provenance", "describe", bare]) == 1
    assert "expired  registry seq=1" in capsys.readouterr().out


def test_pin_describe_audit_and_history_walk_every_layer(layers, capsys):
    prov = str(layers.tmp / "runs" / "run.json")
    os.makedirs(os.path.dirname(prov))
    assert _snapshot(layers, prov, "--pin", "june-run") == 0
    # every committed layer is pinned; the never-materialized view is not
    assert epochs_io.read_tags(layers.table, FS) == {"june-run": 1}
    assert epochs_io.read_tags(layers.idx, FS) == {"june-run": 1}
    assert epochs_io.read_tags(layers.ds, FS) == {"june-run": 1}
    capsys.readouterr()

    assert main(layers.base + ["provenance", "describe", prov]) == 0
    out = capsys.readouterr().out
    for line in (
        "ok       registry seq=1 replayable\n",
        "ok       online fv seq=1 replayable",
        "ok       online fv pin 'june-run' -> seq=1",
        "ok       online fv0: pre-history (seq 0)",
        "ok       index bm25 commit_seq=1 replayable",
        "ok       index bm25 pin 'june-run' -> commit_seq=1",
        "ok       dataset train pin 'june-run' -> commit_seq=1",
        "ingested index bm25 through stream_epoch=3",
        "ingested dataset train through stream_epoch=5",
    ):
        assert line in out

    runs = str(layers.tmp / "runs")
    assert main(["doctor", "--provenance-orphans", runs]) == 0
    # fv0 counts too: a record names it, at seq 0
    assert "4 layers referenced" in capsys.readouterr().out
    epochs_io.tag_commit(layers.idx, FS, "stray", 1)
    assert main(["doctor", "--provenance-orphans", runs]) == 1
    orphans = [
        line for line in capsys.readouterr().out.splitlines()
        if line.startswith("ORPHAN  ")
    ]
    assert orphans == [
        f"ORPHAN   index {layers.idx} tag 'stray' -> seq 1 "
        "(no provenance record references it)"
    ]

    epochs_io.delete_tag(layers.ds, FS, "june-run")
    assert main(layers.base + ["provenance", "describe", prov]) == 1
    assert (
        "missing  dataset train pin 'june-run': live tag is None"
        in capsys.readouterr().out
    )

    # one history walk for every kind; the tag rendering stays per kind
    assert main(["doctor", "--history", layers.reg_path]) == 0
    assert "*seq=1" in capsys.readouterr().out
    assert main(["doctor", "--history", layers.table]) == 0
    out = capsys.readouterr().out
    assert "*seq=1    readable" in out and "v_00000001  tags=june-run" in out
    assert main(["doctor", "--history", layers.idx]) == 0
    out = capsys.readouterr().out
    assert "*seq=1    readable kind=bm25" in out
    assert "stream_epoch=3 tags=['june-run', 'stray']" in out
    assert main(["doctor", "--history", str(layers.tmp / "nope")]) == 2


def test_record_layers_order_roots_and_fallback():
    doc = {
        "project": "p",
        "online": {
            "path": None, "views": {"b": 2, "a": 0},
            "tags": {"b": {"t": 2}}, "meta": {"b": {"stream_epoch": 1}},
        },
        "indexes": {"i": {"path": "/i", "commit_seq": 4}},
    }
    assert [lay[:4] for lay in record_layers(doc, "/on")] == [
        ("online", "a", "/on/p/a", 0),
        ("online", "b", "/on/p/b", 2),
        ("index", "i", "/i", 4),
    ]
    online_b = list(record_layers(doc, "/on"))[1]
    assert online_b[4:] == ({"t": 2}, {"stream_epoch": 1})
    # a record without its online root and no fallback: root unknown
    assert [lay[2] for lay in record_layers(doc)][:2] == [None, None]
