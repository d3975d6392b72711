"""Training-run provenance (provenance.py): snapshot_provenance records
the committed coordinate of every layer (registry seq, per-view online
snapshot seq, per-index commit_seq + tags), and describe_run re-pins
all of them — mutate every layer after the snapshot and the replay
still returns the pre-mutation state end-to-end."""

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
    load_provenance,
)
from feast_spark.provenance import NEVER_MATERIALIZED


def _utcnow():
    return datetime.now(timezone.utc).replace(tzinfo=None)


def _docs(spark, ids, extra=""):
    return spark.createDataFrame(
        [(i, f"alpha scan doc{i} {extra}".strip()) for i in ids],
        "doc_id LONG, text STRING",
    )


@pytest.fixture()
def store(spark, tmp_path):
    now = _utcnow()
    rows = [
        Row(driver_id=1, value=0.3, ts=now - timedelta(hours=3),
            created_ts=now),
        Row(driver_id=2, value=7.0, ts=now - timedelta(hours=2),
            created_ts=now),
    ]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows).write.parquet(src)
    st = FeatureStore(
        spark,
        RepoConfig(
            project="prov",
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
                    path=src,
                    event_timestamp_column="ts",
                    created_timestamp_column="created_ts",
                ),
            ),
            # applied but NOT materialized before the snapshot: the
            # record must pin it at the pre-history state (seq 0)
            FeatureView(
                name="fv_unmaterialized",
                entities=["driver"],
                ttl=timedelta(days=1),
                batch_source=FileSource(
                    path=src,
                    event_timestamp_column="ts",
                    created_timestamp_column="created_ts",
                ),
            ),
        ]
    )
    st.materialize(now - timedelta(hours=5), now, ["fv"])
    return st


def test_snapshot_then_mutate_every_layer_then_replay(
    spark, store, tmp_path
):
    from feast_spark.operators.bm25 import (
        bm25_index_append,
        bm25_index_topk,
        build_bm25_index,
    )

    idx = str(tmp_path / "bm25_idx")
    build_bm25_index(_docs(spark, range(8)), idx, "doc_id", "text")
    then_rows = [
        tuple(r) for r in bm25_index_topk(
            spark, idx, ["alpha", "scan"], k=5
        ).collect()
    ]

    prov_path = str(tmp_path / "provenance.json")
    doc = store.snapshot_provenance(
        index_paths={"bm25": idx}, note="run-1", path=prov_path
    )
    assert doc["registry"]["seq"] >= 1
    assert doc["online"]["views"]["fv"] >= 1
    assert doc["online"]["views"]["fv_unmaterialized"] == NEVER_MATERIALIZED
    assert doc["indexes"]["bm25"]["commit_seq"] >= 1
    assert load_provenance(prov_path)["note"] == "run-1"

    # -- mutate EVERY layer -------------------------------------------
    now = _utcnow()
    # registry: a new view lands (seq++)
    src2 = str(tmp_path / "src2.parquet")
    spark.createDataFrame(
        [Row(driver_id=1, value=99.0, ts=now - timedelta(minutes=10),
             created_ts=now)]
    ).write.parquet(src2)
    store.apply(
        [
            FeatureView(
                name="fv_after",
                entities=["driver"],
                ttl=timedelta(days=1),
                batch_source=FileSource(
                    path=src2,
                    event_timestamp_column="ts",
                    created_timestamp_column="created_ts",
                ),
            )
        ]
    )
    # online: fresher values overwrite driver 1 on every view
    store.online_store.online_write_batch(
        spark, "prov", "fv",
        spark.createDataFrame(
            [Row(driver_id=1, value=9.9,
                 ts=now - timedelta(minutes=5), created_ts=now)]
        ),
        ["driver_id"], "ts", "created_ts", ["value"],
    )
    store.materialize(now - timedelta(hours=6), now,
                      ["fv_unmaterialized"])
    # index: new docs appended (commit_seq++)
    bm25_index_append(spark, idx, _docs(spark, range(50, 60), "alpha"))

    # -- replay ---------------------------------------------------------
    run = store.describe_run(prov_path)
    assert run.doc["note"] == "run-1"
    # registry: the archived version has no fv_after, and is read-only
    assert "fv_after" not in run.registry.feature_views
    assert "fv" in run.registry.feature_views
    # online: the pin map replays pre-mutation values per view
    head = store.get_online_features(["fv:value"], [{"driver_id": 1}])
    assert head["value"] == [pytest.approx(9.9)]
    past = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}], as_of=run.online_as_of
    )
    assert past["value"] == [pytest.approx(0.3)]
    # the then-unmaterialized view replays its pre-history NOT_FOUND
    # (seq 0) even though it has been materialized since
    head_u = store.get_online_features(
        ["fv_unmaterialized:value"], [{"driver_id": 1}]
    )
    assert head_u["value"] == [pytest.approx(0.3)]  # materialized after
    past_u = store.get_online_features(
        ["fv_unmaterialized:value"], [{"driver_id": 1}],
        as_of=run.online_as_of,
    )
    assert past_u["value"] == [None]
    assert past_u["__statuses"]["value"] == ["NOT_FOUND"]
    # index: the pinned commit ranks against the pre-append corpus
    replayed = [
        tuple(r) for r in bm25_index_topk(
            spark, idx, ["alpha", "scan"], k=5,
            as_of=run.index_as_of["bm25"],
        ).collect()
    ]
    assert replayed == then_rows
    assert run.index_path("bm25") == idx


def test_pinned_run_survives_vacuum_and_registry_pruning(
    spark, store, tmp_path
):
    """pin_tag makes the run vacuum-immune: the index pin survives an
    append + vacuum(retain_last=0), the online pin survives enough
    materializations to exhaust keep_versions, and the embedded
    registry payload survives the registry's archive window."""
    from feast_spark.operators.bm25 import (
        bm25_index_append,
        bm25_index_topk,
        bm25_index_vacuum,
        build_bm25_index,
    )

    idx = str(tmp_path / "pin_idx")
    build_bm25_index(_docs(spark, range(8)), idx, "doc_id", "text")
    then_rows = [
        tuple(r) for r in bm25_index_topk(
            spark, idx, ["alpha", "scan"], k=5
        ).collect()
    ]
    prov_path = str(tmp_path / "pinned.json")
    doc = store.snapshot_provenance(
        index_paths={"bm25": idx}, path=prov_path, pin_tag="june-run"
    )
    assert doc["pin_tag"] == "june-run"
    assert doc["indexes"]["bm25"]["tags"]["june-run"] == 1
    assert "payload" in doc["registry"]

    # index layer: append + default vacuum would expire seq 1 — the
    # tag keeps it readable
    bm25_index_append(spark, idx, _docs(spark, range(50, 56)))
    bm25_index_vacuum(idx)
    # online layer: burn through keep_versions (2) with upserts
    now = _utcnow()
    for v in (1.0, 2.0, 3.0):
        store.online_store.online_write_batch(
            spark, "prov", "fv",
            spark.createDataFrame(
                [Row(driver_id=1, value=v,
                     ts=now - timedelta(minutes=5), created_ts=now)]
            ),
            ["driver_id"], "ts", "created_ts", ["value"],
        )
    # registry layer: commit the recorded seq out of the archive window
    for _ in range(store.registry.KEEP_HISTORY + 1):
        store.registry.commit()

    run = store.describe_run(prov_path)
    replayed = [
        tuple(r) for r in bm25_index_topk(
            spark, idx, ["alpha", "scan"], k=5,
            as_of=run.index_as_of["bm25"],
        ).collect()
    ]
    assert replayed == then_rows
    past = store.get_online_features(
        ["fv:value"], [{"driver_id": 1}], as_of=run.online_as_of
    )
    assert past["value"] == [pytest.approx(0.3)]
    # archive is gone; the embedded payload resurrects the definitions
    assert run.doc["registry"]["seq"] not in store.registry.history_seqs()
    assert "fv" in run.registry.feature_views
    with pytest.raises(RuntimeError, match="read-only"):
        run.registry.commit()


def test_pin_failure_rolls_back_applied_tags(
    spark, store, tmp_path, monkeypatch
):
    """A failure pinning layer N must not leave layers 1..N-1 tagged
    vacuum-immune with no provenance file referencing them: the pin
    loop rolls back already-applied tags (deleting fresh ones,
    restoring a pre-existing pin it overwrote) and the JSON is never
    written."""
    from feast_spark.datasets import commit_dataset
    from feast_spark.io import epochs as epochs_io
    from feast_spark.io.manifest import ManifestedParquetTable
    from feast_spark.operators.bm25 import (
        bm25_index_append, build_bm25_index,
    )

    store.materialize(datetime(2000, 1, 1), _utcnow())
    idx = str(tmp_path / "rb_idx")
    build_bm25_index(_docs(spark, range(6)), idx, "doc_id", "text")
    # a PRE-EXISTING pin under the same name, pointing at seq 1: the
    # rollback must restore it, not delete it
    epochs_io.tag_commit(idx, None, "june-run", 1)
    bm25_index_append(spark, idx, _docs(spark, range(50, 53)))
    ds = str(tmp_path / "rb_ds")
    commit_dataset(_docs(spark, range(3)), ds)

    # datasets are pinned LAST — failing there (and ONLY there: every
    # layer pins through epochs_io.tag_commit, so the injection is
    # scoped to the dataset root) exercises rollback of both earlier
    # layers (online views, then indexes)
    orig_tag = epochs_io.tag_commit

    def _boom(path, fs, name, seq):
        if path == ds:
            raise OSError("injected: dataset tag I/O failure")
        return orig_tag(path, fs, name, seq)

    monkeypatch.setattr(epochs_io, "tag_commit", _boom)
    prov_path = str(tmp_path / "rb.json")
    with pytest.raises(OSError, match="injected"):
        store.snapshot_provenance(
            index_paths={"bm25": idx}, dataset_paths={"train": ds},
            path=prov_path, pin_tag="june-run",
        )
    monkeypatch.undo()
    import os

    assert not os.path.exists(prov_path)
    # online: the fresh tag was rolled back
    assert "june-run" not in store.online_store.table("prov", "fv").tags()
    # index: restored to the PRIOR pin (seq 1), not the head (seq 2)
    assert epochs_io.read_tags(idx, epochs_io.LocalFS()) == {
        "june-run": 1
    }
    # dataset: never tagged
    assert ManifestedParquetTable(ds).tags() == {}
    # and a clean retry still works end-to-end
    doc = store.snapshot_provenance(
        index_paths={"bm25": idx}, dataset_paths={"train": ds},
        path=prov_path, pin_tag="june-run",
    )
    assert doc["indexes"]["bm25"]["tags"]["june-run"] == 2
    assert doc["online"]["tags"]["fv"]["june-run"] == doc[
        "online"]["views"]["fv"]


def test_doctor_provenance_orphans(spark, store, tmp_path, capsys):
    """``doctor --provenance-orphans`` closes the residual hard-kill
    window the r15 pin rollback cannot cover: tags applied by a
    ``snapshot_provenance(pin_tag=...)`` that was SIGKILLed before its
    JSON write are flagged (exit 1), a pinned run whose record exists
    is clean (exit 0), manual pins recorded by some snapshot do not
    alarm, and a bad/recordless dir exits 2 (the ``--pair`` cron
    discipline: never act on a typo)."""
    from feast_spark.cli import main
    from feast_spark.datasets import commit_dataset, tag_dataset
    from feast_spark.io import epochs as epochs_io
    from feast_spark.io.manifest import ManifestedParquetTable
    from feast_spark.operators.bm25 import build_bm25_index

    store.materialize(datetime(2000, 1, 1), _utcnow())
    idx = str(tmp_path / "orph_idx")
    build_bm25_index(_docs(spark, range(4)), idx, "doc_id", "text")
    ds = str(tmp_path / "orph_ds")
    commit_dataset(_docs(spark, range(3)), ds)
    # a manual pin that predates the snapshot: recorded in the doc's
    # tag table, so the audit must NOT flag it
    tag_dataset(ds, "v1", 1)
    run_dir = tmp_path / "runs"
    run_dir.mkdir()

    # exit 2 discipline before any record exists
    assert main(
        ["doctor", "--provenance-orphans", str(tmp_path / "nope")]
    ) == 2
    assert main(["doctor", "--provenance-orphans", str(run_dir)]) == 2
    capsys.readouterr()

    store.snapshot_provenance(
        index_paths={"bm25": idx}, dataset_paths={"train": ds},
        path=str(run_dir / "good.json"), pin_tag="good-run",
    )
    assert main(["doctor", "--provenance-orphans", str(run_dir)]) == 0
    out = capsys.readouterr().out
    assert "no orphaned pins" in out
    assert "ORPHAN " not in out

    # hard-kill simulation: a second run's pins land on all three
    # layers, then the process dies before writing its JSON
    store.online_store.table("prov", "fv").tag("killed-run")
    epochs_io.tag_commit(idx, None, "killed-run", 1)
    ManifestedParquetTable(ds).tag("killed-run", 1)
    assert main(["doctor", "--provenance-orphans", str(run_dir)]) == 1
    out = capsys.readouterr().out
    orphan_lines = [
        line for line in out.splitlines() if line.startswith("ORPHAN  ")
    ]
    assert len(orphan_lines) == 3  # one per layer
    assert all("killed-run" in line for line in orphan_lines)
    assert not any("'v1'" in line for line in orphan_lines)

    # deleting the strays (the advertised repair) makes the dir clean
    store.online_store.table("prov", "fv").delete_tag("killed-run")
    epochs_io.delete_tag(idx, None, "killed-run")
    ManifestedParquetTable(ds).delete_tag("killed-run")
    assert main(["doctor", "--provenance-orphans", str(run_dir)]) == 0


def test_online_pin_recorded_and_verified_by_describe(
    spark, store, tmp_path, capsys
):
    """The doc records the per-view online tag map, so `provenance
    describe` shows AND verifies the online pin — and flags a deleted
    pin instead of silently reporting only the seq."""
    from feast_spark.cli import main

    store.materialize(datetime(2000, 1, 1), _utcnow())
    prov_path = str(tmp_path / "op.json")
    doc = store.snapshot_provenance(path=prov_path, pin_tag="june-run")
    seq = doc["online"]["views"]["fv"]
    assert doc["online"]["tags"]["fv"]["june-run"] == seq
    base = [
        "--registry", store.config.registry_path,
        "--online-path", store.config.online_store_path,
        "--project", "prov",
    ]
    assert main(base + ["provenance", "describe", prov_path]) == 0
    out = capsys.readouterr().out
    assert f"ok       online fv pin 'june-run' -> seq={seq}" in out
    store.online_store.table("prov", "fv").delete_tag("june-run")
    assert main(base + ["provenance", "describe", prov_path]) == 1
    assert "missing  online fv pin 'june-run'" in capsys.readouterr().out


def test_index_and_dataset_pins_verified_by_describe(
    spark, store, tmp_path, capsys
):
    """describe verifies the recorded index and dataset pins like the
    online one (r15): ok lines while the tags live, missing + exit 1
    once a pin is deleted or re-pointed."""
    from feast_spark.cli import main
    from feast_spark.datasets import commit_dataset, delete_dataset_tag
    from feast_spark.io import epochs as epochs_io
    from feast_spark.operators.bm25 import build_bm25_index

    idx = str(tmp_path / "pv_idx")
    build_bm25_index(_docs(spark, range(4)), idx, "doc_id", "text")
    ds = str(tmp_path / "pv_ds")
    commit_dataset(_docs(spark, range(3)), ds)
    prov_path = str(tmp_path / "pv.json")
    store.snapshot_provenance(
        index_paths={"bm25": idx}, dataset_paths={"train": ds},
        path=prov_path, pin_tag="june-run",
    )
    base = [
        "--registry", store.config.registry_path,
        "--online-path", store.config.online_store_path,
        "--project", "prov",
    ]
    assert main(base + ["provenance", "describe", prov_path]) == 0
    out = capsys.readouterr().out
    assert "ok       index bm25 pin 'june-run' -> commit_seq=1" in out
    assert "ok       dataset train pin 'june-run' -> commit_seq=1" in out
    epochs_io.delete_tag(idx, None, "june-run")
    delete_dataset_tag(ds, "june-run")
    assert main(base + ["provenance", "describe", prov_path]) == 1
    out = capsys.readouterr().out
    assert "missing  index bm25 pin 'june-run'" in out
    assert "missing  dataset train pin 'june-run'" in out


def test_streaming_watermarks_recorded_in_provenance(
    spark, store, tmp_path, capsys
):
    """A run fed by continuous ingestion records how far each layer had
    ingested: the online snapshot's stream_epoch, the index sidecar
    watermark, and the dataset commit meta all land in the doc, and a
    snapshot taken BEFORE further sinks keeps the earlier watermark."""
    from feast_spark.cli import main
    from feast_spark.datasets import commit_dataset
    from feast_spark.operators.bm25 import (
        bm25_index_append, build_bm25_index,
    )

    now = _utcnow()

    def _sink_online(epoch, v):
        store.online_store.online_write_batch(
            spark, "prov", "fv",
            spark.createDataFrame(
                [Row(driver_id=1, value=v,
                     ts=now - timedelta(minutes=5), created_ts=now)]
            ),
            ["driver_id"], "ts", "created_ts", ["value"],
            meta={"stream_epoch": epoch},
        )

    idx = str(tmp_path / "wm_idx")
    build_bm25_index(_docs(spark, range(4)), idx, "doc_id", "text")
    bm25_index_append(
        spark, idx, _docs(spark, range(10, 13)),
        meta={"stream_epoch": 3},
    )
    ds = str(tmp_path / "wm_ds")
    commit_dataset(_docs(spark, range(3)), ds, meta={"stream_epoch": 5})
    _sink_online(7, 1.0)
    prov_path = str(tmp_path / "wm.json")
    store.snapshot_provenance(
        index_paths={"bm25": idx}, dataset_paths={"train": ds},
        path=prov_path,
    )
    # the pipeline keeps ingesting AFTER the snapshot
    _sink_online(8, 2.0)
    run = store.describe_run(prov_path)
    assert run.ingest_meta["online"]["fv"]["stream_epoch"] == 7
    assert run.ingest_meta["indexes"]["bm25"]["stream_epoch"] == 3
    assert run.ingest_meta["datasets"]["train"]["stream_epoch"] == 5
    base = [
        "--registry", store.config.registry_path,
        "--online-path", store.config.online_store_path,
        "--project", "prov",
    ]
    assert main(base + ["provenance", "describe", prov_path]) == 0
    out = capsys.readouterr().out
    assert "ingested online fv through stream_epoch=7" in out
    assert "ingested index bm25 through stream_epoch=3" in out
    assert "ingested dataset train through stream_epoch=5" in out


def test_pin_map_missing_view_raises(spark, store, tmp_path):
    prov_path = str(tmp_path / "p.json")
    store.snapshot_provenance(path=prov_path)
    run = store.describe_run(prov_path)
    pins = run.online_as_of
    del pins["fv"]
    with pytest.raises(ValueError, match="no entry for view"):
        store.get_online_features(
            ["fv:value"], [{"driver_id": 1}], as_of=pins
        )


def test_versioned_datasets_commit_read_and_replay(
    spark, store, tmp_path
):
    """RetrievalJob.to_dataset commits the training rows through the
    manifest-flip store (datasets.py): a re-run cannot overwrite what
    a model trained on — as_of/tag reads, provenance records the seq,
    pin_tag makes it GC-exempt."""
    from feast_spark.datasets import (
        dataset_history,
        dataset_meta,
        read_dataset,
        tag_dataset,
    )
    from feast_spark.feature_store import RetrievalJob

    root = str(tmp_path / "train_ds")
    run1 = spark.createDataFrame([(1, 0.3), (2, 7.0)], "id LONG, v DOUBLE")
    seq1 = RetrievalJob(run1).to_dataset(
        root, meta={"features": ["fv:value"], "run": "june"}
    )
    assert seq1 == 1
    assert dataset_meta(root)["run"] == "june"
    prov_path = str(tmp_path / "ds_run.json")
    doc = store.snapshot_provenance(
        dataset_paths={"train": root}, path=prov_path, pin_tag="june-ds"
    )
    assert doc["datasets"]["train"]["commit_seq"] == 1
    assert doc["datasets"]["train"]["tags"]["june-ds"] == 1

    # re-runs commit new snapshots; keep_versions=3 + the tag keep the
    # pinned rows readable through all of them
    run2 = spark.createDataFrame([(1, 9.9)], "id LONG, v DOUBLE")
    for _ in range(4):
        RetrievalJob(run2).to_dataset(root)
    assert sorted(
        tuple(r) for r in read_dataset(spark, root).collect()
    ) == [(1, 9.9)]
    run = store.describe_run(prov_path)
    assert run.dataset_as_of == {"train": 1}
    assert sorted(
        tuple(r) for r in run.read_dataset(spark, "train").collect()
    ) == [(1, 0.3), (2, 7.0)]
    # tag reads work directly too
    assert sorted(
        tuple(r)
        for r in read_dataset(spark, root, as_of="june-ds").collect()
    ) == [(1, 0.3), (2, 7.0)]
    assert [e["seq"] for e in dataset_history(root)][0] == 1
    # drift since the run: id 2 gone, id 1's value changed (r15)
    drift = run.dataset_drift(spark, "train", key_cols=["id"])
    assert drift["from_seq"] == 1 and drift["to_seq"] == 5
    assert (drift["added"], drift["removed"], drift["changed"]) == (0, 1, 1)
    assert drift["sample_removed"] == [2]
    assert drift["sample_changed"] == [1]
    # a fresh tag on head
    assert tag_dataset(root, "latest") == 5
    # recording an uncommitted dataset fails loudly
    with pytest.raises(ValueError, match="no committed dataset"):
        store.snapshot_provenance(
            dataset_paths={"x": str(tmp_path / "missing_ds")}
        )


def test_dataset_diff_counts_and_samples(spark, tmp_path):
    """diff_dataset answers 'what moved between v1 and v2' with counts
    + sample keys only (driver never holds rows); both the keyed and
    the multiset variants match a DuckDB EXCEPT ALL / FULL OUTER JOIN
    twin over the same committed snapshots."""
    import duckdb

    from feast_spark.datasets import commit_dataset, diff_dataset
    from feast_spark.io.manifest import ManifestedParquetTable

    root = str(tmp_path / "diff_ds")
    v1 = [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e"), (5, "e")]
    v2 = [(1, "a"), (3, "CHANGED"), (4, "d"), (5, "e"), (5, "e"),
          (5, "e"), (7, "g")]
    schema = "doc_id LONG, text STRING"
    commit_dataset(spark.createDataFrame(v1, schema), root)
    commit_dataset(spark.createDataFrame(v2, schema), root)

    t = ManifestedParquetTable(root)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW a AS SELECT * FROM read_parquet('{t.path_as_of(1)}/*.parquet')"
    )
    con.execute(
        f"CREATE VIEW b AS SELECT * FROM read_parquet('{t.path_as_of(2)}/*.parquet')"
    )

    # multiset row diff == EXCEPT ALL both ways (the duplicated (5,e)
    # row goes 2 -> 3 copies: +1 added)
    got = diff_dataset(spark, root, 1, 2)
    added = con.execute(
        "SELECT count(*) FROM (SELECT * FROM b EXCEPT ALL SELECT * FROM a)"
    ).fetchone()[0]
    removed = con.execute(
        "SELECT count(*) FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b)"
    ).fetchone()[0]
    assert got == {"added": added, "removed": removed} == {
        "added": 3, "removed": 2,
    }

    # keyed diff == FULL OUTER JOIN twin
    got = diff_dataset(spark, root, 1, 2, key_cols=["doc_id"])
    oracle = con.execute("""
        WITH pa AS (SELECT doc_id,
                           md5(string_agg(text, ',' ORDER BY text)) h
                    FROM a GROUP BY doc_id),
             pb AS (SELECT doc_id,
                           md5(string_agg(text, ',' ORDER BY text)) h
                    FROM b GROUP BY doc_id)
        SELECT
          sum(CASE WHEN pa.doc_id IS NULL THEN 1 ELSE 0 END) added,
          sum(CASE WHEN pb.doc_id IS NULL THEN 1 ELSE 0 END) removed,
          sum(CASE WHEN pa.doc_id IS NOT NULL AND pb.doc_id IS NOT NULL
                   AND pa.h <> pb.h THEN 1 ELSE 0 END) changed
        FROM pa FULL OUTER JOIN pb USING (doc_id)
    """).fetchone()
    assert (got["added"], got["removed"], got["changed"]) == tuple(oracle)
    assert got["sample_added"] == [7]
    assert got["sample_removed"] == [2]
    # the duplicated-key group (5,e)x2 -> x3 counts as CHANGED content:
    # doc 3 (value) + doc 5 (multiplicity)
    assert got["sample_changed"] == [3, 5]
    assert got["changed"] == 2

    # mismatched schemas refuse loudly
    commit_dataset(
        spark.createDataFrame([(1, "a", 0.5)],
                              "doc_id LONG, text STRING, w DOUBLE"),
        root,
    )
    with pytest.raises(ValueError, match="different columns"):
        diff_dataset(spark, root, 2, 3)
    # tags resolve like seqs
    from feast_spark.datasets import tag_dataset

    tag_dataset(root, "june", 1)
    assert diff_dataset(spark, root, "june", 2)["added"] == 3


def test_diff_dataset_null_keys_match_null_safely(spark, tmp_path):
    """A NULL-keyed group present unchanged in both commits must NOT
    surface as added+removed (plain key equality never matches NULL);
    a genuinely changed NULL group classifies as changed."""
    from feast_spark.datasets import commit_dataset, diff_dataset

    schema = "doc_id LONG, text STRING"
    root = str(tmp_path / "null_diff")
    commit_dataset(
        spark.createDataFrame([(1, "a"), (None, "n")], schema), root
    )
    commit_dataset(
        spark.createDataFrame([(1, "a"), (None, "n")], schema), root
    )
    got = diff_dataset(spark, root, 1, 2, key_cols=["doc_id"])
    assert (got["added"], got["removed"], got["changed"]) == (0, 0, 0)
    commit_dataset(
        spark.createDataFrame([(1, "a"), (None, "CHANGED")], schema), root
    )
    got = diff_dataset(spark, root, 2, 3, key_cols=["doc_id"])
    assert (got["added"], got["removed"], got["changed"]) == (0, 0, 1)
    assert got["sample_changed"] == [None]


def test_diff_dataset_hot_keys_and_map_canonicalization(spark, tmp_path):
    """The r16 keyed-fold rewrite: duplicate-key multiplicity is still
    part of the group identity under the O(1)-state commutative
    (sum, xor, count) fold, and top-level map columns compare by
    contents, not internal entry order."""
    from pyspark.sql import functions as F

    from feast_spark.datasets import commit_dataset, diff_dataset

    schema = "k LONG, v STRING"
    root = str(tmp_path / "hot_diff")
    commit_dataset(
        spark.createDataFrame([(1, "x")] * 3 + [(2, "y")], schema), root
    )
    commit_dataset(
        spark.createDataFrame([(1, "x")] * 3 + [(2, "y")] * 2, schema), root
    )
    got = diff_dataset(spark, root, 1, 2, key_cols=["k"])
    # key 1's triple is unchanged; key 2 went from 1 copy to 2
    assert (got["added"], got["removed"], got["changed"]) == (0, 0, 1)
    assert got["sample_changed"] == [2]

    mroot = str(tmp_path / "map_diff")
    base = spark.range(2).select(F.col("id").alias("k"))
    commit_dataset(
        base.withColumn(
            "m", F.create_map(F.lit("a"), F.lit(1), F.lit("b"), F.lit(2))
        ),
        mroot,
    )
    commit_dataset(
        base.withColumn(
            "m", F.create_map(F.lit("b"), F.lit(2), F.lit("a"), F.lit(1))
        ),
        mroot,
    )
    # same contents, different construction order: NOT a change —
    # keyed and unkeyed modes both
    got = diff_dataset(spark, mroot, 1, 2, key_cols=["k"])
    assert (got["added"], got["removed"], got["changed"]) == (0, 0, 0)
    got = diff_dataset(spark, mroot, 1, 2)
    assert (got["added"], got["removed"]) == (0, 0)
    # a real value change is still a change
    commit_dataset(
        base.withColumn(
            "m", F.create_map(F.lit("b"), F.lit(9), F.lit("a"), F.lit(1))
        ),
        mroot,
    )
    got = diff_dataset(spark, mroot, 2, 3, key_cols=["k"])
    assert got["changed"] == 2


def test_vacuum_default_honors_legacy_dataset_window(spark, tmp_path):
    """A dataset committed BEFORE window persistence (manifest holds
    no keep_versions key) must vacuum at the datasets-layer historical
    default of 3, not the global manifest default of 2."""
    import json as _json

    from feast_spark.datasets import (
        commit_dataset, dataset_history, vacuum_dataset,
    )

    root = str(tmp_path / "legacy_ds")
    for i in range(4):
        commit_dataset(_docs(spark, range(i + 1)), root)
    # simulate a pre-r15 manifest: strip the persisted window
    mp = f"{root}/_MANIFEST.json"
    m = _json.loads(open(mp).read())
    del m["keep_versions"]
    open(mp, "w").write(_json.dumps(m))
    assert vacuum_dataset(root) == []  # window 3 -> seqs 2..4 retained
    assert [e["seq"] for e in dataset_history(root)] == [2, 3, 4]
    # a default re-commit also keeps the legacy window (and persists it)
    commit_dataset(_docs(spark, range(9)), root)
    assert [e["seq"] for e in dataset_history(root)] == [3, 4, 5]
    assert _json.loads(open(mp).read())["keep_versions"] == 3


def test_cli_dataset_diff(spark, tmp_path, capsys):
    from feast_spark.cli import main
    from feast_spark.datasets import commit_dataset, tag_dataset

    schema = "doc_id LONG, text STRING"
    root = str(tmp_path / "cli_diff")
    commit_dataset(spark.createDataFrame([(1, "a"), (2, "b")], schema), root)
    commit_dataset(spark.createDataFrame([(1, "a"), (3, "c")], schema), root)
    tag_dataset(root, "v1", 1)
    assert main(["dataset-diff", root, "v1", "2", "--key", "doc_id"]) == 0
    out = capsys.readouterr().out
    assert "added    1   e.g. 3" in out
    assert "removed  1   e.g. 2" in out
    assert "changed  0" in out
    # unkeyed multiset mode
    assert main(["dataset-diff", root, "1", "2"]) == 0
    out = capsys.readouterr().out
    assert "added    1" in out and "removed  1" in out
    # an expired/unknown ref fails loudly with the manifest's error
    assert main(["dataset-diff", root, "9", "2"]) == 2
    assert "error" in capsys.readouterr().out


def test_vacuum_honors_committed_keep_versions(spark, tmp_path):
    """keep_versions is persisted in the manifest at commit time:
    vacuum (and re-commits) from a process with a smaller default must
    not delete snapshots the committer's retention meant to keep; an
    explicit override is deliberate and becomes the stored window."""
    from feast_spark.datasets import (
        commit_dataset,
        dataset_history,
        vacuum_dataset,
    )

    root = str(tmp_path / "kv_ds")
    for i in range(5):
        commit_dataset(
            _docs(spark, range(i + 1)), root, keep_versions=5
        )
    assert [e["seq"] for e in dataset_history(root)] == [1, 2, 3, 4, 5]
    # default vacuum: the STORED window (5) — nothing reclaimed
    # (before r15 this used the caller-side default of 3 and deleted
    # snapshots 1-2 immediately)
    assert vacuum_dataset(root) == []
    assert [e["seq"] for e in dataset_history(root)] == [1, 2, 3, 4, 5]
    # a default-configured re-commit honors the stored window too
    commit_dataset(_docs(spark, range(9)), root)
    assert [e["seq"] for e in dataset_history(root)] == [2, 3, 4, 5, 6]
    # an explicit override wins, deliberately
    deleted = vacuum_dataset(root, keep_versions=2)
    assert len(deleted) == 3
    assert [e["seq"] for e in dataset_history(root)] == [5, 6]
    # online snapshot tables share the mechanism: a store constructed
    # with an explicit window persists it; a DEFAULT-configured store's
    # next write honors it instead of shrinking to 2
    from feast_spark.online.store import OnlineStore

    def _write(st, v):
        st.online_write_batch(
            spark, "p", "fv",
            spark.createDataFrame([Row(driver_id=1, value=float(v),
                                       ts=_utcnow(), created_ts=_utcnow())]),
            ["driver_id"], "ts", "created_ts", ["value"],
        )

    online_root = str(tmp_path / "kv_online")
    wide = OnlineStore(online_root, keep_versions=4)
    for v in range(4):
        _write(wide, v)
    narrow = OnlineStore(online_root)  # default config
    _write(narrow, 9)
    hist = narrow.table("p", "fv").history()
    assert [e["seq"] for e in hist] == [2, 3, 4, 5]


def test_cli_dataset_pins(spark, store, tmp_path, capsys):
    from feast_spark.cli import main
    from feast_spark.datasets import commit_dataset

    root = str(tmp_path / "cli_ds")
    commit_dataset(
        spark.createDataFrame([(1, 2.0)], "id LONG, v DOUBLE"), root
    )
    prov = str(tmp_path / "cli_ds_run.json")
    base = [
        "--registry", store.config.registry_path,
        "--online-path", store.config.online_store_path,
        "--project", "prov",
    ]
    assert main(base + [
        "provenance", "snapshot", prov, "--dataset", f"train={root}",
    ]) == 0
    assert "1 datasets" in capsys.readouterr().out
    assert main(base + ["provenance", "describe", prov]) == 0
    out = capsys.readouterr().out
    assert "ok       dataset train commit_seq=1 replayable" in out
    # expire it: keep_versions=3 default in commit_dataset — burn through
    for _ in range(4):
        commit_dataset(
            spark.createDataFrame([(9, 9.0)], "id LONG, v DOUBLE"), root
        )
    assert main(base + ["provenance", "describe", prov]) == 1
    assert "expired  dataset train" in capsys.readouterr().out


def test_pin_tag_validated_before_any_layer_is_tagged(
    spark, store, tmp_path
):
    """A name one layer would accept and another reject must fail
    UPFRONT — a mid-loop failure would leave orphaned vacuum-immune
    tags no provenance file references."""
    from feast_spark.operators.bm25 import build_bm25_index

    idx = str(tmp_path / "vidx")
    build_bm25_index(_docs(spark, range(6)), idx, "doc_id", "text")
    for bad in ("june=run", "7", "", "a,b"):
        with pytest.raises(ValueError, match="pin_tag"):
            store.snapshot_provenance(
                index_paths={"bm25": idx}, pin_tag=bad
            )
    # nothing was tagged anywhere
    from feast_spark.io import epochs as epochs_io
    from feast_spark.io.fs import LocalFS

    assert epochs_io.read_tags(idx, LocalFS()) == {}
    assert store.online_store.table("prov", "fv").tags() == {}


def test_snapshot_seq_refuses_prehistoric_manifest(store, tmp_path):
    """A manifest WITHOUT a commit log means the view WAS serving —
    recording its seq as never-materialized would fake
    reproducibility, so the snapshot refuses."""
    import json as _json
    import os

    table_dir = os.path.join(
        store.config.online_store_path, "prov", "fv_unmaterialized"
    )
    os.makedirs(os.path.join(table_dir, "v_00000001"))
    with open(os.path.join(table_dir, "_MANIFEST.json"), "w") as f:
        _json.dump({"current": "v_00000001", "format": "parquet"}, f)
    with pytest.raises(ValueError, match="predates commit logging"):
        store.snapshot_provenance()


def test_cli_tag_verb_is_layer_agnostic(spark, store, tmp_path, capsys):
    """``tag PATH`` pins/unpins/lists on manifest tables (online
    snapshot tables, dataset roots) through the same verb indexes use."""
    from feast_spark.cli import main
    from feast_spark.datasets import commit_dataset, read_dataset

    root = str(tmp_path / "tag_ds")
    commit_dataset(
        spark.createDataFrame([(1, 2.0)], "id LONG, v DOUBLE"), root,
        keep_versions=1,
    )
    assert main(["tag", root, "june-run"]) == 0
    assert "tagged   june-run -> commit_seq=1" in capsys.readouterr().out
    for _ in range(2):
        commit_dataset(
            spark.createDataFrame([(9, 9.0)], "id LONG, v DOUBLE"),
            root, keep_versions=1,
        )
    # keep_versions=1, yet the pinned commit still reads
    assert [tuple(r) for r in read_dataset(
        spark, root, as_of="june-run"
    ).collect()] == [(1, 2.0)]
    assert main(["tag", root, "--list"]) == 0
    assert "june-run -> commit_seq=1" in capsys.readouterr().out
    assert main(["tag", root, "june-run", "--delete"]) == 0
    capsys.readouterr()
    assert main(["tag", root, "nope", "--delete"]) == 2
    capsys.readouterr()
    # online snapshot tables take the same verb
    table_dir = f"{store.config.online_store_path}/prov/fv"
    assert main(["tag", table_dir, "prod"]) == 0
    assert "tagged   prod -> commit_seq=1" in capsys.readouterr().out


def test_filesource_over_manifest_table(spark, tmp_path):
    """A FileSource whose path is a versioned-dataset root resolves
    through the manifest: reads see one committed snapshot (a re-run's
    half-written version dir is structurally invisible), and as_of
    pins a feature view to an archived commit — 'features from the
    corpus the June model trained on'."""
    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
        commit_dataset,
    )
    from feast_spark.datasets import tag_dataset

    now = _utcnow()
    root = str(tmp_path / "src_ds")
    commit_dataset(
        spark.createDataFrame(
            [Row(driver_id=1, value=0.3, ts=now - timedelta(hours=3))]
        ),
        root,
    )
    tag_dataset(root, "june-run")
    st = FeatureStore(
        spark,
        RepoConfig(
            project="mf",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    st.apply(
        [
            Entity(name="driver", join_key="driver_id",
                   value_type=ValueType.INT64),
            FeatureView(
                name="fv_head",
                entities=["driver"],
                ttl=timedelta(days=1),
                batch_source=FileSource(
                    path=root, event_timestamp_column="ts"
                ),
            ),
            FeatureView(
                name="fv_pinned",
                entities=["driver"],
                ttl=timedelta(days=1),
                batch_source=FileSource(
                    path=root, event_timestamp_column="ts",
                    as_of="june-run",
                ),
            ),
        ]
    )
    # a re-run commits fresher values under the same root
    commit_dataset(
        spark.createDataFrame(
            [Row(driver_id=1, value=9.9, ts=now - timedelta(hours=2))]
        ),
        root,
    )
    entity_df = spark.createDataFrame(
        [Row(driver_id=1, event_timestamp=now)]
    )
    head = st.get_historical_features(
        entity_df, ["fv_head:value"]
    ).to_spark_df().collect()
    assert head[0]["value"] == pytest.approx(9.9)
    pinned = st.get_historical_features(
        entity_df, ["fv_pinned:value"]
    ).to_spark_df().collect()
    assert pinned[0]["value"] == pytest.approx(0.3)
    # the pin survives a registry round-trip
    st2 = FeatureStore(
        spark,
        RepoConfig(
            project="mf",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    src = st2.registry.get_feature_view("fv_pinned").batch_source
    assert src.as_of == "june-run"
    # as_of on a plain path (no commit history) fails loudly
    plain = str(tmp_path / "plain.parquet")
    spark.createDataFrame([Row(driver_id=1)]).write.parquet(plain)
    with pytest.raises(ValueError, match="no commit history"):
        FileSource(path=plain, as_of=1).load(spark)
    # manifest sources are parquet; other formats refuse
    with pytest.raises(ValueError, match="parquet"):
        FileSource(path=root, file_format="csv").load(spark)


def test_filesource_manifest_root_with_uri_scheme(spark, tmp_path):
    """A manifest root addressed through a URI scheme is probed via the
    Hadoop connectors Spark itself reads with (io/fs.py HadoopFS), not
    os.path: before r15 an s3a://-style root silently fell through to
    spark.read.parquet(root), recursively scanning every retained v_*
    snapshot — duplicated rows across versions served as features with
    no error.  file:// exercises the same code path locally."""
    from feast_spark import FileSource, commit_dataset

    root = str(tmp_path / "remote_ds")
    commit_dataset(
        spark.createDataFrame([Row(doc_id=1, v=1.0)]), root
    )
    commit_dataset(
        spark.createDataFrame([Row(doc_id=1, v=2.0)]), root
    )
    uri = "file://" + root
    head = FileSource(path=uri).load(spark).collect()
    # manifest-resolved: ONE committed snapshot, not both v_* dirs
    assert len(head) == 1 and head[0]["v"] == pytest.approx(2.0)
    pinned = FileSource(path=uri, as_of=1).load(spark).collect()
    assert len(pinned) == 1 and pinned[0]["v"] == pytest.approx(1.0)
    # a scheme-carrying PLAIN parquet dir still loads as a plain scan
    plain = str(tmp_path / "plain_remote.parquet")
    spark.createDataFrame([Row(doc_id=7)]).write.parquet(plain)
    assert FileSource(path="file://" + plain).load(spark).count() == 1


def test_unknown_format_is_rejected(store, tmp_path):
    import json

    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"format": 99}))
    with pytest.raises(ValueError, match="unsupported provenance format"):
        load_provenance(str(p))


def test_cli_snapshot_and_describe(spark, store, tmp_path, capsys):
    """``provenance snapshot`` stamps without a Spark session;
    ``describe`` verifies every pin and exits 1 once one expires."""
    from feast_spark.cli import main
    from feast_spark.operators.bm25 import (
        bm25_index_append,
        bm25_index_vacuum,
        build_bm25_index,
    )

    idx = str(tmp_path / "cli_idx")
    build_bm25_index(_docs(spark, range(6)), idx, "doc_id", "text")
    prov = str(tmp_path / "run.json")
    base = [
        "--registry", store.config.registry_path,
        "--online-path", store.config.online_store_path,
        "--project", "prov",
    ]
    assert main(base + [
        "provenance", "snapshot", prov, "--index", f"bm25={idx}",
        "--note", "cli-run",
    ]) == 0
    out = capsys.readouterr().out
    assert "registry seq=" in out and "1 indexes" in out
    assert main(base + ["provenance", "describe", prov]) == 0
    out = capsys.readouterr().out
    assert "ok       index bm25 commit_seq=1 replayable" in out
    assert "expired" not in out
    # malformed --index spec
    assert main(base + [
        "provenance", "snapshot", prov, "--index", "nopath"
    ]) == 2
    capsys.readouterr()
    # expire the index pin: append then vacuum with default retention
    bm25_index_append(spark, idx, _docs(spark, range(20, 26)))
    bm25_index_vacuum(idx)
    assert main(base + ["provenance", "describe", prov]) == 1
    out = capsys.readouterr().out
    assert "expired  index bm25" in out
    # --pin tags the recorded commits through the CLI too (separate
    # index — a tag would have kept the expiry scenario above alive)
    idx2 = str(tmp_path / "cli_idx2")
    build_bm25_index(_docs(spark, range(6)), idx2, "doc_id", "text")
    prov_pinned = str(tmp_path / "run_pinned.json")
    assert main(base + [
        "provenance", "snapshot", prov_pinned,
        "--index", f"bm25={idx2}", "--pin", "cli-pin",
    ]) == 0
    assert "pinned as 'cli-pin'" in capsys.readouterr().out
    from feast_spark.io import epochs as epochs_io
    from feast_spark.io.fs import LocalFS

    assert epochs_io.read_tags(idx2, LocalFS())["cli-pin"] == 1


def test_kv_backend_recorded_as_non_replayable(spark, tmp_path, store):
    """A KV online store is recorded honestly; online_as_of raises."""
    from feast_spark.provenance import RunReplay

    doc = store.snapshot_provenance()
    doc["online"] = {"type": "SqliteOnlineStore",
                     "supports_time_travel": False}
    run = RunReplay(doc)
    with pytest.raises(ValueError, match="keeps no history"):
        run.online_as_of
