"""FeatureStore facade e2e + offline/online consistency (the reference's
tests/test_offline_online_store_consistency.py pattern: materialize, then
assert the online value equals the historical value at the same ts)."""

import os
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row

from feast_spark import (
    Entity,
    Feature,
    FeatureService,
    FeatureStore,
    FeatureView,
    FileSource,
    RepoConfig,
    ValueType,
)
from feast_spark.errors import (
    EntityDFMissingColumnsError,
    FeatureNameCollisionError,
)


def ts(s):
    return datetime.fromisoformat(s)


@pytest.fixture()
def store(spark, tmp_path):
    """Store over the reference's 5-row consistency fixture
    (test_offline_online_store_consistency.py:34-54): ids [1,2,1,3,3],
    values [0.1, None, 0.3, 4, 5], field_mapping ts_1->ts, id->driver_id."""
    now = ts("2021-06-01 12:00:00")
    rows = [
        Row(id=1, value=0.1, ts_1=now - timedelta(hours=4), created_ts=now),
        Row(id=2, value=None, ts_1=now - timedelta(hours=4), created_ts=now),
        Row(id=1, value=0.3, ts_1=now - timedelta(hours=3), created_ts=now),
        Row(id=3, value=4.0, ts_1=now - timedelta(hours=4), created_ts=now),
        Row(id=3, value=5.0, ts_1=now - timedelta(hours=1), created_ts=now),
    ]
    src_path = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows).write.parquet(src_path)
    st = FeatureStore(
        spark,
        RepoConfig(
            project="t",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    st.apply(
        [
            Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64),
            FeatureView(
                name="simple_fv",
                entities=["driver"],
                ttl=timedelta(days=5),
                batch_source=FileSource(
                    path=src_path,
                    event_timestamp_column="ts",
                    created_timestamp_column="created_ts",
                    field_mapping={"ts_1": "ts", "id": "driver_id"},
                ),
            ),
        ]
    )
    st._now = now
    return st


def test_inference_excludes_keys_and_ts(store):
    view = store.registry.get_feature_view("simple_fv")
    assert view.feature_names == ["value"]


def test_historical_retrieval_matches_fixture(store, spark):
    now = store._now
    entity_df = spark.createDataFrame(
        [
            Row(driver_id=1, event_timestamp=now - timedelta(hours=2)),
            Row(driver_id=2, event_timestamp=now),
            Row(driver_id=3, event_timestamp=now - timedelta(hours=2)),
            Row(driver_id=3, event_timestamp=now),
            Row(driver_id=4, event_timestamp=now),
        ]
    )
    out = store.get_historical_features(entity_df, ["simple_fv:value"]).to_spark_df()
    got = {
        (r["driver_id"], r["event_timestamp"]): r["value"] for r in out.collect()
    }
    assert got[(1, now - timedelta(hours=2))] == pytest.approx(0.3)
    assert got[(2, now)] is None  # row exists but value NULL
    assert got[(3, now - timedelta(hours=2))] == pytest.approx(4.0)
    assert got[(3, now)] == pytest.approx(5.0)
    assert got[(4, now)] is None  # no rows at all


def test_offline_online_consistency(store, spark):
    """Materialize [now-5h, now-2h) then serve: driver 1 -> 0.3,
    driver 2 -> NULL value present, driver 3 -> 4 (5 is outside window);
    incremental to now picks up 5."""
    now = store._now
    store.materialize(now - timedelta(hours=5), now - timedelta(hours=2))
    resp = store.get_online_features(
        ["simple_fv:value"], [{"driver_id": 1}, {"driver_id": 2}, {"driver_id": 3}]
    )
    assert resp["value"][0] == pytest.approx(0.3)
    assert resp["value"][1] is None
    assert resp["__statuses"]["value"][1] == "NOT_FOUND"  # NULL value => NOT_FOUND
    assert resp["value"][2] == pytest.approx(4.0)

    store.materialize_incremental(now)
    resp2 = store.get_online_features(["simple_fv:value"], [{"driver_id": 3}])
    assert resp2["value"][0] == pytest.approx(5.0)


def test_feature_service_retrieval(store, spark):
    now = store._now
    view = store.registry.get_feature_view("simple_fv")
    svc = FeatureService(name="svc", features=[view.with_projection(["value"])])
    store.apply([svc])
    entity_df = spark.createDataFrame(
        [Row(driver_id=1, event_timestamp=now)]
    )
    out = store.get_historical_features(
        entity_df, store.registry.get_feature_service("svc")
    ).to_spark_df()
    assert out.collect()[0]["value"] == pytest.approx(0.3)


def test_validation_errors(store, spark):
    now = store._now
    entity_df = spark.createDataFrame([Row(driver_id=1, event_timestamp=now)])
    with pytest.raises(EntityDFMissingColumnsError):
        store.get_historical_features(
            entity_df.drop("driver_id"), ["simple_fv:value"]
        )
    with pytest.raises(FeatureNameCollisionError):
        store.get_historical_features(
            entity_df, ["simple_fv:value", "simple_fv:value"]
        )


def test_registry_roundtrip(store, spark, tmp_path):
    st2 = FeatureStore(
        spark,
        RepoConfig(
            project="t",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    assert [v.name for v in st2.registry.list_feature_views()] == ["simple_fv"]
    v = st2.registry.get_feature_view("simple_fv")
    assert v.ttl == timedelta(days=5)
    assert v.batch_source.field_mapping == {"ts_1": "ts", "id": "driver_id"}


def test_list_feature_offline_online_roundtrip(spark, tmp_path):
    """ArrayType feature values survive apply -> historical retrieval ->
    materialize -> online read (ValueType *_LIST parity)."""
    now = ts("2021-06-01 12:00:00")
    rows = [
        Row(driver_id=1, emb=[1.0, 2.0], ts=now - timedelta(hours=2), created_ts=now),
        Row(driver_id=1, emb=[3.0, 4.0], ts=now - timedelta(hours=1), created_ts=now),
        Row(driver_id=2, emb=None, ts=now - timedelta(hours=1), created_ts=now),
    ]
    src_path = str(tmp_path / "emb.parquet")
    spark.createDataFrame(rows).write.parquet(src_path)
    st = FeatureStore(
        spark,
        RepoConfig(
            project="t",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    st.apply(
        [
            Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64),
            FeatureView(
                name="emb_fv",
                entities=["driver"],
                ttl=timedelta(days=5),
                batch_source=FileSource(
                    path=src_path,
                    event_timestamp_column="ts",
                    created_timestamp_column="created_ts",
                ),
            ),
        ]
    )
    view = st.registry.get_feature_view("emb_fv")
    assert view.feature_names == ["emb"]

    entity_df = spark.createDataFrame([Row(driver_id=1, event_timestamp=now)])
    hist = st.get_historical_features(entity_df, ["emb_fv:emb"]).to_spark_df()
    assert hist.collect()[0]["emb"] == [3.0, 4.0]

    st.materialize(now - timedelta(days=1), now)
    resp = st.get_online_features(
        ["emb_fv:emb"], [{"driver_id": 1}, {"driver_id": 2}, {"driver_id": 9}]
    )
    assert list(resp["emb"][0]) == [3.0, 4.0]
    assert resp["emb"][1] is None
    assert resp["__statuses"]["emb"] == ["PRESENT", "NOT_FOUND", "NOT_FOUND"]


def test_full_field_statuses_outside_max_age(store):
    """full_field_statuses completes the proto's FieldStatus contract
    (ServingService.proto:96-115): OUTSIDE_MAX_AGE for values older
    than ttl (value withheld), NULL_VALUE for ingested NULLs, and the
    default mode stays reference-Python-parity (PRESENT/NOT_FOUND)."""
    now = store._now
    store.materialize(now - timedelta(hours=5), now)
    rows = [{"driver_id": 1}, {"driver_id": 2}, {"driver_id": 4}]

    # ttl is 5 days; at `now` everything is fresh
    fresh = store.get_online_features(
        ["simple_fv:value"], rows, full_field_statuses=True, now=now
    )
    assert fresh["__statuses"]["value"] == ["PRESENT", "NULL_VALUE", "NOT_FOUND"]
    assert fresh["value"][0] == pytest.approx(0.3)

    # 6 days later the materialized values exceed ttl -> OUTSIDE_MAX_AGE
    # and the stale value is withheld
    stale = store.get_online_features(
        ["simple_fv:value"], rows,
        full_field_statuses=True, now=now + timedelta(days=6),
    )
    assert stale["__statuses"]["value"] == [
        "OUTSIDE_MAX_AGE", "OUTSIDE_MAX_AGE", "NOT_FOUND",
    ]
    assert stale["value"][0] is None

    # default mode unchanged: reference-Python statuses only
    default = store.get_online_features(["simple_fv:value"], rows)
    assert default["__statuses"]["value"] == ["PRESENT", "NOT_FOUND", "NOT_FOUND"]
    assert default["value"][0] == pytest.approx(0.3)


def test_time_series_splits_facade(store):
    """FeatureStore.time_series_splits cuts the view's batch source on
    its (field-mapped) event-timestamp column into expanding-window
    walk-forward folds: train strictly precedes test, later folds see
    more history, and the purge gap keeps test rows away from the
    boundary."""
    from pyspark.sql import functions as F

    folds = store.time_series_splits("simple_fv", n_folds=2)
    assert len(folds) == 2
    (tr1, te1), (tr2, te2) = folds
    t1, s1 = tr1.count(), te1.count()
    t2, s2 = tr2.count(), te2.count()
    assert t1 + s1 > 0 and t2 + s2 > 0
    assert t2 >= t1  # expanding window: fold 2 trains on more history
    # every train ts < every test ts within a fold
    for tr, te in folds:
        tr_max = tr.agg(F.max("ts")).collect()[0][0]
        te_min = te.agg(F.min("ts")).collect()[0][0]
        if tr_max is not None and te_min is not None:
            assert tr_max < te_min
    # unknown view -> the registry's clear error (parity with
    # validate_source / quarantine_source)
    import pytest as _pytest

    from feast_spark.errors import FeatureViewNotFoundError

    with _pytest.raises(FeatureViewNotFoundError):
        store.time_series_splits("missing_view", n_folds=2)


def test_to_arrow_keeps_nullable_long_columns_int64(spark):
    """RetrievalJob.to_arrow converts through Arrow directly: a nullable
    bigint column (a retrieval miss) stays int64, not pandas' double."""
    import pyarrow as pa

    from feast_spark.feature_store import RetrievalJob

    df = spark.createDataFrame([(1, None), (2, 5)], "k INT, v BIGINT")
    table = RetrievalJob(df).to_arrow()
    assert table.schema.field("v").type == pa.int64()
    assert table.column("v").to_pylist() == [None, 5]
