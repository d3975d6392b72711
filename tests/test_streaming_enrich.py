"""Streaming PIT enrichment: stream≡batch identity (a feature computed
for a streamed event equals the one batch retrieval computes for the
same (key, timestamp)), late-event correctness under the created_ts
tie-break, and the online-snapshot serving twin."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join
from feast_spark.streaming.enrich import enrich_stream, online_snapshot_spec

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("driver_id", T.LongType()),
        T.StructField("event_timestamp", T.TimestampType()),
    ]
)


def ts(s):
    return datetime.fromisoformat(s)


def _feature_rows(spark):
    return spark.createDataFrame(
        [
            Row(driver_id=1, datetime=ts("2021-04-12 09:00:00"),
                created=ts("2021-04-12 09:00:00"), conv_rate=0.1),
            Row(driver_id=1, datetime=ts("2021-04-12 10:00:00"),
                created=ts("2021-04-12 10:00:00"), conv_rate=0.2),
            # same event_ts, later created: must win ties (A2)
            Row(driver_id=1, datetime=ts("2021-04-12 10:00:00"),
                created=ts("2021-04-12 11:00:00"), conv_rate=0.25),
            Row(driver_id=2, datetime=ts("2021-04-12 05:00:00"),
                created=ts("2021-04-12 05:00:00"), conv_rate=0.3),
        ]
    )


def _events(n0=0):
    return [
        Row(event_id=n0 + 1, driver_id=1,
            event_timestamp=ts("2021-04-12 10:59:42")),
        Row(event_id=n0 + 2, driver_id=2,  # only feature outside 2h ttl
            event_timestamp=ts("2021-04-12 08:12:10")),
        Row(event_id=n0 + 3, driver_id=3,  # no features at all
            event_timestamp=ts("2021-04-12 16:40:26")),
    ]


def _spec(feats):
    return AsOfJoinSpec(
        feature_df=feats,
        join_keys=["driver_id"],
        timestamp_col="datetime",
        features=["conv_rate"],
        created_col="created",
        ttl=timedelta(hours=2),
    )


def test_stream_equals_batch(spark, tmp_path):
    """Identical rows for identical timestamps: the streamed enrichment
    of every micro-batch unions to exactly the batch as_of_join result
    over the union of events — including a LATE second batch (events
    older than batch 1's) whose PIT answers must still be correct."""
    feats = _feature_rows(spark)
    src = tmp_path / "in"
    src.mkdir()
    collected = []

    def write_batch(name, rows):
        spark.createDataFrame(rows, EVENT_SCHEMA).coalesce(1).write.parquet(
            str(src / name)
        )

    write_batch("b1", _events(0))
    # late arrivals: timestamps BEFORE batch 1's events
    late = [
        Row(event_id=11, driver_id=1,
            event_timestamp=ts("2021-04-12 09:30:00")),  # -> 0.1
        Row(event_id=12, driver_id=1,
            event_timestamp=ts("2021-04-12 10:00:00")),  # tie: created 11:00 wins -> 0.25
    ]

    def run_stream():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(
            str(src) + "/*"
        )
        q = enrich_stream(
            stream,
            "event_timestamp",
            [_spec(feats)],
            sink=lambda df, _bid: collected.extend(df.collect()),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()

    run_stream()
    # late arrivals land, the (checkpointed) stream resumes: only the
    # new files process, and their PIT answers look at the full past
    write_batch("b2", late)
    run_stream()

    batch = as_of_join(
        spark.createDataFrame(_events(0) + late, EVENT_SCHEMA),
        "event_timestamp",
        [_spec(feats)],
    )
    want = sorted(
        (r["event_id"], r["conv_rate"]) for r in batch.collect()
    )
    got = sorted((r["event_id"], r["conv_rate"]) for r in collected)
    assert got == want
    by_id = dict(got)
    # event 1 (10:59:42): winner is (10:00, created 11:00) -> 0.25 (A2);
    # late event 12 at exactly 10:00 hits the same tie -> 0.25
    assert by_id == {1: 0.25, 2: None, 3: None, 11: 0.1, 12: 0.25}


def test_enrich_refreshes_feature_state_per_batch(spark, tmp_path):
    """With callable specs, a feature table update between micro-batches
    is visible to the NEXT batch (the per-batch re-resolve contract)."""
    fdir = tmp_path / "feats"
    spark.createDataFrame(
        [Row(driver_id=1, datetime=ts("2021-04-12 09:00:00"),
             created=ts("2021-04-12 09:00:00"), conv_rate=0.1)]
    ).write.mode("overwrite").parquet(str(fdir))

    def specs():
        return [_spec(spark.read.parquet(str(fdir)))]

    src = tmp_path / "in"
    src.mkdir()
    collected = []

    def run_stream():
        stream = spark.readStream.schema(EVENT_SCHEMA).parquet(
            str(src) + "/*"
        )
        q = enrich_stream(
            stream, "event_timestamp", specs,
            sink=lambda df, _b: collected.extend(df.collect()),
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
        q.processAllAvailable()
        q.stop()

    spark.createDataFrame(
        [Row(event_id=1, driver_id=1,
             event_timestamp=ts("2021-04-12 10:59:00"))],
        EVENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "b1"))
    run_stream()
    # newer feature row lands between batches
    spark.createDataFrame(
        [Row(driver_id=1, datetime=ts("2021-04-12 10:30:00"),
             created=ts("2021-04-12 10:30:00"), conv_rate=0.9)]
    ).write.mode("append").parquet(str(fdir))
    spark.createDataFrame(
        [Row(event_id=2, driver_id=1,
             event_timestamp=ts("2021-04-12 10:59:00"))],
        EVENT_SCHEMA,
    ).coalesce(1).write.parquet(str(src / "b2"))
    run_stream()
    by_id = {r["event_id"]: r["conv_rate"] for r in collected}
    assert by_id == {1: 0.1, 2: 0.9}


def test_online_snapshot_enrichment(spark, tmp_path):
    """Enrich a stream against the materialized ONLINE snapshot: the
    serving model evaluated at event time — matches iff the latest
    materialized value predates the event and is inside ttl."""
    from feast_spark.online.store import OnlineStore

    store = OnlineStore(str(tmp_path / "online"))
    store.online_write_batch(
        spark, "p", "drv", _feature_rows(spark),
        ["driver_id"], "datetime", "created", ["conv_rate"],
    )
    src = tmp_path / "in"
    src.mkdir()
    collected = []
    events = [
        # snapshot row for driver 1 is (10:00, created 11:00, 0.25)
        Row(event_id=1, driver_id=1,
            event_timestamp=ts("2021-04-12 10:59:42")),  # -> 0.25
        Row(event_id=2, driver_id=1,
            event_timestamp=ts("2021-04-12 09:30:00")),  # before snapshot ts -> None
        Row(event_id=3, driver_id=2,
            event_timestamp=ts("2021-04-12 08:12:10")),  # outside ttl -> None
    ]
    spark.createDataFrame(events, EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src) + "/*")
    q = enrich_stream(
        stream,
        "event_timestamp",
        lambda: online_snapshot_spec(
            spark, store, "p", "drv", ["driver_id"], ["conv_rate"],
            ttl=timedelta(hours=2),
        ),
        sink=lambda df, _b: collected.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    by_id = {r["event_id"]: r["conv_rate"] for r in collected}
    assert by_id == {1: 0.25, 2: None, 3: None}


def test_feature_store_enrich_stream_matches_batch(spark, tmp_path):
    """FeatureStore.enrich_stream resolves the same feature refs as
    get_historical_features and produces identical rows for identical
    timestamps (the same as-of plan rule, prefix naming contract)."""
    import uuid

    from feast_spark import (
        Entity, FeatureStore, FeatureView, RepoConfig, SparkSqlSource,
        ValueType,
    )

    tf = f"enrich_feat_{uuid.uuid4().hex[:8]}"
    _feature_rows(spark).write.saveAsTable(tf)
    st = FeatureStore(
        spark,
        RepoConfig(
            project="enrich_p",
            registry_path=str(tmp_path / "reg.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    st.apply(
        [
            Entity(name="driver", join_key="driver_id",
                   value_type=ValueType.INT64),
            FeatureView(
                name="drv",
                entities=["driver"],
                ttl=timedelta(hours=2),
                batch_source=SparkSqlSource(
                    table=tf,
                    event_timestamp_column="datetime",
                    created_timestamp_column="created",
                ),
            ),
        ]
    )
    src = tmp_path / "in"
    src.mkdir()
    events = _events(0)
    spark.createDataFrame(events, EVENT_SCHEMA).coalesce(1).write.parquet(
        str(src / "b1")
    )
    collected = []
    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(str(src) + "/*")
    q = st.enrich_stream(
        stream,
        ["drv:conv_rate"],
        sink=lambda df, _b: collected.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()

    batch = st.get_historical_features(
        spark.createDataFrame(events, EVENT_SCHEMA), ["drv:conv_rate"]
    ).to_spark_df()
    want = sorted(
        (r["event_id"], r["conv_rate"]) for r in batch.collect()
    )
    got = sorted((r["event_id"], r["conv_rate"]) for r in collected)
    assert got == want and len(got) == 3
    spark.sql(f"DROP TABLE IF EXISTS {tf}")


def test_enrich_stream_applies_odfvs(spark, tmp_path):
    """On-demand feature views run per micro-batch in enrich_stream,
    matching the batch path column-for-column (auto-fetched sources
    dropped from the output)."""
    from pyspark.sql import functions as F

    from feast_spark import (
        Entity, Feature, FeatureStore, FeatureView, FileSource,
        OnDemandFeatureView, RepoConfig, ValueType,
    )

    now = ts("2021-06-01 12:00:00")
    src_path = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [
            Row(driver_id=1, value=0.1, ts=now - timedelta(hours=4)),
            Row(driver_id=2, value=0.5, ts=now - timedelta(hours=2)),
        ]
    ).write.parquet(src_path)
    st = FeatureStore(
        spark,
        RepoConfig(
            project="odfv_stream",
            registry_path=str(tmp_path / "reg.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    st.apply(
        [
            Entity(name="driver", join_key="driver_id",
                   value_type=ValueType.INT64),
            FeatureView(
                name="stats", entities=["driver"], ttl=timedelta(days=5),
                batch_source=FileSource(
                    path=src_path, event_timestamp_column="ts"
                ),
            ),
            OnDemandFeatureView(
                name="derived",
                sources=["stats:value"],
                features=[Feature("value_x10", ValueType.DOUBLE)],
                transform=lambda df: df.withColumn(
                    "value_x10", F.col("value") * 10.0
                ),
            ),
        ]
    )
    src = tmp_path / "in"
    src.mkdir()
    ent_schema = "driver_id long, event_timestamp timestamp"
    spark.createDataFrame(
        [Row(driver_id=i, event_timestamp=now) for i in (1, 2, 3)],
        ent_schema,
    ).coalesce(1).write.parquet(str(src / "b1"))
    collected = []
    stream = spark.readStream.schema(ent_schema).parquet(str(src) + "/*")
    q = st.enrich_stream(
        stream, ["derived:value_x10"],
        sink=lambda df, _b: collected.extend(df.collect()),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.processAllAvailable()
    q.stop()
    assert collected and set(collected[0].asDict()) == {
        "driver_id", "event_timestamp", "value_x10"
    }
    vals = {r["driver_id"]: r["value_x10"] for r in collected}
    assert vals[1] == pytest.approx(1.0)
    assert vals[2] == pytest.approx(5.0)
    assert vals[3] is None
