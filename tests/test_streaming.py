"""Streaming ingestion test: file-based stream source (Kafka stand-in),
foreachBatch -> online upsert; asserts batch/stream consistency and
late-data handling (order-insensitivity)."""

import json
import time
from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_spark import Entity, FeatureView, FileSource, ValueType
from feast_spark.online.store import OnlineStore, encode_request_keys
from feast_spark.streaming.ingest import parse_kafka_stream, stream_to_online
from feast_spark.data_source import KafkaSource


SCHEMA = T.StructType(
    [
        T.StructField("driver_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("created", T.TimestampType()),
        T.StructField("conv_rate", T.DoubleType()),
    ]
)


def ts(s):
    return datetime.fromisoformat(s)


def _view():
    from feast_spark.feature import Feature

    return FeatureView(
        name="driver_stream",
        entities=["driver_id"],
        ttl=timedelta(days=30),
        features=[Feature("conv_rate", ValueType.DOUBLE)],
        batch_source=FileSource(path="unused", event_timestamp_column="ts"),
    )


def test_stream_to_online_upsert_and_late_data(spark, tmp_path):
    src = tmp_path / "stream_in"
    src.mkdir()
    store = OnlineStore(str(tmp_path / "online"))
    view = _view()

    def write_batch(name, rows):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    def run_stream():
        stream = spark.readStream.schema(SCHEMA).option(
            "maxFilesPerTrigger", "1"
        ).parquet(str(src) + "/*")
        q = stream_to_online(
            stream,
            store,
            "t",
            view,
            join_keys=["driver_id"],
            ts_col="ts",
            created_col="created",
            checkpoint_dir=str(tmp_path / f"ckpt_{time.time_ns()}"),
        )
        q.awaitTermination(120)

    t0 = ts("2021-04-12 10:00:00")
    write_batch("b1", [
        Row(driver_id=1, ts=t0, created=t0, conv_rate=0.5),
        Row(driver_id=2, ts=t0, created=t0, conv_rate=0.6),
    ])
    run_stream()

    req = encode_request_keys([{"driver_id": 1}, {"driver_id": 2}], ["driver_id"])
    got = store.online_read("t", "driver_stream", req, ["conv_rate"])
    vals = {i: r["conv_rate"] for i, r in zip([1, 2], got)}
    assert vals == {1: 0.5, 2: 0.6}

    # newer event for driver 1, late (older) event for driver 2 -> late one ignored
    write_batch("b2", [
        Row(driver_id=1, ts=t0 + timedelta(hours=1), created=t0, conv_rate=0.9),
        Row(driver_id=2, ts=t0 - timedelta(hours=5), created=t0, conv_rate=0.1),
    ])
    run_stream()
    got = store.online_read("t", "driver_stream", req, ["conv_rate"])
    vals = {i: r["conv_rate"] for i, r in zip([1, 2], got)}
    assert vals == {1: 0.9, 2: 0.6}, "late event must not overwrite newer value"
    # the sink stamps its micro-batch watermark into the snapshot
    # manifest, so a provenance snapshot can record "ingested through
    # epoch E" for a view fed by a query that never stops (r15)
    wm = store.table("t", "driver_stream").current_meta().get("stream_epoch")
    assert isinstance(wm, int) and wm >= 0


def test_parse_kafka_json_payload(spark):
    source = KafkaSource(
        topic="x",
        message_format="json",
        schema_json=json.dumps(SCHEMA.jsonValue()),
        field_mapping={"conv_rate": "rate"},
    )
    raw = spark.createDataFrame(
        [
            Row(value=json.dumps(
                {"driver_id": 7, "ts": "2021-04-12T10:00:00", "created": "2021-04-12T10:00:00", "conv_rate": 0.7}
            ).encode())
        ]
    )
    parsed = parse_kafka_stream(raw, source)
    row = parsed.collect()[0]
    assert row["driver_id"] == 7
    assert row["rate"] == 0.7
    assert "conv_rate" not in parsed.columns


AVRO_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "DriverEvent",
        "fields": [
            {"name": "driver_id", "type": "long"},
            {
                "name": "ts",
                "type": {"type": "long", "logicalType": "timestamp-micros"},
            },
            {"name": "conv_rate", "type": ["null", "double"]},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
            {"name": "label", "type": ["null", "string"]},
        ],
    }
)


def test_avro_codec_roundtrip_pure_python():
    """Encoder/decoder agree on every supported shape (the codec is the
    spec's binary encoding, so any conformant writer interoperates)."""
    from datetime import datetime

    from feast_spark.functions.avro_codec import Reader, compile_decoder, encode

    rec = {
        "driver_id": 41,
        "ts": datetime(2021, 4, 12, 10, 0, 0),
        "conv_rate": 0.75,
        "tags": ["a", "b"],
        "label": None,
    }
    blob = encode(AVRO_SCHEMA, rec)
    out = compile_decoder(json.loads(AVRO_SCHEMA))(Reader(blob))
    assert out == rec
    # negative/large zigzag varints
    s2 = json.dumps({"type": "record", "name": "N", "fields": [
        {"name": "v", "type": "long"}]})
    for v in (0, -1, 1, -64, 63, 64, -65, 2**40, -(2**40)):
        dec = compile_decoder(json.loads(s2))(Reader(encode(s2, {"v": v})))
        assert dec == {"v": v}


def test_parse_kafka_avro_payload(spark):
    """Avro-encoded kafka values decode through the Arrow-batched
    pandas UDF and match the JSON-path output contract (columns, field
    mapping, nullability)."""
    from datetime import datetime

    from feast_spark.functions.avro_codec import encode

    source = KafkaSource(
        topic="x",
        message_format="avro",
        schema_json=AVRO_SCHEMA,
        field_mapping={"conv_rate": "rate"},
    )
    rows = [
        {"driver_id": 1, "ts": datetime(2021, 4, 12, 10, 0, 0),
         "conv_rate": 0.9, "tags": ["x"], "label": "ok"},
        {"driver_id": 2, "ts": datetime(2021, 4, 12, 11, 0, 0),
         "conv_rate": None, "tags": [], "label": None},
    ]
    raw = spark.createDataFrame(
        [Row(value=encode(AVRO_SCHEMA, r)) for r in rows]
    )
    parsed = parse_kafka_stream(raw, source)
    got = {r["driver_id"]: r for r in parsed.collect()}
    assert set(parsed.columns) == {"driver_id", "ts", "rate", "tags", "label"}
    assert got[1]["rate"] == 0.9
    assert got[1]["tags"] == ["x"]
    assert got[1]["label"] == "ok"
    assert got[1]["ts"] == datetime(2021, 4, 12, 10, 0, 0)
    assert got[2]["rate"] is None
    assert got[2]["label"] is None
    assert got[2]["tags"] == []


def test_stream_to_online_sqlite_backend(spark, tmp_path):
    """stream_to_online is backend-agnostic: the same foreachBatch
    contract lands in the SQLite KV (late data still loses)."""
    import time

    from feast_spark.online.kv import SqliteOnlineStore

    src = tmp_path / "stream_in"
    src.mkdir()
    store = SqliteOnlineStore(str(tmp_path / "online.db"))
    view = _view()
    t0 = ts("2021-04-12 10:00:00")
    spark.createDataFrame(
        [
            Row(driver_id=1, ts=t0, created=t0, conv_rate=0.5),
            Row(driver_id=1, ts=t0 - timedelta(hours=2), created=t0,
                conv_rate=0.1),  # older in the same batch: collapsed away
        ],
        SCHEMA,
    ).coalesce(1).write.parquet(str(src / "b1"))
    stream = spark.readStream.schema(SCHEMA).parquet(str(src) + "/*")
    q = stream_to_online(
        stream, store, "t", view,
        join_keys=["driver_id"], ts_col="ts", created_col="created",
        checkpoint_dir=str(tmp_path / f"ckpt_{time.time_ns()}"),
    )
    q.awaitTermination(120)
    got = store.online_read(
        "t", "driver_stream",
        encode_request_keys([{"driver_id": 1}], ["driver_id"]), ["conv_rate"]
    )[0]
    assert got is not None  # found
    assert got["conv_rate"] == 0.5


def test_parse_kinesis_payload_all_formats(spark):
    """S4: the Kinesis payload pipeline is the Kafka one over the
    connector's `data` column — json, avro and proto all decode, field
    mapping applies."""
    import json as _json

    from feast_spark.data_source import KinesisSource
    from feast_spark.functions.avro_codec import encode as avro_encode
    from feast_spark.functions.proto_codec import encode_message
    from feast_spark.streaming.ingest import parse_kinesis_stream

    def kinesis_row(payload):
        return Row(
            data=payload,
            streamName="s",
            partitionKey="pk",
            sequenceNumber="1",
        )

    # json
    src = KinesisSource(
        stream_name="s",
        record_format="json",
        schema_json=T.StructType(
            [T.StructField("driver_id", T.LongType()),
             T.StructField("rate", T.DoubleType())]
        ).json(),
        field_mapping={"rate": "conv_rate"},
    )
    raw = spark.createDataFrame(
        [kinesis_row(_json.dumps({"driver_id": 5, "rate": 0.25}).encode())]
    )
    got = parse_kinesis_stream(raw, src).collect()[0]
    assert (got["driver_id"], got["conv_rate"]) == (5, 0.25)

    # avro
    avro_schema = _json.dumps(
        {"type": "record", "name": "R", "fields": [
            {"name": "driver_id", "type": "long"},
            {"name": "rate", "type": "double"}]}
    )
    src_a = KinesisSource(stream_name="s", record_format="avro",
                          schema_json=avro_schema)
    raw_a = spark.createDataFrame(
        [kinesis_row(avro_encode(avro_schema, {"driver_id": 6, "rate": 0.5}))]
    )
    got_a = parse_kinesis_stream(raw_a, src_a).collect()[0]
    assert (got_a["driver_id"], got_a["rate"]) == (6, 0.5)

    # proto
    desc = {"fields": [
        {"number": 1, "name": "driver_id", "type": "int64"},
        {"number": 2, "name": "rate", "type": "double"}]}
    src_p = KinesisSource(stream_name="s", record_format="proto",
                          schema_json=_json.dumps(desc))
    raw_p = spark.createDataFrame(
        [kinesis_row(encode_message(desc, {"driver_id": 7, "rate": 0.75}))]
    )
    got_p = parse_kinesis_stream(raw_p, src_p).collect()[0]
    assert (got_p["driver_id"], got_p["rate"]) == (7, 0.75)


def test_facade_start_stream_ingestion(spark, tmp_path):
    """One-call stream materialization from the facade: view with a
    declared KafkaSource(json), raw stream injected (file source with a
    kafka-shaped `value` column), values land in the online store."""
    import json as _json
    import time

    from feast_spark import Entity, FeatureStore, RepoConfig

    payload_schema = T.StructType(
        [
            T.StructField("driver_id", T.LongType()),
            T.StructField("event_ts", T.TimestampType()),
            T.StructField("conv_rate", T.DoubleType()),
        ]
    ).json()
    stream_src = KafkaSource(
        topic="drivers",
        message_format="json",
        schema_json=payload_schema,
        event_timestamp_column="ts",
        field_mapping={"event_ts": "ts"},
    )
    view = _view()
    view.name = "facade_stream_fv"
    view.stream_source = stream_src

    st = FeatureStore(
        spark,
        RepoConfig(
            project="t",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    st.apply(
        [Entity(name="driver_id", join_key="driver_id",
                value_type=ValueType.INT64)]
    )
    st.registry.apply_feature_view(view)
    st.registry.commit()

    src = tmp_path / "kafka_sim"
    src.mkdir()
    msgs = [
        {"driver_id": 1, "event_ts": "2021-04-12T10:00:00", "conv_rate": 0.5},
        {"driver_id": 1, "event_ts": "2021-04-12T11:00:00", "conv_rate": 0.9},
        {"driver_id": 2, "event_ts": "2021-04-12T10:00:00", "conv_rate": 0.2},
    ]
    spark.createDataFrame(
        [Row(value=_json.dumps(m).encode()) for m in msgs]
    ).coalesce(1).write.parquet(str(src / "b1"))
    raw = spark.readStream.schema("value binary").parquet(str(src) + "/*")
    q = st.start_stream_ingestion(
        "facade_stream_fv",
        checkpoint_dir=str(tmp_path / f"ckpt_{time.time_ns()}"),
        trigger_available_now=True,
        raw_stream=raw,
    )
    q.awaitTermination(120)
    resp = st.get_online_features(
        ["facade_stream_fv:conv_rate"], [{"driver_id": 1}, {"driver_id": 2}]
    )
    assert resp["conv_rate"][0] == 0.9  # latest-per-key won
    assert resp["conv_rate"][1] == 0.2
