"""ST2 — stream-to-online ingestion with Structured Streaming.

The reference only *declares* stream sources (data_source.py:380-547) and
delegates execution to externally-launched Spark jobs
(docs/reference/feast-and-spark.md).  Here the capability is native:

    readStream -> parse payload -> watermark(ttl) -> foreachBatch:
        online upsert (the backend keeps the newest row per key)

Semantics are identical to batch ``materialize`` (A1 + created_ts
tie-break + newest-wins upsert), so ingestion order does not matter and
the offline/online consistency contract holds for late or reordered
events — the same property the reference gets implicitly from
event-time + created_ts (SURVEY §2 ST2 row).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from feast_spark.data_source import KafkaSource
from feast_spark.feature_view import FeatureView
from feast_spark.online.store import OnlineStore


def decode_payload(
    raw: DataFrame, value_col: str, fmt: str, schema_json: str
) -> DataFrame:
    """Shared payload decode for every stream transport.

    json payloads parse with from_json against the declared Spark
    schema (``schema_json`` = StructType JSON); avro payloads
    (``schema_json`` = Avro record schema JSON, the reference's
    AvroFormat, data_format.py:69-133) decode with the JVM
    ``from_avro`` when the spark-avro SQL module is on the classpath,
    else with feast_spark's pure-Python Avro binary decoder (an
    Arrow-batched pandas UDF — same output contract, stream-capable);
    proto payloads (ProtoFormat, data_format.py:116-133 — here
    ``schema_json`` is the JSON field descriptor of
    feast_spark.functions.proto_codec) decode with the pure-Python
    wire-format codec.
    """
    if fmt == "json":
        schema = StructType.fromJson(__import__("json").loads(schema_json))
        return raw.select(
            F.from_json(F.col(value_col).cast("string"), schema).alias("j")
        ).select("j.*")
    if fmt == "avro":
        try:  # JVM fast path if the spark-avro module is provisioned
            from pyspark.sql.avro.functions import from_avro as jvm_from_avro

            decoded = jvm_from_avro(F.col(value_col), schema_json)
            parsed = raw.select(decoded.alias("j")).select("j.*")
            parsed.schema  # force analysis: raises without the module
            return parsed
        except Exception:
            from feast_spark.functions.avro_codec import decode_avro

            return decode_avro(raw.select(value_col), value_col, schema_json)
    if fmt == "proto":
        from feast_spark.functions.proto_codec import decode_proto

        return decode_proto(raw.select(value_col), value_col, schema_json)
    raise ValueError(f"unsupported message format {fmt!r}")


def parse_kafka_stream(raw: DataFrame, source: KafkaSource) -> DataFrame:
    """kafka key/value/timestamp -> payload columns."""
    parsed = decode_payload(
        raw, "value", source.message_format, source.schema_json
    )
    return source.apply_field_mapping(parsed)


def parse_kinesis_stream(raw: DataFrame, source) -> DataFrame:
    """Kinesis connector output -> payload columns (S4,
    data_source.py:465-547).  Every Spark Kinesis connector
    (spark-sql-kinesis, kinesis-asl) lands records in a ``data``
    binary column (plus streamName/partitionKey/sequenceNumber/
    approximateArrivalTimestamp metadata); the payload pipeline is the
    Kafka one over that column, so json/avro/proto all work."""
    parsed = decode_payload(
        raw, "data", source.record_format, source.schema_json
    )
    return source.apply_field_mapping(parsed)


def stream_to_online(
    stream_df: DataFrame,
    store: OnlineStore,
    project: str,
    view: FeatureView,
    join_keys: list[str],
    ts_col: str,
    created_col: str | None = None,
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
):
    """Start the stream-materialization query.  Returns the
    StreamingQuery handle; call ``.awaitTermination()`` on it.

    Watermarking: the backend's newest-wins upsert makes the sink
    idempotent and order-insensitive, so a watermark is not needed for
    correctness — only to bound state if a stateful op is added upstream.
    """
    feature_cols = [f for f in view.feature_names]
    if view.ttl is not None:
        stream_df = stream_df.withWatermark(
            ts_col, f"{int(view.ttl.total_seconds())} seconds"
        )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        # every backend's online_write_batch keeps the newest
        # (event_ts, created_ts) row per key, the batch's own included
        store.online_write_batch(
            batch_df.sparkSession,
            project,
            view.name,
            batch_df,
            join_keys,
            ts_col,
            created_col,
            feature_cols,
            # watermark stamp, like the index co-sinks: a provenance
            # snapshot can then record "ingested through epoch E" for a
            # view fed by a query that never stops (the upsert itself
            # is idempotent, so this is a coordinate, not a dedup gate)
            meta={"stream_epoch": batch_id},
        )

    writer = stream_df.writeStream.foreachBatch(process_batch).outputMode("append")
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
