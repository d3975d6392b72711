"""Type-system round-trips, entity key encoding, source variants, and
entity_df input forms (pandas / SQL string)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_spark import Entity, FeatureView, FileSource, ValueType
from feast_spark.data_source import DataSource, KafkaSource, SparkSqlSource
from feast_spark.feature_view import FeatureTable
from feast_spark.online.store import encode_entity_key
from feast_spark.types import spark_type_to_value_type, value_type_to_spark


@pytest.mark.parametrize(
    "vt,expected",
    [
        (ValueType.BYTES, T.BinaryType()),
        (ValueType.STRING, T.StringType()),
        (ValueType.INT32, T.IntegerType()),
        (ValueType.INT64, T.LongType()),
        (ValueType.DOUBLE, T.DoubleType()),
        (ValueType.FLOAT, T.FloatType()),
        (ValueType.BOOL, T.BooleanType()),
        (ValueType.UNIX_TIMESTAMP, T.LongType()),
        (ValueType.DOUBLE_LIST, T.ArrayType(T.DoubleType())),
        (ValueType.STRING_LIST, T.ArrayType(T.StringType())),
    ],
)
def test_value_type_to_spark(vt, expected):
    assert value_type_to_spark(vt) == expected


def test_spark_type_inference_roundtrip():
    for vt in ValueType:
        if vt is ValueType.UNKNOWN:
            continue
        spark_t = value_type_to_spark(vt)
        back = spark_type_to_value_type(spark_t)
        # UNIX_TIMESTAMP maps to LongType which reads back as INT64
        if vt in (ValueType.UNIX_TIMESTAMP, ValueType.UNIX_TIMESTAMP_LIST):
            assert back.element_type in (ValueType.INT64, ValueType.UNIX_TIMESTAMP)
        else:
            assert back == vt


def test_nested_arrays_rejected():
    with pytest.raises(ValueError, match="one level deep"):
        spark_type_to_value_type(T.ArrayType(T.ArrayType(T.LongType())))


def test_entity_key_types_enforced():
    with pytest.raises(ValueError):
        Entity(name="bad", value_type=ValueType.DOUBLE)
    Entity(name="ok", value_type=ValueType.INT64)


def test_entity_key_encoding_order_insensitive(spark):
    """key_encoding_utils.py:22-48 parity: sorted join keys => the same
    physical key regardless of declaration order."""
    df = spark.createDataFrame([Row(a=1, b="x")])
    k1 = df.select(encode_entity_key(["a", "b"]).alias("k")).collect()[0]["k"]
    k2 = df.select(encode_entity_key(["b", "a"]).alias("k")).collect()[0]["k"]
    assert k1 == k2 == "a=1|b=x"


def test_feature_table_legacy_alias():
    ft = FeatureTable(
        name="legacy", entities=["driver"], max_age=timedelta(hours=2)
    )
    assert isinstance(ft, FeatureView)
    assert ft.ttl == timedelta(hours=2)


def test_data_source_serialization_roundtrip():
    for src in [
        FileSource(
            path="/x.parquet",
            event_timestamp_column="ts",
            created_timestamp_column="c",
            field_mapping={"a": "b"},
            date_partition_column="d",
        ),
        SparkSqlSource(table="t", event_timestamp_column="ts"),
        KafkaSource(bootstrap_servers="k:9092", topic="t", message_format="json"),
    ]:
        back = DataSource.from_dict(src.to_dict())
        assert back == src


def test_spark_sql_source(spark):
    spark.createDataFrame([Row(k=1, v=2.0)]).createOrReplaceTempView("srctab")
    assert SparkSqlSource(table="srctab").load(spark).collect()[0]["v"] == 2.0
    assert (
        SparkSqlSource(query="SELECT 42 AS n").load(spark).collect()[0]["n"] == 42
    )


def test_file_source_memoizes_unchanged_parquet(spark, tmp_path):
    """A repeat load of an unchanged parquet directory runs no Spark
    job (no schema inference, no listing); appending a file changes
    the memo key, so the next load sees the new rows.  file:// URIs
    and globs take the plain reader and still load."""
    import uuid

    src = str(tmp_path / "src")
    spark.createDataFrame([Row(k=1, v=1.0)]).write.parquet(src)
    source = FileSource(path=src)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    first, second = f"first-{uuid.uuid4()}", f"second-{uuid.uuid4()}"
    try:
        sc.setJobGroup(first, "first load")
        source.load(spark)
        sc.setJobGroup(second, "repeat load")
        again = source.load(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(first)
    assert tracker.getJobIdsForGroup(second) == []
    assert again.count() == 1

    spark.createDataFrame([Row(k=2, v=2.0)]).write.mode("append").parquet(src)
    assert sorted(r["k"] for r in source.load(spark).collect()) == [1, 2]

    assert FileSource(path=f"file://{src}").load(spark).count() == 2
    assert FileSource(path=f"{src}/*.parquet").load(spark).count() == 2


def test_entity_df_as_pandas_and_sql(spark, tmp_path):
    import pandas as pd

    from feast_spark import FeatureStore, RepoConfig

    src_path = str(tmp_path / "f.parquet")
    spark.createDataFrame(
        [Row(k=1, ts=datetime(2024, 1, 1), v=7.0)]
    ).write.parquet(src_path)
    store = FeatureStore(
        spark,
        RepoConfig(
            registry_path=str(tmp_path / "r.json"),
            online_store_path=str(tmp_path / "o"),
        ),
    )
    store.apply(
        [
            Entity(name="k", value_type=ValueType.INT64),
            FeatureView(
                name="fv",
                entities=["k"],
                batch_source=FileSource(path=src_path, event_timestamp_column="ts"),
            ),
        ]
    )
    pdf = pd.DataFrame({"k": [1], "event_timestamp": [datetime(2024, 6, 1)]})
    out = store.get_historical_features(pdf, ["fv:v"]).to_df()
    assert out["v"].iloc[0] == 7.0

    spark.createDataFrame(pdf).createOrReplaceTempView("entity_view")
    out2 = store.get_historical_features(
        "SELECT * FROM entity_view", ["fv:v"]
    ).to_df()
    assert out2["v"].iloc[0] == 7.0
