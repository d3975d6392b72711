from datetime import date, datetime, timedelta
from decimal import Decimal

import pytest
from pyspark.sql import Row

from feast_spark.online.store import encode_entity_key, encode_request_keys


def test_staleness_profile(spark, tmp_path):
    """Serving-freshness quantiles over the snapshot: deterministic
    given an explicit now; empty/missing views report zero keys."""
    from datetime import datetime

    from pyspark.sql import Row

    from feast_spark.online.store import OnlineStore

    store = OnlineStore(str(tmp_path / "os"))
    df = spark.createDataFrame(
        [Row(k=i, v=float(i), ts=datetime(2024, 1, 1, i)) for i in range(10)]
    )
    store.online_write_batch(spark, "p", "v1", df, ["k"], "ts", None, ["v"])
    prof = store.staleness(spark, "p", "v1", datetime(2024, 1, 2))
    assert prof["n_keys"] == 10
    # ages span [15h, 24h]; quantiles ordered and bounded
    assert 15 * 3600 <= prof["age_p50_s"] <= prof["age_p90_s"]
    assert prof["age_p90_s"] <= prof["age_p99_s"] <= prof["age_max_s"]
    assert prof["age_max_s"] == 24 * 3600
    empty = store.staleness(spark, "p", "missing", datetime(2024, 1, 2))
    assert empty == {
        "n_keys": 0, "age_p50_s": None, "age_p90_s": None,
        "age_p99_s": None, "age_max_s": None,
    }


# -- driver-side read contract ---------------------------------------------

_KEY_ROWS = [
    [{"a": 1}, {"a": -42}, {"a": 2**40}],
    [{"a": "x|y=z"}, {"a": ""}],
    [{"a": True}, {"a": False}],
    [{"a": 0.1}, {"a": 1e7}, {"a": 1e-4}, {"a": 123456789.0}, {"a": -2.5}],
    [{"a": datetime(2024, 1, 2, 3, 4, 5)},
     {"a": datetime(2024, 1, 2, 3, 4, 5, 120)}],
    [{"a": date(2024, 2, 29)}],
    # several keys, sorted by name; a null part is dropped like concat_ws
    [{"b": "x", "a": 1}, {"b": "y", "a": None}, {"b": None, "a": 2}],
]


@pytest.mark.parametrize("rows", _KEY_ROWS, ids=lambda r: type(r[0]["a"]).__name__)
def test_encode_request_keys_matches_spark_encoding(spark, rows):
    """The Python request-key encoder agrees with the Spark encoder that
    keyed every stored row, value for value."""
    join_keys = sorted(rows[0], reverse=True)  # declaration order is moot
    want = [
        r["k"]
        for r in spark.createDataFrame(rows)
        .select(encode_entity_key(join_keys).alias("k"))
        .collect()
    ]
    assert encode_request_keys(rows, join_keys) == want


@pytest.mark.parametrize("value", [Decimal("1.5"), b"ab", [1], {"x": 1}])
def test_encode_request_keys_rejects_types_without_exact_twin(value):
    with pytest.raises(TypeError, match="'user_id'"):
        encode_request_keys([{"user_id": value}], ["user_id"])


def test_online_read_values_match_spark_collect(spark, tmp_path):
    """Hits read with pyarrow carry the Python values a Spark collect of
    the snapshot gives: naive-UTC timestamps, structs as Row, maps as
    dict, arrays, dates, decimals, binary."""
    from feast_spark.online.store import OnlineStore

    store = OnlineStore(str(tmp_path))
    feats = ["arr", "st", "m", "d", "dec", "bin", "t2"]
    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 30, 15, 123456), [1.5, None],
          (2, "x"), {"a": 1}, date(2024, 2, 29), Decimal("1.25"),
          bytearray(b"\x00\x01"), datetime(2023, 5, 6, 7, 8, 9))],
        "k long, ts timestamp, arr array<double>, st struct<i:int,s:string>, "
        "m map<string,int>, d date, dec decimal(10,2), bin binary, "
        "t2 timestamp_ntz",
    )
    store.online_write_batch(spark, "p", "v", df, ["k"], "ts", None, feats)
    got = store.online_read(
        "p", "v", encode_request_keys([{"k": 1}, {"k": 2}], ["k"]), feats
    )
    want = spark.read.parquet(store.table("p", "v").current_path()).collect()[0]
    assert got[1] is None
    assert got[0] == {f: want[f] for f in ["__event_ts", *feats]}
    assert isinstance(got[0]["st"], Row) and got[0]["st"].s == "x"


def _serving_store(spark, tmp_path, kind="parquet", n=20):
    """A store with one view ``fv`` (``value`` = driver_id at day 1)
    materialized through 2024-01-02."""
    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
    )

    src = tmp_path / "src"
    spark.createDataFrame(
        [Row(driver_id=i, ts=datetime(2024, 1, 1), value=float(i))
         for i in range(1, n + 1)]
    ).write.parquet(str(src / "d1"))
    path = tmp_path / ("online.db" if kind == "sqlite" else "online")
    st = FeatureStore(spark, RepoConfig(
        project="t",
        registry_path=str(tmp_path / "registry.json"),
        online_store_path=str(path),
        online_store_type=kind,
    ))
    st.apply([
        Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64),
        FeatureView(name="fv", entities=["driver"], ttl=timedelta(days=5),
                    batch_source=FileSource(path=str(src / "*"),
                                            event_timestamp_column="ts")),
    ])
    st.materialize(datetime(2023, 12, 31), datetime(2024, 1, 2))
    return st, src


@pytest.mark.parametrize("kind", ["parquet", "sqlite"])
def test_get_online_features_empty_request(spark, tmp_path, kind):
    st, _ = _serving_store(spark, tmp_path, kind)
    assert st.get_online_features(["fv:value"], []) == {
        "value": [], "__statuses": {"value": []},
    }
    assert st.get_online_features(
        ["fv:value"], [], full_field_statuses=True
    ) == {"value": [], "__statuses": {"value": []}}


@pytest.mark.parametrize("kind,n", [("parquet", 20), ("sqlite", 2000)])
def test_concurrent_serving_threads_see_whole_snapshots(spark, tmp_path, kind, n):
    """8 serving threads read while one materialize commits new values
    for every key: each response is wholly the old snapshot or wholly
    the new one, and no thread raises.  The sqlite case asks for more
    keys than one ``SELECT ... IN`` chunk (500) and than one upsert
    chunk (1000), so a commit could land between a request's chunks."""
    import sys
    import threading

    st, src = _serving_store(spark, tmp_path, kind, n=n)
    rows = [{"driver_id": i} for i in range(1, n + 1)]
    before = [float(i) for i in range(1, n + 1)]
    after = [float(i + 100) for i in range(1, n + 1)]
    assert st.get_online_features(["fv:value"], rows)["value"] == before
    spark.createDataFrame(
        [Row(driver_id=i, ts=datetime(2024, 1, 3), value=float(i + 100))
         for i in range(1, n + 1)]
    ).write.parquet(str(src / "d3"))

    committed = threading.Event()
    seen: list[list] = []
    errors: list[BaseException] = []

    def serve():
        try:
            while True:
                done = committed.is_set()
                seen.append(st.get_online_features(["fv:value"], rows)["value"])
                if done:  # one full request after the commit landed
                    return
        except BaseException as e:  # surfaced by the main thread
            errors.append(e)

    threads = [threading.Thread(target=serve) for _ in range(8)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        st.materialize(datetime(2024, 1, 2), datetime(2024, 1, 4))
        committed.set()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert all(v in (before, after) for v in seen)
    assert seen.count(after) >= len(threads)
