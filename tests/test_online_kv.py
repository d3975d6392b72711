"""SQLite / Redis online stores: newest-wins upsert, typed payload
roundtrip, multiget point lookups, and end-to-end offline/online
consistency through the FeatureStore facade (the reference's
test_online_retrieval + test_offline_online_store_consistency patterns
against infra/online_stores/{sqlite,redis}.py)."""

import math
from datetime import date, datetime, timedelta
from decimal import Decimal

import pytest
from pyspark.sql import Row

from feast_spark.online.kv import RedisOnlineStore, SqliteOnlineStore
from feast_spark.online.store import encode_request_keys


def _ts(s):
    return datetime.fromisoformat(s)


class FakeRedis:
    """Dict-backed redis-py subset: pipeline/hset/hget/get/set."""

    def __init__(self):
        self.kv: dict = {}
        self.hashes: dict = {}

    def set(self, k, v):
        self.kv[k] = v

    def get(self, k):
        return self.kv.get(k)

    def pipeline(self):
        return FakePipeline(self)


class FakePipeline:
    def __init__(self, r):
        self.r = r
        self.ops = []

    def hget(self, k, f):
        self.ops.append(("hget", k, f))
        return self

    def hset(self, k, mapping):
        self.ops.append(("hset", k, mapping))
        return self

    def execute(self):
        out = []
        for op in self.ops:
            if op[0] == "hget":
                out.append(self.r.hashes.get(op[1], {}).get(op[2]))
            else:
                self.r.hashes.setdefault(op[1], {}).update(op[2])
                out.append(True)
        self.ops = []
        return out


def _mk_store(kind, tmp_path):
    if kind == "sqlite":
        return SqliteOnlineStore(str(tmp_path / "online.db"))
    return RedisOnlineStore(FakeRedis())


def _write(store, spark, rows, features=("value",)):
    df = spark.createDataFrame(rows)
    store.online_write_batch(
        spark, "p", "v", df, ["driver_id"], "ts", None, list(features)
    )


def _read(store, spark, ids, features=("value",)):
    keys = encode_request_keys([{"driver_id": i} for i in ids], ["driver_id"])
    out = store.online_read("p", "v", keys, list(features))
    return {
        i: {**dict.fromkeys(features), **(r or {}), "__found": r is not None}
        for i, r in zip(ids, out)
    }


@pytest.mark.parametrize("kind", ["sqlite", "redis"])
def test_newest_wins_upsert(spark, tmp_path, kind):
    store = _mk_store(kind, tmp_path)
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-02T00:00"), value=2.0)])
    # older batch arrives late: must NOT overwrite
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=1.0)])
    # newer batch: must overwrite
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-03T00:00"), value=3.0),
                          Row(driver_id=2, ts=_ts("2024-01-01T00:00"), value=9.0)])
    got = _read(store, spark, [1, 2, 7])
    assert got[1]["value"] == pytest.approx(3.0)
    assert got[1]["__found"] is True
    assert got[2]["value"] == pytest.approx(9.0)
    assert got[7]["value"] is None
    assert got[7]["__found"] is False


@pytest.mark.parametrize("kind", ["sqlite", "redis"])
def test_typed_payload_roundtrip(spark, tmp_path, kind):
    """Arrays, strings, timestamps (both kinds, to the microsecond),
    dates, binary, decimals, non-finite doubles, structs and maps
    survive the JSON payload."""
    store = _mk_store(kind, tmp_path)
    rows = [
        Row(
            driver_id=1,
            ts=_ts("2024-01-01T10:30:15.123456"),
            emb=[1.5, -2.25],
            tag="a|b",
        )
    ]
    _write(store, spark, rows, features=("emb", "tag"))
    got = _read(store, spark, [1], features=("emb", "tag"))
    assert got[1]["emb"] == [1.5, -2.25]
    assert got[1]["tag"] == "a|b"
    assert got[1]["__event_ts"] == _ts("2024-01-01T10:30:15.123456")

    feats = ["ntz", "d", "b", "dec", "nan", "inf", "ninf", "specials",
             "st", "m"]
    df = spark.createDataFrame(
        [(2, _ts("2024-01-02T00:00"), _ts("2024-01-01T10:30:15.123456"),
          date(2024, 2, 29), bytearray(b"\x00\xffab"), Decimal("123.4500"),
          float("nan"), float("inf"), float("-inf"),
          [1.5, float("nan"), float("inf"), float("-inf")],
          Row(a="x", n=3), {"k": 1, "j": None})],
        "driver_id INT, ts TIMESTAMP, ntz TIMESTAMP_NTZ, d DATE, b BINARY, "
        "dec DECIMAL(12,4), nan DOUBLE, inf DOUBLE, ninf DOUBLE, "
        "specials ARRAY<DOUBLE>, st STRUCT<a: STRING, n: BIGINT>, "
        "m MAP<STRING, BIGINT>",
    )
    store.online_write_batch(spark, "p", "w", df, ["driver_id"], "ts", None, feats)
    [r] = store.online_read(
        "p", "w", encode_request_keys([{"driver_id": 2}], ["driver_id"]), feats
    )
    assert r["ntz"] == _ts("2024-01-01T10:30:15.123456")
    assert r["d"] == date(2024, 2, 29)
    assert r["b"] == b"\x00\xffab"
    assert r["dec"] == Decimal("123.4500") and isinstance(r["dec"], Decimal)
    assert math.isnan(r["nan"])
    assert (r["inf"], r["ninf"]) == (float("inf"), float("-inf"))
    s = r["specials"]
    assert s[0] == 1.5 and math.isnan(s[1]) and s[2:] == [float("inf"), float("-inf")]
    assert r["st"] == Row(a="x", n=3) and r["st"].a == "x"
    assert r["m"] == {"k": 1, "j": None}


def test_int_keyed_map_roundtrip(spark, tmp_path):
    """A MAP<INT, STRING> feature reads back with int keys (Spark's
    ``from_json`` rejects any non-string map key)."""
    store = _mk_store("sqlite", tmp_path)
    df = spark.createDataFrame(
        [(1, _ts("2024-01-01T00:00"), {1: "one", -2: "neg"})],
        "driver_id INT, ts TIMESTAMP, labels MAP<INT, STRING>",
    )
    store.online_write_batch(
        spark, "p", "v", df, ["driver_id"], "ts", None, ["labels"]
    )
    got = _read(store, spark, [1, 2], features=("labels",))
    assert got[1]["labels"] == {1: "one", -2: "neg"}
    assert got[2]["__found"] is False


def test_sqlite_serves_without_spark(spark, tmp_path):
    """A store materialized by one Spark session serves from a
    ``FeatureStore(None, config)``: the KV read path runs no Spark."""
    from feast_spark import FeatureStore, RepoConfig

    st = _sqlite_facade_store(spark, tmp_path)
    cfg = RepoConfig(
        project="t",
        registry_path=str(tmp_path / "registry.json"),
        online_store_path=str(tmp_path / "online.db"),
        online_store_type="sqlite",
    )
    want = st.get_online_features(
        ["simple_fv:value"], [{"driver_id": 1}, {"driver_id": 3}]
    )
    got = FeatureStore(None, cfg).get_online_features(
        ["simple_fv:value"],
        [{"driver_id": 1}, {"driver_id": 3}, {"driver_id": 9}],
        full_field_statuses=True,
        now=_ts("2021-06-01T12:00:00"),
    )
    assert got["value"][:2] == want["value"] == pytest.approx([0.3, 4.0])
    assert got["__statuses"]["value"] == ["PRESENT", "PRESENT", "NOT_FOUND"]


def test_sqlite_reads_do_not_wait_on_the_write_job(spark, tmp_path, monkeypatch):
    """A write drains its collapsed rows from Spark before it takes the
    store lock: while the write's row iterator is held open (a slow
    Spark job), a lookup from another thread still answers, from the
    last committed state."""
    import threading

    from feast_spark.online import kv

    store = _mk_store("sqlite", tmp_path)
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=1.0)])
    started, release = threading.Event(), threading.Event()
    snapshot_rows = kv._snapshot_rows

    class HeldRows:
        def __init__(self, rows):
            self.rows = rows

        def toLocalIterator(self):
            started.set()
            release.wait(60)
            yield from self.rows.toLocalIterator()

    def held(*args, **kwargs):
        rows, schema_json = snapshot_rows(*args, **kwargs)
        return HeldRows(rows), schema_json

    monkeypatch.setattr(kv, "_snapshot_rows", held)
    df = spark.createDataFrame(
        [Row(driver_id=1, ts=_ts("2024-01-02T00:00"), value=2.0)]
    )
    writer = threading.Thread(
        target=store.online_write_batch,
        args=(spark, "p", "v", df, ["driver_id"], "ts", None, ["value"]),
    )
    got: list[dict] = []
    reader = threading.Thread(target=lambda: got.append(_read(store, spark, [1])))
    writer.start()
    try:
        assert started.wait(60)
        reader.start()
        reader.join(5)
        assert not reader.is_alive(), "the lookup waited on the write's Spark job"
    finally:
        release.set()
        writer.join(120)
        reader.join(120)
    assert got[0][1]["value"] == pytest.approx(1.0)
    assert _read(store, spark, [1])[1]["value"] == pytest.approx(2.0)


@pytest.mark.parametrize("kind", ["sqlite", "redis"])
def test_batch_collapses_before_driver(spark, tmp_path, kind):
    """Many source rows per key -> exactly the latest lands in the KV
    (the distributed latest_per_key ran before toLocalIterator)."""
    store = _mk_store(kind, tmp_path)
    rows = [
        Row(driver_id=1, ts=_ts("2024-01-01T00:00") + timedelta(minutes=m),
            value=float(m))
        for m in range(50)
    ]
    _write(store, spark, rows)
    assert _read(store, spark, [1])[1]["value"] == pytest.approx(49.0)
    if kind == "sqlite":
        n = store._get_conn().execute('SELECT COUNT(*) FROM "p_v"').fetchone()[0]
        assert n == 1


def _sqlite_facade_store(spark, tmp_path):
    """A sqlite-backed FeatureStore whose view ``simple_fv`` is
    materialized over (now - 5h, now - 2h]: driver 1 -> 0.3, 3 -> 4.0."""
    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
    )

    now = _ts("2021-06-01T12:00:00")
    rows = [
        Row(id=1, value=0.1, ts_1=now - timedelta(hours=4)),
        Row(id=1, value=0.3, ts_1=now - timedelta(hours=3)),
        Row(id=3, value=4.0, ts_1=now - timedelta(hours=4)),
        Row(id=3, value=5.0, ts_1=now - timedelta(hours=1)),
    ]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows).write.parquet(src)
    st = FeatureStore(
        spark,
        RepoConfig(
            project="t",
            registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online.db"),
            online_store_type="sqlite",
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
                    path=src,
                    event_timestamp_column="ts",
                    field_mapping={"ts_1": "ts", "id": "driver_id"},
                ),
            ),
        ]
    )
    st.materialize(now - timedelta(hours=5), now - timedelta(hours=2))
    return st


def test_sqlite_feature_store_e2e(spark, tmp_path):
    """Full facade flow on online_store_type='sqlite': materialize then
    serve, matching the parquet-backed answers."""
    now = _ts("2021-06-01T12:00:00")
    st = _sqlite_facade_store(spark, tmp_path)
    resp = st.get_online_features(
        ["simple_fv:value"], [{"driver_id": 1}, {"driver_id": 3}]
    )
    assert resp["value"][0] == pytest.approx(0.3)
    assert resp["value"][1] == pytest.approx(4.0)  # 5.0 outside window
    st.materialize_incremental(now)
    resp2 = st.get_online_features(["simple_fv:value"], [{"driver_id": 3}])
    assert resp2["value"][0] == pytest.approx(5.0)


def test_unknown_backend_rejected(spark, tmp_path):
    from feast_spark import FeatureStore, RepoConfig

    with pytest.raises(ValueError, match="online_store_type"):
        FeatureStore(
            spark,
            RepoConfig(
                registry_path=str(tmp_path / "r.json"),
                online_store_type="dynamo",
            ),
        )


def test_delete_feature_view_and_teardown(spark, tmp_path):
    """delete_feature_view drops the view's online state; teardown
    empties the project (reference feature_store.py:175-184,259-274)."""
    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
    )
    from feast_spark.errors import FeatureViewNotFoundError

    now = _ts("2021-06-01T12:00:00")
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [Row(driver_id=1, value=1.0, ts=now - timedelta(hours=1))]
    ).write.parquet(src)

    for kind, path in [
        ("parquet", str(tmp_path / "online")),
        ("sqlite", str(tmp_path / "online.db")),
    ]:
        st = FeatureStore(
            spark,
            RepoConfig(
                project="t",
                registry_path=str(tmp_path / f"reg_{kind}.json"),
                online_store_path=path,
                online_store_type=kind,
            ),
        )
        st.apply(
            [
                Entity(name="driver", join_key="driver_id",
                       value_type=ValueType.INT64),
                FeatureView(
                    name="fv",
                    entities=["driver"],
                    ttl=timedelta(days=5),
                    batch_source=FileSource(path=src,
                                            event_timestamp_column="ts"),
                ),
            ]
        )
        st.materialize_incremental(now)
        assert st.get_online_features(["fv:value"], [{"driver_id": 1}])["value"][0] \
            == pytest.approx(1.0)
        st.delete_feature_view("fv")
        with pytest.raises(FeatureViewNotFoundError):
            st.get_feature_view("fv")
        # online state gone: a fresh store of the same view serves a miss
        assert st.online_store.online_read(
            "t", "fv",
            encode_request_keys([{"driver_id": 1}], ["driver_id"]), ["value"],
        ) == [None]
        st.teardown()
        assert st.list_entities() == []
        assert st.list_feature_views() == []


def test_redis_teardown_fake_client(spark, tmp_path):
    store = _mk_store("redis", tmp_path)
    store.client.keys_list = None  # ensure fallback path exercised

    def keys(pattern):
        import fnmatch

        return [k for k in store.client.hashes if fnmatch.fnmatch(k, pattern)] + [
            k for k in store.client.kv if fnmatch.fnmatch(k, pattern)
        ]

    def delete(k):
        store.client.hashes.pop(k, None)
        store.client.kv.pop(k, None)

    store.client.keys = keys
    store.client.delete = delete
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=1.0)])
    assert _read(store, spark, [1])[1]["value"] == pytest.approx(1.0)
    store.teardown("p")
    assert _read(store, spark, [1])[1]["value"] is None


def test_ttl_expiry_sweep_parquet_and_sqlite(spark, tmp_path):
    """expire_online_features reclaims storage for rows outside the
    ttl window on both the parquet-snapshot and sqlite backends; fresh
    rows and reads survive the sweep."""
    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
    )

    now = _ts("2021-06-10T12:00:00")
    rows = [
        Row(driver_id=1, value=1.0, ts=now - timedelta(days=30)),  # stale
        Row(driver_id=2, value=2.0, ts=now - timedelta(hours=1)),  # fresh
    ]
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(rows).write.parquet(src)

    for kind, path in [
        ("parquet", str(tmp_path / "online")),
        ("sqlite", str(tmp_path / "online.db")),
    ]:
        st = FeatureStore(
            spark,
            RepoConfig(
                project="t",
                registry_path=str(tmp_path / f"reg_{kind}.json"),
                online_store_path=path,
                online_store_type=kind,
            ),
        )
        st.apply(
            [
                Entity(name="driver", join_key="driver_id",
                       value_type=ValueType.INT64),
                FeatureView(
                    name="fv",
                    entities=["driver"],
                    ttl=timedelta(days=5),
                    batch_source=FileSource(path=src,
                                            event_timestamp_column="ts"),
                ),
            ]
        )
        st.materialize(now - timedelta(days=60), now)
        swept = st.expire_online_features(now=now)
        assert swept == {"fv": 1}, kind
        # fresh row still serves; stale key is now a miss at the store
        got = st.online_store.online_read(
            "t", "fv",
            encode_request_keys([{"driver_id": 1}, {"driver_id": 2}],
                                ["driver_id"]),
            ["value"],
        )
        by_id = dict(zip([1, 2], got))
        assert by_id[2]["value"] == pytest.approx(2.0)
        assert by_id[1] is None  # not found
        # idempotent: second sweep finds nothing
        assert st.expire_online_features(now=now) == {"fv": 0}


def test_sqlite_accepts_timestamp_ntz_source(spark, tmp_path):
    """Parquet feature tables read back as TIMESTAMP_NTZ (the repo's
    naive-UTC convention, e.g. sources.testdata.load_table) must write
    through the KV snapshot path — unix_micros rejects NTZ without the
    cast (regression: r9 online_bench failure)."""
    from feast_spark.sources.testdata import load_table
    from tests.conftest import SF_SMALL

    ev = (
        load_table(spark, SF_SMALL, "events")
        .select("user_id", "ts", "value")
        .limit(50)
    )
    assert "timestamp_ntz" in dict(ev.dtypes)["ts"]
    store = SqliteOnlineStore(str(tmp_path / "ntz.db"))
    store.online_write_batch(
        spark, "p", "v", ev, ["user_id"], "ts", None, ["value"]
    )
    keys = encode_request_keys(
        [{"user_id": r["user_id"]} for r in ev.limit(3).collect()], ["user_id"]
    )
    out = store.online_read("p", "v", keys, ["value"])
    assert len(out) == 3 and all(r is not None for r in out)
