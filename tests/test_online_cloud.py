"""DynamoDB / Datastore cloud online stores: the same behavior contract
as the SQLite/Redis backends (newest-wins upsert, typed payload
roundtrip, distributed collapse before the driver, teardown), driven
through in-memory fake clients — plus a botocore Stubber pass that
validates our DynamoDB request shapes against the REAL AWS service
model (reference infra/online_stores/{dynamodb,datastore}.py)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row

from feast_spark.online.cloud import (
    _SCHEMA_KEY,
    DatastoreOnlineStore,
    DynamoDBOnlineStore,
)
from feast_spark.online.store import encode_request_keys


def _ts(s):
    return datetime.fromisoformat(s)


class FakeClientError(Exception):
    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class FakeDynamo:
    """Dict-backed boto3-client("dynamodb") subset speaking typed
    AttributeValues.  ConditionExpression handling covers exactly the
    newest-wins expression the store sends (wire-shape validity of the
    full request is covered separately by the Stubber test)."""

    def __init__(self):
        self.tables: dict[str, dict[str, dict]] = {}
        self.unprocessed_once = False  # set True to simulate throttling

    def create_table(self, TableName, **kw):
        if TableName in self.tables:
            raise FakeClientError("ResourceInUseException")
        self.tables[TableName] = {}

    def delete_table(self, TableName):
        if TableName not in self.tables:
            raise FakeClientError("ResourceNotFoundException")
        del self.tables[TableName]

    def list_tables(self):
        return {"TableNames": sorted(self.tables)}

    def put_item(self, TableName, Item, ConditionExpression=None,
                 ExpressionAttributeValues=None):
        table = self.tables[TableName]
        eid = Item["entity_id"]["S"]
        if ConditionExpression is not None and eid in table:
            held = (
                int(table[eid]["event_us"]["N"]),
                int(table[eid]["created_us"]["N"]),
            )
            incoming = (
                int(ExpressionAttributeValues[":e"]["N"]),
                int(ExpressionAttributeValues[":c"]["N"]),
            )
            if held > incoming:
                raise FakeClientError("ConditionalCheckFailedException")
        table[eid] = Item

    def get_item(self, TableName, Key):
        if TableName not in self.tables:
            raise FakeClientError("ResourceNotFoundException")
        item = self.tables[TableName].get(Key["entity_id"]["S"])
        return {"Item": item} if item is not None else {}

    def batch_get_item(self, RequestItems):
        responses, unprocessed = {}, {}
        for name, spec in RequestItems.items():
            keys = spec["Keys"]
            if self.unprocessed_once and len(keys) > 1:
                self.unprocessed_once = False
                keys, rest = keys[:1], keys[1:]
                unprocessed[name] = {"Keys": rest}
            hits = []
            for k in keys:
                item = self.tables.get(name, {}).get(k["entity_id"]["S"])
                if item is not None:
                    hits.append(item)
            responses[name] = hits
        out = {"Responses": responses}
        if unprocessed:
            out["UnprocessedKeys"] = unprocessed
        return out


class FakeDatastore:
    """Dict-backed implementation of the minimal key/get/put protocol
    DatastoreOnlineStore consumes (kinds mirror the reference's
    ("Project", p, "Table", v, "Row", id) path)."""

    def __init__(self):
        self.entities: dict[tuple, dict] = {}

    def key(self, *path):
        return tuple(path)

    def get(self, key):
        props = self.entities.get(key)
        return dict(props) if props is not None else None

    def put(self, key, properties):
        self.entities[key] = dict(properties)

    def delete(self, key):
        self.entities.pop(key, None)

    def transaction(self):
        import contextlib

        return contextlib.nullcontext()

    def list_row_keys(self, parent_key):
        return [k for k in self.entities if k[:4] == parent_key and len(k) == 6]

    def list_views(self, project):
        return sorted(
            {k[3] for k in self.entities if k[:2] == ("Project", project)}
        )


def _mk_store(kind):
    if kind == "dynamodb":
        return DynamoDBOnlineStore(FakeDynamo())
    return DatastoreOnlineStore(FakeDatastore())


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


@pytest.mark.parametrize("kind", ["dynamodb", "datastore"])
def test_newest_wins_upsert(spark, kind):
    store = _mk_store(kind)
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


@pytest.mark.parametrize("kind", ["dynamodb", "datastore"])
def test_typed_payload_roundtrip(spark, kind):
    store = _mk_store(kind)
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


@pytest.mark.parametrize("kind", ["dynamodb", "datastore"])
def test_batch_collapses_before_driver(spark, kind):
    """Many source rows per key -> exactly one KV row (latest), so only
    distinct entity keys ever crossed to the driver-side write loop."""
    store = _mk_store(kind)
    rows = [
        Row(driver_id=1, ts=_ts("2024-01-01T00:00") + timedelta(minutes=m),
            value=float(m))
        for m in range(50)
    ]
    _write(store, spark, rows)
    assert _read(store, spark, [1])[1]["value"] == pytest.approx(49.0)
    if isinstance(store, DynamoDBOnlineStore):
        # one data row + one schema sentinel
        assert len(store.client.tables["p.v"]) == 2
    else:
        assert len(store.client.list_row_keys(("Project", "p", "Table", "v"))) == 1


@pytest.mark.parametrize("kind", ["dynamodb", "datastore"])
def test_teardown(spark, kind):
    store = _mk_store(kind)
    _write(store, spark, [Row(driver_id=1, ts=_ts("2024-01-01T00:00"), value=1.0)])
    assert _read(store, spark, [1])[1]["value"] == pytest.approx(1.0)
    store.teardown("p")
    assert _read(store, spark, [1])[1]["value"] is None
    if isinstance(store, DynamoDBOnlineStore):
        assert store.client.tables == {}
    else:
        assert store.client.entities == {}


def test_dynamodb_unprocessed_keys_retried(spark):
    """BatchGetItem throttling (UnprocessedKeys) is drained by the
    bounded retry loop — all requested keys still resolve."""
    store = _mk_store("dynamodb")
    _write(store, spark, [
        Row(driver_id=i, ts=_ts("2024-01-01T00:00"), value=float(i))
        for i in range(1, 5)
    ])
    store.client.unprocessed_once = True
    got = _read(store, spark, [1, 2, 3, 4])
    assert {i: got[i]["value"] for i in got} == {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}


def test_dynamodb_read_before_any_write(spark):
    """Missing table -> clean all-miss frame, not a raised error."""
    store = _mk_store("dynamodb")
    got = _read(store, spark, [1])
    assert got[1]["__found"] is False


def test_dynamodb_wire_shapes_against_real_service_model():
    """Drive the SAME requests the store sends through real botocore
    with Stubber: every parameter shape (typed AttributeValues,
    ConditionExpression, RequestItems) validates against the published
    DynamoDB service model — proving the fake-client tests exercise
    requests AWS would accept."""
    boto3 = pytest.importorskip("boto3")
    from botocore.stub import ANY, Stubber

    client = boto3.client(
        "dynamodb",
        region_name="us-east-1",
        aws_access_key_id="testing",
        aws_secret_access_key="testing",
    )
    stub = Stubber(client)
    stub.add_response(
        "create_table",
        {"TableDescription": {"TableName": "p.v", "TableStatus": "ACTIVE"}},
        {
            "TableName": "p.v",
            "KeySchema": [{"AttributeName": "entity_id", "KeyType": "HASH"}],
            "AttributeDefinitions": [
                {"AttributeName": "entity_id", "AttributeType": "S"}
            ],
            "BillingMode": "PAY_PER_REQUEST",
        },
    )
    stub.add_response("describe_table", {
        "Table": {"TableName": "p.v", "TableStatus": "ACTIVE"}
    }, {"TableName": "p.v"})
    stub.add_response("put_item", {}, {"TableName": "p.v", "Item": ANY})
    stub.add_response(
        "put_item",
        {},
        {
            "TableName": "p.v",
            "Item": ANY,
            "ConditionExpression": (
                "attribute_not_exists(entity_id) OR event_us < :e "
                "OR (event_us = :e AND created_us <= :c)"
            ),
            "ExpressionAttributeValues": ANY,
        },
    )
    stub.add_response(
        "get_item",
        {"Item": {"entity_id": {"S": _SCHEMA_KEY},
                  "payload": {"S": '{"type":"struct","fields":[]}'}}},
        {"TableName": "p.v", "Key": {"entity_id": {"S": _SCHEMA_KEY}}},
    )
    stub.add_response(
        "batch_get_item",
        {"Responses": {"p.v": [
            {"entity_id": {"S": "driver_id=1"},
             "payload": {"S": "{}"}}
        ]}},
        {"RequestItems": {"p.v": {"Keys": [{"entity_id": {"S": "driver_id=1"}}]}}},
    )
    store = DynamoDBOnlineStore(client)
    with stub:
        store._ensure_table("p.v")
        client.put_item(TableName="p.v", Item={
            "entity_id": {"S": _SCHEMA_KEY}, "payload": {"S": "{}"}})
        client.put_item(
            TableName="p.v",
            Item={
                "entity_id": {"S": "driver_id=1"},
                "event_us": {"N": "1"},
                "created_us": {"N": "-1"},
                "payload": {"S": "{}"},
            },
            ConditionExpression=(
                "attribute_not_exists(entity_id) OR event_us < :e "
                "OR (event_us = :e AND created_us <= :c)"
            ),
            ExpressionAttributeValues={
                ":e": {"N": "1"}, ":c": {"N": "-1"}},
        )
        payloads, schema_json = store._lookup("p", "v", ["driver_id=1"])
    assert payloads == ["{}"]
    assert schema_json == '{"type":"struct","fields":[]}'
    stub.assert_no_pending_responses()


def test_backend_dispatch_constructs_cloud_stores(spark, tmp_path):
    """online_store_type='dynamodb' resolves through connect_dynamodb
    (boto3 client construction is offline-safe)."""
    from feast_spark import FeatureStore, RepoConfig

    st = FeatureStore(
        spark,
        RepoConfig(
            registry_path=str(tmp_path / "r.json"),
            online_store_path="dynamodb://us-east-1",
            online_store_type="dynamodb",
        ),
    )
    assert isinstance(st.online_store, DynamoDBOnlineStore)
