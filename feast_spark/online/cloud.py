"""Cloud KV online stores: DynamoDB and Datastore.

The reference ships cloud online stores written to from the driver
(infra/online_stores/dynamodb.py:100-128: one ``{project}.{view}``
DynamoDB table, HASH key ``entity_id``, blind ``put_item`` per row;
infra/online_stores/datastore.py:142-220: Datastore entities under the
("Project", project, "Table", view, "Row", doc_id) key path, written
``put_multi`` in transaction-sized minibatches).  Spark-first split —
both inherit the one write and read of ``online/kv._KVOnlineStore``,
like the SQLite/Redis backends:

- the distributed part (collapse an arbitrarily large batch to one row
  per entity key, newest event_ts, created_ts tie-break) is the shared
  ``latest_per_key`` plan from ``_snapshot_rows`` — the 100 TB of
  source rows never reach the driver;
- only the collapsed snapshot (one row per DISTINCT entity key)
  streams driver-side via ``toLocalIterator`` and upserts into the
  cloud KV in chunks;
- unlike the reference's blind overwrites, both backends enforce the
  same newest-wins guard as every other backend here (DynamoDB: a
  ``ConditionExpression`` on the conditional put; Datastore: a
  read-compare-put inside the client's transaction), so replaying an
  old materialization can never regress the serving view.

Testability without cloud credentials: the DynamoDB store takes any
boto3-``client("dynamodb")``-compatible object — the test suite drives
it with an in-memory fake AND validates request wire-shapes against
the real botocore service model via ``botocore.stub.Stubber``.  The
Datastore store takes a minimal key/get/put protocol; the production
adapter over ``google.cloud.datastore`` is import-gated.
"""

from __future__ import annotations

from typing import Iterable, Iterator

from feast_spark.online.kv import _chunked, _KVOnlineStore

# DynamoDB caps BatchGetItem at 100 keys; Datastore transactions at 500
# mutations (reference datastore.py:DatastoreOnlineStoreConfig
# write_batch_size=50 default, minibatch split :167-178).
_DDB_GET_CHUNK = 100
_DDB_PUT_CHUNK = 500
_DS_PUT_CHUNK = 400

# Sentinel item holding the payload schema; encode_entity_key output
# always contains '=', so this can never collide with a real key.
_SCHEMA_KEY = "__feast_schema__"


def _error_code(ex: Exception) -> str | None:
    """The AWS error code of ``ex`` (e.g. ``ConditionalCheckFailedException``
    when a put lost its newest-wins condition) — works for both real
    botocore ClientError and injected fakes that carry the same
    ``.response`` shape; None for any other exception."""
    resp = getattr(ex, "response", None)
    return resp.get("Error", {}).get("Code") if isinstance(resp, dict) else None


class DynamoDBOnlineStore(_KVOnlineStore):
    """DynamoDB-backed online store (reference
    infra/online_stores/dynamodb.py).

    Table per ``{project}.{view}`` (dynamodb.py:66), partition key
    ``entity_id`` (S, dynamodb.py:67-70), PAY_PER_REQUEST billing
    (dynamodb.py:73).  Items carry ``event_us``/``created_us`` (N) and
    the self-describing JSON ``payload`` (S) — same value encoding as
    every backend in ``online/kv.py``.

    ``client`` is anything compatible with ``boto3.client("dynamodb")``
    (the low-level typed-AttributeValue API): create_table, put_item,
    batch_get_item, get_item, delete_table, list_tables.
    """

    write_batch_size = _DDB_PUT_CHUNK

    def __init__(self, client):
        self.client = client
        self._known_tables: set[str] = set()

    @staticmethod
    def _table_name(project: str, view_name: str) -> str:
        # reference dynamodb.py:66: f"{config.project}.{table_instance.name}"
        return f"{project}.{view_name}"

    def _ensure_table(self, name: str) -> None:
        if name in self._known_tables:
            return
        try:
            self.client.create_table(
                TableName=name,
                KeySchema=[{"AttributeName": "entity_id", "KeyType": "HASH"}],
                AttributeDefinitions=[
                    {"AttributeName": "entity_id", "AttributeType": "S"}
                ],
                BillingMode="PAY_PER_REQUEST",
            )
            waiter = getattr(self.client, "get_waiter", None)
            if waiter is not None:  # real boto3: block until ACTIVE
                waiter("table_exists").wait(TableName=name)
        except Exception as ex:  # reference dynamodb.py:75-80
            if _error_code(ex) not in (
                "ResourceInUseException", "TableAlreadyExistsException"
            ):
                raise
        self._known_tables.add(name)

    def _write(
        self, project: str, view_name: str, schema_json: str,
        chunks: Iterator[list],
    ) -> None:
        name = self._table_name(project, view_name)
        self._ensure_table(name)
        self.client.put_item(
            TableName=name,
            Item={
                "entity_id": {"S": _SCHEMA_KEY},
                "payload": {"S": schema_json},
            },
        )
        # conditional put = the newest-wins upsert the reference's
        # blind batch_writer (dynamodb.py:113-126) lacks
        for chunk in chunks:
            for r in chunk:
                event_us = r["event_us"]
                created_us = r["created_us"] if r["created_us"] is not None else -1
                try:
                    self.client.put_item(
                        TableName=name,
                        Item={
                            "entity_id": {"S": r["entity_key"]},
                            "event_us": {"N": str(event_us)},
                            "created_us": {"N": str(created_us)},
                            "payload": {"S": r["payload"]},
                        },
                        ConditionExpression=(
                            "attribute_not_exists(entity_id) OR event_us < :e "
                            "OR (event_us = :e AND created_us <= :c)"
                        ),
                        ExpressionAttributeValues={
                            ":e": {"N": str(event_us)},
                            ":c": {"N": str(created_us)},
                        },
                    )
                except Exception as ex:
                    if _error_code(ex) != "ConditionalCheckFailedException":
                        raise  # stale incoming row: stored value is newer

    def _lookup(
        self, project: str, view_name: str, keys: list[str]
    ) -> tuple[list[str], str | None]:
        name = self._table_name(project, view_name)
        try:
            got = self.client.get_item(
                TableName=name, Key={"entity_id": {"S": _SCHEMA_KEY}}
            )
        except Exception as ex:
            if _error_code(ex) == "ResourceNotFoundException":
                return [], None
            raise
        item = got.get("Item")
        if not item:
            return [], None
        schema_json = item["payload"]["S"]
        payloads: list[str] = []
        for chunk in _chunked(keys, _DDB_GET_CHUNK):
            request = {name: {"Keys": [{"entity_id": {"S": k}} for k in chunk]}}
            # bounded retry over UnprocessedKeys (throttling contract)
            for _ in range(8):
                resp = self.client.batch_get_item(RequestItems=request)
                for it in resp.get("Responses", {}).get(name, []):
                    if "payload" in it and it["entity_id"]["S"] != _SCHEMA_KEY:
                        payloads.append(it["payload"]["S"])
                request = resp.get("UnprocessedKeys") or {}
                if not request.get(name, {}).get("Keys"):
                    break
        return payloads, schema_json

    def teardown(self, project: str, view_names: list[str] | None = None) -> None:
        """DELETE the project's tables (dynamodb.py:88-101
        _delete_tables_idempotent)."""
        names = (
            [self._table_name(project, v) for v in view_names]
            if view_names is not None
            else [
                t
                for t in self.client.list_tables().get("TableNames", [])
                if t.startswith(f"{project}.")
            ]
        )
        for name in names:
            try:
                self.client.delete_table(TableName=name)
            except Exception as ex:
                if _error_code(ex) != "ResourceNotFoundException":
                    raise
            self._known_tables.discard(name)


class DatastoreOnlineStore(_KVOnlineStore):
    """Datastore-backed online store (reference
    infra/online_stores/datastore.py).

    Entities live under the reference's key path ("Project", project,
    "Table", view, "Row", entity_key) (datastore.py:195-198); the
    ("Project", project, "Table", view) parent entity carries the
    payload schema (the reference stores table metadata there,
    datastore.py:85-93).

    ``client`` implements a minimal protocol (the subset of
    google-cloud-datastore the store needs):

    - ``key(*path) -> key``
    - ``get(key) -> dict | None``
    - ``put(key, properties: dict) -> None``
    - ``delete(key) -> None``
    - ``transaction()`` — context manager scoping atomic read+write
    - ``list_row_keys(parent_key) -> Iterable[key]`` — keys-only query
      of Row children (teardown; datastore.py:235-242 _delete_all_values)

    Production adapter: :func:`connect_datastore` (import-gated on
    ``google-cloud-datastore``).  Tests drive the protocol with an
    in-memory fake.
    """

    def __init__(self, client, write_batch_size: int = _DS_PUT_CHUNK):
        self.client = client
        self.write_batch_size = write_batch_size

    def _parent(self, project: str, view_name: str):
        return self.client.key("Project", project, "Table", view_name)

    def _row_key(self, project: str, view_name: str, entity_key: str):
        return self.client.key(
            "Project", project, "Table", view_name, "Row", entity_key
        )

    def _write(
        self, project: str, view_name: str, schema_json: str,
        chunks: Iterator[list],
    ) -> None:
        self.client.put(self._parent(project, view_name), {"schema_json": schema_json})
        # transaction-sized minibatches (datastore.py:167-178
        # _to_minibatches); read-compare-put inside the transaction is
        # the newest-wins guard the reference's blind put_multi lacks
        for chunk in chunks:
            with self.client.transaction():
                for r in chunk:
                    key = self._row_key(project, view_name, r["entity_key"])
                    incoming = (
                        r["event_us"],
                        r["created_us"] if r["created_us"] is not None else -1,
                    )
                    stored = self.client.get(key)
                    if stored is not None:
                        held = (
                            stored.get("event_us", -1),
                            stored.get("created_us", -1),
                        )
                        if held > incoming:
                            continue
                    self.client.put(
                        key,
                        {
                            "event_us": incoming[0],
                            "created_us": incoming[1],
                            "payload": r["payload"],
                        },
                    )

    def _lookup(
        self, project: str, view_name: str, keys: list[str]
    ) -> tuple[list[str], str | None]:
        meta = self.client.get(self._parent(project, view_name))
        if meta is None or "schema_json" not in meta:
            return [], None
        payloads: list[str] = []
        for k in keys:
            row = self.client.get(self._row_key(project, view_name, k))
            if row is not None and "payload" in row:
                payloads.append(row["payload"])
        return payloads, meta["schema_json"]

    def teardown(self, project: str, view_names: list[str] | None = None) -> None:
        """Delete all Row children + the table metadata entity
        (datastore.py:104-125)."""
        views: Iterable[str]
        if view_names is not None:
            views = view_names
        else:
            views = list(getattr(self.client, "list_views", lambda p: [])(project))
        for view in views:
            parent = self._parent(project, view)
            for key in list(self.client.list_row_keys(parent)):
                self.client.delete(key)
            self.client.delete(parent)


def connect_dynamodb(url: str):
    """Production constructor: ``dynamodb://region`` or
    ``dynamodb://region?endpoint=http://host:port`` (the latter for
    DynamoDB Local).  Gated — boto3 is an optional dependency."""
    from urllib.parse import parse_qs, urlparse

    try:
        import boto3  # type: ignore
    except ImportError as e:  # pragma: no cover - env without boto3
        raise ImportError(
            "DynamoDBOnlineStore requires the 'boto3' package "
            "(pip install boto3) or an injected compatible client"
        ) from e
    parsed = urlparse(url)
    region = parsed.netloc or parsed.path.lstrip("/")
    endpoint = parse_qs(parsed.query).get("endpoint", [None])[0]
    client = boto3.client(
        "dynamodb", region_name=region or None, endpoint_url=endpoint
    )
    return DynamoDBOnlineStore(client)


def connect_datastore(project_id: str, namespace: str | None = None):
    """Production constructor over google-cloud-datastore
    (datastore.py:127-140 _get_client).  Gated — the SDK is an
    optional dependency; wraps the google client into the minimal
    protocol :class:`DatastoreOnlineStore` consumes."""
    try:
        from google.cloud import datastore  # type: ignore
    except ImportError as e:  # pragma: no cover - env without the SDK
        raise ImportError(
            "DatastoreOnlineStore requires the 'google-cloud-datastore' "
            "package or an injected protocol-compatible client"
        ) from e

    class _GoogleAdapter:  # pragma: no cover - needs GCP credentials
        def __init__(self, gclient):
            self._c = gclient

        def key(self, *path):
            return self._c.key(*path)

        def get(self, key):
            ent = self._c.get(key)
            return dict(ent) if ent is not None else None

        def put(self, key, properties):
            ent = datastore.Entity(
                key=key, exclude_from_indexes=tuple(properties.keys())
            )
            ent.update(properties)
            self._c.put(ent)

        def delete(self, key):
            self._c.delete(key)

        def transaction(self):
            return self._c.transaction()

        def list_row_keys(self, parent_key):
            q = self._c.query(kind="Row", ancestor=parent_key)
            q.keys_only()
            return [e.key for e in q.fetch()]

    return DatastoreOnlineStore(
        _GoogleAdapter(datastore.Client(project=project_id, namespace=namespace))
    )
