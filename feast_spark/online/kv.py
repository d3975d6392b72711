"""Driver-edge KV online stores: SQLite and Redis.

The reference ships row-oriented KV online stores
(infra/online_stores/sqlite.py:76-187: one ``{project}_{table}`` sqlite
table, UPDATE + INSERT-OR-IGNORE per feature; infra/online_stores/
redis.py:133-168: HSET per entity key) written to from the DRIVER during
materialization.  Spark-first split of the same design:

- the expensive part — collapsing an arbitrarily large source batch to
  one row per entity key (newest event_ts, created_ts tie-break) — runs
  DISTRIBUTED as the identical ``latest_per_key`` plan the parquet
  snapshot store uses;
- only that collapsed snapshot (one row per DISTINCT entity key in the
  batch, not per source row) crosses to the driver via
  ``toLocalIterator`` and upserts into the KV in chunks, mirroring the
  reference's driver-side write loop;
- merge-with-existing happens IN the KV via a conditional upsert
  (newest wins), so the store is never read back into Spark.

Values travel as ``to_json`` payloads with the Spark schema recorded at
write time, so typed values round-trip exactly (decoded in Python by
that schema on read: ``online_read`` runs no Spark) — replacing the
reference's ValueProto blobs (type_map.py:163-297) with a
self-describing encoding that needs no generated code.

``_KVOnlineStore`` owns that write loop and the point-lookup read for
every KV backend here and in ``online/cloud.py``; a backend supplies
only its storage verbs (``_write``, ``_lookup``, ``teardown``).

Scale posture: a KV row set bounded by entity cardinality is exactly
what these stores are for (the reference's sqlite store is its
local/dev path too); when the key space outgrows one node, the
parquet/Delta snapshot store or a cluster KV behind the same contract
is the documented path — the distributed merge plan is unchanged.
"""

from __future__ import annotations

import base64
import json
import sqlite3
import struct
import threading
from datetime import date, datetime, timezone
from decimal import Decimal
from itertools import islice
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from feast_spark.online.store import (
    _CREATED_TS,
    _EVENT_TS,
    _KEY,
    project_incoming,
)
from feast_spark.operators.dedup import latest_per_key

_CHUNK = 1000
# default to_json truncates both timestamp kinds to ms; keep full µs
_JSON_OPTS = {
    "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
    "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
}


def _table_id(project: str, view_name: str) -> str:
    # reference sqlite.py:190-191 (_table_id): f"{project}_{table.name}"
    safe = f"{project}_{view_name}"
    if not safe.replace("_", "").isalnum():
        raise ValueError(f"unsafe table id: {safe!r}")
    return safe


def _snapshot_rows(
    df: DataFrame,
    join_keys: list[str],
    ts_col: str,
    created_col: str | None,
    feature_cols: list[str],
) -> tuple[DataFrame, str]:
    """Distributed collapse to one row per entity key; returns the
    (key, event_us, created_us, payload) frame plus the payload schema
    JSON that makes the store self-describing."""
    incoming = project_incoming(df, join_keys, ts_col, created_col, feature_cols)
    merged = latest_per_key(incoming, [_KEY], _EVENT_TS, created_col=_CREATED_TS)
    schema_json = merged.schema.json()
    rows = merged.select(
        F.col(_KEY).alias("entity_key"),
        # cast: unix_micros requires TIMESTAMP; NTZ sources (naive-UTC
        # by repo convention, e.g. parquet TIMESTAMP_NTZ feature
        # tables) are reinterpreted under the UTC session timezone
        F.unix_micros(F.col(_EVENT_TS).cast("timestamp")).alias("event_us"),
        F.unix_micros(F.col(_CREATED_TS).cast("timestamp")).alias(
            "created_us"
        ),
        F.to_json(F.struct(*merged.columns), _JSON_OPTS).alias("payload"),
    )
    return rows, schema_json


def _chunked(items: Iterable, n: int) -> Iterator[list]:
    it = iter(items)
    while chunk := list(islice(it, n)):
        yield chunk


# leaf decoders by Spark type; any other leaf keeps its JSON value
_LEAF = {
    T.TimestampType: lambda v: datetime.fromisoformat(v)
    .astimezone(timezone.utc).replace(tzinfo=None),
    T.TimestampNTZType: datetime.fromisoformat,  # µs, or ms in older rows
    T.DateType: date.fromisoformat,
    T.BinaryType: base64.b64decode,
    T.DoubleType: float,  # also from "NaN", "Infinity", "-Infinity"
    T.FloatType: lambda v: struct.unpack("f", struct.pack("f", float(v)))[0],
    T.DecimalType: Decimal,
    **dict.fromkeys((T.ByteType, T.ShortType, T.IntegerType, T.LongType), int),
    T.BooleanType: lambda v: v == "true" if isinstance(v, str) else v,
}


def _decode(v, dt: T.DataType):
    """The value Spark's JSON reader with type ``dt`` and a ``collect``
    give for the JSON value ``v`` (``json.loads``, ``parse_float=Decimal``):
    timestamps naive UTC, binary as bytes, float32 values widened as
    Spark widens them, structs as ``Row``, and map keys decoded by the
    key type (JSON object keys are always strings)."""
    if v is None:
        return None
    if isinstance(dt, T.StructType):
        return Row(**{f.name: _decode(v.get(f.name), f.dataType) for f in dt})
    if isinstance(dt, T.MapType):
        kt, vt = dt.keyType, dt.valueType
        return {_decode(k, kt): _decode(x, vt) for k, x in v.items()}
    if isinstance(dt, T.ArrayType):
        return [_decode(x, dt.elementType) for x in v]
    leaf = _LEAF.get(type(dt))
    return v if leaf is None else leaf(v)


def _parse_hits(
    payloads: list, schema_json: str | None, feature_cols: list[str]
) -> dict[str, dict]:
    """``{key: row}`` from stored JSON payloads (str or bytes), decoded
    in Python with the schema recorded at write time.  A field the
    payload lacks (``to_json`` drops nulls) or a feature added after
    the write reads None; a row with a NULL event ts is never served."""
    if schema_json is None or not payloads:
        return {}
    schema = T.StructType.fromJson(json.loads(schema_json))
    types = {f.name: f.dataType for f in schema}
    wanted = [c for c in (_EVENT_TS, *feature_cols) if c in types]
    hits: dict[str, dict] = {}
    for p in payloads:
        obj = json.loads(p, parse_float=Decimal)
        row = dict.fromkeys(feature_cols)
        row.update((c, _decode(obj.get(c), types[c])) for c in wanted)
        if row[_EVENT_TS] is not None:
            hits[obj[_KEY]] = row
    return hits


class _KVOnlineStore:
    """The one write and the one read every KV backend shares.

    A backend fills in two storage verbs: ``_write(project, view_name,
    schema_json, chunks)`` records the payload schema, then upserts each
    chunk of collapsed rows newest-wins; ``_lookup(project, view_name,
    keys)`` returns ``(payloads, schema_json)`` for the keys it holds."""

    #: collapsed rows per storage round trip
    write_batch_size = _CHUNK

    def online_write_batch(
        self,
        spark: SparkSession,
        project: str,
        view_name: str,
        df: DataFrame,
        join_keys: list[str],
        ts_col: str,
        created_col: str | None,
        feature_cols: list[str],
        meta: dict | None = None,  # KV stores overwrite in place: no manifest to stamp
    ) -> None:
        rows, schema_json = _snapshot_rows(
            df, join_keys, ts_col, created_col, feature_cols
        )
        # one row per distinct entity key streams from the cluster
        self._write(
            project, view_name, schema_json,
            _chunked(rows.toLocalIterator(), self.write_batch_size),
        )

    def online_read(
        self,
        project: str,
        view_name: str,
        keys: list[str],
        feature_cols: list[str],
        as_of=None,
    ) -> list[dict | None]:
        """Point-lookup the distinct request keys in the KV from the
        driver — the reference's online_read loop (sqlite.py:139-166) —
        and answer one ``dict | None`` per key, in key order, with no
        Spark code.  The KV is never scanned.  KV backends overwrite in
        place: no snapshot serves ``as_of``."""
        if as_of is not None:
            raise ValueError(
                f"{type(self).__name__} keeps no history; as_of reads need "
                "the parquet online store"
            )
        distinct = list(dict.fromkeys(keys))
        payloads, schema_json = self._lookup(project, view_name, distinct)
        hits = _parse_hits(payloads, schema_json, feature_cols)
        return [hits.get(k) for k in keys]


class SqliteOnlineStore(_KVOnlineStore):
    """SQLite-backed online store (reference infra/online_stores/sqlite.py).

    One row per entity key per ``{project}_{view}`` table; conditional
    upsert keeps the newest (event_ts, created_ts) — the reference's
    UPDATE-then-INSERT-OR-IGNORE pair collapsed into one
    ``ON CONFLICT DO UPDATE ... WHERE`` statement.  Threads share one
    connection under one lock, held for a whole write transaction and
    all of a lookup's chunks, so no response mixes two commits.  A
    write drains its rows from Spark before it takes the lock, so no
    read waits on the Spark job."""

    def __init__(self, path: str):
        self.path = path
        self._conn: sqlite3.Connection | None = None
        self._lock = threading.Lock()

    def _get_conn(self) -> sqlite3.Connection:
        if self._conn is None:
            import os

            parent = os.path.dirname(self.path)
            if parent:
                os.makedirs(parent, exist_ok=True)
            # check_same_thread=False: foreachBatch callbacks and
            # serving threads share the connection under self._lock
            self._conn = sqlite3.connect(self.path, check_same_thread=False)
            self._conn.execute(
                "CREATE TABLE IF NOT EXISTS _feast_schemas ("
                "table_id TEXT PRIMARY KEY, schema_json TEXT)"
            )
        return self._conn

    def _write(
        self, project: str, view_name: str, schema_json: str,
        chunks: Iterator[list],
    ) -> None:
        # drained before the lock, so no read waits on the Spark job;
        # one row per distinct key, which the table holds anyway
        params = [
            (r["entity_key"], r["event_us"], r["created_us"], r["payload"])
            for chunk in chunks
            for r in chunk
        ]
        tid = _table_id(project, view_name)
        upsert = (
            f'INSERT INTO "{tid}" (entity_key, event_us, created_us, payload) '
            "VALUES (?, ?, ?, ?) "
            "ON CONFLICT(entity_key) DO UPDATE SET "
            "event_us=excluded.event_us, created_us=excluded.created_us, "
            "payload=excluded.payload "
            "WHERE excluded.event_us > event_us OR (excluded.event_us = event_us "
            "AND COALESCE(excluded.created_us, -1) >= COALESCE(created_us, -1))"
        )
        with self._lock, self._get_conn() as conn:
            conn.execute(
                f'CREATE TABLE IF NOT EXISTS "{tid}" ('
                "entity_key TEXT PRIMARY KEY, event_us INTEGER, "
                "created_us INTEGER, payload TEXT)"
            )
            conn.execute(
                "INSERT INTO _feast_schemas (table_id, schema_json) VALUES (?, ?) "
                "ON CONFLICT(table_id) DO UPDATE SET schema_json=excluded.schema_json",
                (tid, schema_json),
            )
            conn.executemany(upsert, params)

    def _lookup(
        self, project: str, view_name: str, keys: list[str]
    ) -> tuple[list[str], str | None]:
        tid = _table_id(project, view_name)
        with self._lock:
            conn = self._get_conn()
            row = conn.execute(
                "SELECT schema_json FROM _feast_schemas WHERE table_id = ?", (tid,)
            ).fetchone()
            if row is None:
                return [], None
            payloads = [
                r[0]
                for chunk in _chunked(keys, 500)  # sqlite variable limit
                for r in conn.execute(
                    f'SELECT payload FROM "{tid}" WHERE entity_key IN '
                    f'({",".join("?" * len(chunk))})',
                    chunk,
                )
            ]
        return payloads, row[0]

    def expire(self, spark, project: str, view_name: str, cutoff) -> int:
        """TTL sweep: one indexed DELETE of rows older than ``cutoff``
        (storage reclaim; mirrors OnlineStore.expire).  Returns the
        number of rows removed."""
        tid = _table_id(project, view_name)
        cutoff_us = int(cutoff.timestamp() * 1_000_000)
        with self._lock, self._get_conn() as conn:
            try:
                cur = conn.execute(
                    f'DELETE FROM "{tid}" WHERE event_us < ?', (cutoff_us,)
                )
            except Exception:
                return 0  # table never materialized
            return cur.rowcount

    def teardown(self, project: str, view_names: list[str] | None = None) -> None:
        """DROP the project's tables (sqlite.py teardown: DROP TABLE)."""
        with self._lock, self._get_conn() as conn:
            rows = conn.execute(
                "SELECT table_id FROM _feast_schemas WHERE table_id LIKE ?",
                (f"{project}_%",),
            ).fetchall()
            for (tid,) in rows:
                view = tid[len(project) + 1 :]
                if view_names is not None and view not in view_names:
                    continue
                conn.execute(f'DROP TABLE IF EXISTS "{tid}"')
                conn.execute(
                    "DELETE FROM _feast_schemas WHERE table_id = ?", (tid,)
                )


class RedisOnlineStore(_KVOnlineStore):
    """Redis-backed online store (reference infra/online_stores/redis.py:
    HSET per entity key under ``{project}:{view}:{entity_key}``, HGET
    multiget).  Takes a redis-py-compatible client (``redis.Redis`` in
    production; anything with pipeline/hset/hget/get/set works, which is
    how the test suite drives it without a server).  Writes pipeline in
    chunks; the newest-wins guard compares the stored (event_us,
    created_us) before overwriting — the reference's ``_check_newer``
    logic."""

    def __init__(self, client):
        self.client = client

    def _prefix(self, project: str, view_name: str) -> str:
        return f"{project}:{view_name}"

    def _write(
        self, project: str, view_name: str, schema_json: str,
        chunks: Iterator[list],
    ) -> None:
        prefix = self._prefix(project, view_name)
        self.client.set(f"{prefix}:_schema", schema_json)
        for chunk in chunks:
            keys = [f"{prefix}:{r['entity_key']}" for r in chunk]
            # read-before-write newest-wins guard, pipelined
            pipe = self.client.pipeline()
            for k in keys:
                pipe.hget(k, "event_us")
            stored = pipe.execute()
            pipe = self.client.pipeline()
            for k, r, old in zip(keys, chunk, stored):
                old_us = int(old) if old is not None else -1
                if r["event_us"] is not None and r["event_us"] >= old_us:
                    pipe.hset(
                        k,
                        mapping={
                            "event_us": r["event_us"],
                            "created_us": (
                                r["created_us"] if r["created_us"] is not None else -1
                            ),
                            "payload": r["payload"],
                        },
                    )
            pipe.execute()

    def _lookup(
        self, project: str, view_name: str, keys: list[str]
    ) -> tuple[list, str | bytes | None]:
        prefix = self._prefix(project, view_name)
        schema_json = self.client.get(f"{prefix}:_schema")
        if schema_json is None:
            return [], None
        pipe = self.client.pipeline()
        for k in keys:
            pipe.hget(f"{prefix}:{k}", "payload")
        # json.loads takes the bytes a real client returns as they are
        return [p for p in pipe.execute() if p is not None], schema_json

    def teardown(self, project: str, view_names: list[str] | None = None) -> None:
        """DEL the project's keys (redis.py teardown: delete by
        ``{project}:*``).  Uses SCAN when the client provides it (the
        production-safe, non-blocking path); falls back to ``keys``."""
        patterns = (
            [f"{project}:{v}:*" for v in view_names]
            if view_names is not None
            else [f"{project}:*"]
        )
        for pattern in patterns:
            if hasattr(self.client, "scan_iter"):
                doomed = list(self.client.scan_iter(match=pattern))
            else:
                doomed = list(self.client.keys(pattern))
            for k in doomed:
                self.client.delete(k)


def connect_redis(url: str):
    """Production constructor: ``redis://host:port/db``.  Gated — the
    redis package is an optional dependency."""
    try:
        import redis  # type: ignore
    except ImportError as e:  # pragma: no cover - env without redis
        raise ImportError(
            "RedisOnlineStore requires the 'redis' package "
            "(pip install redis) or an injected compatible client"
        ) from e
    return RedisOnlineStore(redis.Redis.from_url(url))
