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
  ``toLocalIterator`` and upserts into the KV in chunked transactions,
  mirroring the reference's driver-side write loop;
- merge-with-existing happens IN the KV via a conditional upsert
  (newest wins), so the store is never read back into Spark.

Values travel as ``to_json`` payloads with the Spark schema recorded at
write time, so timestamps/arrays/structs/binary round-trip exactly
(``from_json`` with the recorded schema on read) — replacing the
reference's ValueProto blobs (type_map.py:163-297) with a
self-describing encoding that needs no generated code.

Scale posture: a KV row set bounded by entity cardinality is exactly
what these stores are for (the reference's sqlite store is its
local/dev path too); when the key space outgrows one node, the
parquet/Delta snapshot store or a cluster KV behind the same contract
is the documented path — the distributed merge plan is unchanged.
"""

from __future__ import annotations

import json
import sqlite3
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from feast_spark.online.store import (
    _CREATED_TS,
    _EVENT_TS,
    _KEY,
    project_incoming,
)
from feast_spark.operators.dedup import latest_per_key

_CHUNK = 1000
# default to_json truncates to milliseconds; keep full µs fidelity
_JSON_OPTS = {"timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"}


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


def _chunked(it: Iterator, n: int) -> Iterable[list]:
    buf: list = []
    for x in it:
        buf.append(x)
        if len(buf) >= n:
            yield buf
            buf = []
    if buf:
        yield buf


def _parse_hits(
    spark: SparkSession,
    payloads: list[str],
    schema_json: str | None,
    feature_cols: list[str],
) -> dict[str, dict]:
    """``{key: row}`` from stored JSON payloads, decoded with the
    recorded schema by Spark's ``from_json`` (µs timestamps, arrays,
    structs and binary round-trip exactly) in one collect of a
    hits-only LocalRelation.  No hits: no Spark at all."""
    if schema_json is None or not payloads:
        return {}
    schema = StructType.fromJson(json.loads(schema_json))
    from feast_spark.io.localframe import local_df

    # LocalRelation: the request-sized payload frame never pays a
    # pickled-RDD Python stage (guide §4)
    raw = local_df(spark, [(p,) for p in payloads], "payload STRING")
    parsed = raw.select(
        F.from_json("payload", schema, _JSON_OPTS).alias("j")
    ).select("j.*")
    # schema evolution: a feature added after the write reads None
    avail = [f for f in feature_cols if f in parsed.columns]
    hits: dict[str, dict] = {}
    for r in parsed.select(_KEY, _EVENT_TS, *avail).collect():
        if r[_EVENT_TS] is not None:  # a NULL event ts never served
            row = dict.fromkeys(feature_cols)
            row.update(r.asDict())
            hits[row.pop(_KEY)] = row
    return hits


def _read_via_lookup(
    store,
    spark: SparkSession,
    project: str,
    view_name: str,
    keys: list[str],
    feature_cols: list[str],
    as_of=None,
) -> list[dict | None]:
    """Shared ``online_read``: point-lookup the distinct request keys
    in the KV from the driver — the reference's online_read loop
    (sqlite.py:139-166) — and answer one ``dict | None`` per key, in
    key order.  The KV is never scanned.  KV backends overwrite in
    place, so there is no snapshot to serve ``as_of`` from."""
    if as_of is not None:
        raise ValueError(
            f"{type(store).__name__} keeps no history; as_of reads need "
            "the parquet online store"
        )
    distinct = list(dict.fromkeys(keys))
    payloads, schema_json = store._lookup(project, view_name, distinct)
    hits = _parse_hits(spark, payloads, schema_json, feature_cols)
    return [hits.get(k) for k in keys]


class SqliteOnlineStore:
    """SQLite-backed online store (reference infra/online_stores/sqlite.py).

    One row per entity key per ``{project}_{view}`` table; conditional
    upsert keeps the newest (event_ts, created_ts) — the reference's
    UPDATE-then-INSERT-OR-IGNORE pair collapsed into one
    ``ON CONFLICT DO UPDATE ... WHERE`` statement."""

    def __init__(self, path: str):
        self.path = path
        self._conn: sqlite3.Connection | None = None

    def _get_conn(self) -> sqlite3.Connection:
        if self._conn is None:
            import os

            parent = os.path.dirname(self.path)
            if parent:
                os.makedirs(parent, exist_ok=True)
            # check_same_thread=False: foreachBatch callbacks run on the
            # streaming query thread; batch upserts are serialized, so
            # cross-thread reuse of the single connection is safe
            self._conn = sqlite3.connect(self.path, check_same_thread=False)
            self._conn.execute(
                "CREATE TABLE IF NOT EXISTS _feast_schemas ("
                "table_id TEXT PRIMARY KEY, schema_json TEXT)"
            )
        return self._conn

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
        tid = _table_id(project, view_name)
        conn = self._get_conn()
        conn.execute(
            f'CREATE TABLE IF NOT EXISTS "{tid}" ('
            "entity_key TEXT PRIMARY KEY, event_us INTEGER, "
            "created_us INTEGER, payload TEXT)"
        )
        upsert = (
            f'INSERT INTO "{tid}" (entity_key, event_us, created_us, payload) '
            "VALUES (?, ?, ?, ?) "
            "ON CONFLICT(entity_key) DO UPDATE SET "
            "event_us=excluded.event_us, created_us=excluded.created_us, "
            "payload=excluded.payload "
            "WHERE excluded.event_us > event_us OR (excluded.event_us = event_us "
            "AND COALESCE(excluded.created_us, -1) >= COALESCE(created_us, -1))"
        )
        with conn:
            conn.execute(
                "INSERT INTO _feast_schemas (table_id, schema_json) VALUES (?, ?) "
                "ON CONFLICT(table_id) DO UPDATE SET schema_json=excluded.schema_json",
                (tid, schema_json),
            )
            # one row per distinct entity key streams from the cluster
            for chunk in _chunked(rows.toLocalIterator(), _CHUNK):
                conn.executemany(
                    upsert,
                    [
                        (r["entity_key"], r["event_us"], r["created_us"], r["payload"])
                        for r in chunk
                    ],
                )

    def _lookup(
        self, project: str, view_name: str, keys: list[str]
    ) -> tuple[list[str], str | None]:
        tid = _table_id(project, view_name)
        conn = self._get_conn()
        row = conn.execute(
            "SELECT schema_json FROM _feast_schemas WHERE table_id = ?", (tid,)
        ).fetchone()
        if row is None:
            return [], None
        payloads: list[str] = []
        for chunk in _chunked(iter(keys), 500):  # sqlite variable limit
            marks = ",".join("?" * len(chunk))
            payloads.extend(
                r[0]
                for r in conn.execute(
                    f'SELECT payload FROM "{tid}" WHERE entity_key IN ({marks})',
                    chunk,
                )
            )
        return payloads, row[0]

    def online_read(self, *args, **kwargs) -> list[dict | None]:
        """Driver-side multiget (``_read_via_lookup``): one
        ``SELECT ... IN`` per 500 distinct keys."""
        return _read_via_lookup(self, *args, **kwargs)

    def expire(self, spark, project: str, view_name: str, cutoff) -> int:
        """TTL sweep: one indexed DELETE of rows older than ``cutoff``
        (storage reclaim; mirrors OnlineStore.expire).  Returns the
        number of rows removed."""
        tid = _table_id(project, view_name)
        conn = self._get_conn()
        cutoff_us = int(cutoff.timestamp() * 1_000_000)
        with conn:
            try:
                cur = conn.execute(
                    f'DELETE FROM "{tid}" WHERE event_us < ?', (cutoff_us,)
                )
            except Exception:
                return 0  # table never materialized
            return cur.rowcount

    def teardown(self, project: str, view_names: list[str] | None = None) -> None:
        """DROP the project's tables (sqlite.py teardown: DROP TABLE)."""
        conn = self._get_conn()
        with conn:
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


class RedisOnlineStore:
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
        prefix = self._prefix(project, view_name)
        self.client.set(f"{prefix}:_schema", schema_json)
        for chunk in _chunked(rows.toLocalIterator(), _CHUNK):
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
    ) -> tuple[list[str], str | None]:
        prefix = self._prefix(project, view_name)
        schema_json = self.client.get(f"{prefix}:_schema")
        if schema_json is None:
            return [], None
        if isinstance(schema_json, bytes):
            schema_json = schema_json.decode()
        pipe = self.client.pipeline()
        for k in keys:
            pipe.hget(f"{prefix}:{k}", "payload")
        found = pipe.execute()
        payloads = [
            p.decode() if isinstance(p, bytes) else p for p in found if p is not None
        ]
        return payloads, schema_json

    def online_read(self, *args, **kwargs) -> list[dict | None]:
        """Driver-side multiget (``_read_via_lookup``): one pipelined
        ``HGET`` per distinct key."""
        return _read_via_lookup(self, *args, **kwargs)

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
