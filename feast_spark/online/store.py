"""S8/S9 — online KV store as a keyed columnar table.

The reference's online stores are row-oriented KV engines (sqlite DDL at
infra/online_stores/sqlite.py:166-187, Redis HSET redis.py:133-168) keyed
by a canonical serialized entity key (infra/key_encoding_utils.py:22-48:
sorted join keys, deterministic encoding).  Spark-native design: one
columnar table per (project, view), keyed by a deterministic string
encoding of the sorted join keys; upsert = union + latest-per-key +
versioned-snapshot commit.  Spark is the WRITE path: the merge plan is
distributed, and on a production deployment the same plan targets Delta
``MERGE INTO`` or an external KV via ``foreachBatch`` (``online/kv.py``,
``online/cloud.py``); the storage backend is pluggable, the merge plan
identical.

Commit protocol (object-store safe — no directory renames anywhere):
each view is a ``ManifestedParquetTable`` (``io/manifest.py``) with the
layout ``_MANIFEST.json`` (head), ``_history/commit_seq=N.json`` (every
commit), ``_TAGS.json`` and immutable ``v_NNNNNNNN/`` snapshots.  A
write reads the head once (snapshot path and ``commit_seq``), merges
the incoming rows over that snapshot, writes a FRESH ``v_NNNNNNNN``
directory and publishes it with a compare-and-swap on the seq it read.
If another writer committed in between (a streaming sink plus a manual
backfill of one view), the staged directory is deleted and the
writer re-reads the head, re-merges the same incoming rows and commits
again, raising ``ConcurrentCommitError`` after ``epochs.COMMIT_ATTEMPTS``
lost races.  The newest-wins merge is commutative, so a retry lands the
rows a serial run would; a TTL sweep (``expire``) retries the same way.
Readers resolve the head once per query and only ever see a fully
written snapshot; a crashed writer leaves an orphan directory that the
next commit numbers past and GC later removes.  Filesystem access is
behind ``StoreFS`` (LocalFS for tests/POSIX, HadoopFS for any scheme
the cluster resolves).

The READ path is driver-side, like the reference's point lookup
(sqlite.py:139-166, the multiget in feature_store.py:568-587): the
request never becomes a DataFrame.  ``encode_request_keys`` encodes the
request rows in Python, and every backend answers
``online_read(project, view, keys, feature_cols, as_of=None)`` with one
``dict | None`` per key, in key order; no backend takes a Spark session
to read.  This store reads the resolved snapshot's parquet files through
its own ``StoreFS`` and filters them with pyarrow on the key column.
Like the Spark scan it replaced, the read scans every file of the
snapshot (the key filter prunes only row groups whose key range misses
every requested key).  There is deliberately no read cache: a
per-snapshot index answered in ~2 ms warm but cost ~185 ms to rebuild
after each commit, against ~25 ms for the plain read of three 1-2 MB
snapshots (4 vCPU host), and a serving workload that commits between
requests pays the rebuild every time; with no cache there is nothing to
invalidate or lock, so concurrent serving threads share no state.

Key encoding: ``k1=v1|k2=v2`` over join keys sorted by name —
order-insensitive and deterministic across partitions, mirroring the
reference's sorted length-prefixed binary encoding without wire compat
(not needed: helpers.py murmur3 keys are a Redis-specific detail).  The
Spark (``encode_entity_key``, write side) and Python
(``encode_request_keys``, read side) encoders live together here so the
format has one owner.
"""

from __future__ import annotations

import numbers
import posixpath
from collections.abc import Callable
from datetime import date, datetime, timezone
from decimal import Decimal

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from feast_spark.io.epochs import (
    COMMIT_ATTEMPTS,
    MANIFEST,
    ConcurrentCommitError,
)
from feast_spark.io.fs import LocalFS, StoreFS
from feast_spark.io.pread import read_parquet_memo
from feast_spark.io.manifest import ManifestedParquetTable
from feast_spark.operators.dedup import latest_per_key

_KEY = "__entity_key"
_EVENT_TS = "__event_ts"
_CREATED_TS = "__created_ts"


def encode_entity_key(join_keys: list[str]) -> F.Column:
    """Deterministic, order-insensitive key column (key_encoding_utils.py:22-48)."""
    parts = []
    for k in sorted(join_keys):
        parts.append(F.concat(F.lit(f"{k}="), F.col(k).cast("string")))
    return F.concat_ws("|", *parts)


def _java_double(x: float) -> str:
    """``CAST(x AS STRING)`` of a Spark double — Java's
    ``Double.toString`` layout (plain in [1e-3, 1e7), else ``d.dddE±n``)
    over Python's shortest round-trip digits.  JDKs before 19 print a
    few rare doubles with a longer digit string; float join keys on
    such values would not match there."""
    if x != x:
        return "NaN"
    if x in (float("inf"), float("-inf")):
        return "Infinity" if x > 0 else "-Infinity"
    if 1e-3 <= abs(x) < 1e7 or x == 0:
        return repr(x)  # Python prints this range plainly, with ".0"
    sign, digits, exp = Decimal(repr(x)).normalize().as_tuple()
    mant = "".join(map(str, digits))
    return (
        f"{'-' if sign else ''}{mant[0]}.{mant[1:] or '0'}"
        f"E{len(digits) + exp - 1}"
    )


def _key_text(name: str, v) -> str | None:
    """The string Spark's ``CAST(v AS STRING)`` gives for the value
    ``createDataFrame`` infers from ``v`` (session timezone UTC, naive
    datetimes UTC — the repo convention); None for a null part."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, str):
        return v
    if isinstance(v, float):
        return _java_double(float(v))
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(timezone.utc).replace(tzinfo=None)
        # Spark drops the fraction's trailing zeros, and all of it at 0
        frac = f".{v.microsecond:06d}".rstrip("0") if v.microsecond else ""
        return v.isoformat(sep=" ", timespec="seconds") + frac
    if isinstance(v, date):
        return v.isoformat()
    raise TypeError(
        f"join key {name!r}: {type(v).__name__} value {v!r} has no exact "
        "key encoding; pass int, str, bool, float, datetime or date"
    )


def encode_request_keys(rows: list[dict], join_keys: list[str]) -> list[str]:
    """The ``encode_entity_key`` string of each request row, computed in
    Python: the read-side twin of the Spark encoder, so a request never
    has to become a DataFrame.  A null key value drops its part, as
    ``concat_ws`` does; a missing join key raises ``KeyError``."""
    names = sorted(join_keys)
    return [
        "|".join(
            f"{k}={text}"
            for k in names
            if (text := _key_text(k, row[k])) is not None
        )
        for row in rows
    ]


def project_incoming(
    df: DataFrame,
    join_keys: list[str],
    ts_col: str,
    created_col: str | None,
    feature_cols: list[str],
) -> DataFrame:
    """Canonical online-row projection shared by every backend:
    encoded entity key + join keys + normalized ts columns + features."""
    return df.select(
        encode_entity_key(join_keys).alias(_KEY),
        *[F.col(k) for k in join_keys],
        F.col(ts_col).alias(_EVENT_TS),
        (
            F.col(created_col) if created_col else F.lit(None).cast("timestamp")
        ).alias(_CREATED_TS),
        *[F.col(f) for f in feature_cols],
    )


class OnlineStore:
    def __init__(
        self,
        root: str,
        fs: StoreFS | None = None,
        keep_versions: int | None = None,
    ):
        """``keep_versions=None`` defers to each view table's
        manifest-stored window (io/manifest.py) — so a vacuum from a
        process configured differently than the materializer honors
        the committer's retention.  An explicit int overrides (and is
        persisted by the next materialization)."""
        self.root = root
        self.fs = fs or LocalFS()
        self.keep_versions = (
            None if keep_versions is None else max(1, keep_versions)
        )

    def table(self, project: str, view_name: str) -> ManifestedParquetTable:
        """The view's snapshot table (``io/manifest.py``): its head,
        commit archive, tags and ``vacuum`` are the table's own verbs."""
        return ManifestedParquetTable(
            posixpath.join(self.root, project, view_name),
            fs=self.fs, keep_versions=self.keep_versions,
        )

    # -- write / read ------------------------------------------------------

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
        meta: dict | None = None,
    ) -> None:
        """Per-key upsert: newest (event_ts, created_ts) wins, matching
        the sqlite UPDATE + INSERT-OR-IGNORE semantics (sqlite.py:76-128).

        ``meta`` merges into the snapshot manifest (io/manifest.py
        commit) — the streaming sink stamps its ``stream_epoch``
        watermark here so a provenance snapshot can record how far a
        never-stopping ingestion had gotten.  A concurrent commit makes
        it re-merge and retry (module docstring)."""
        incoming = project_incoming(df, join_keys, ts_col, created_col, feature_cols)

        def merge(current):
            rows = incoming
            if current is not None:
                existing = read_parquet_memo(spark, current)
                # schema evolution: tolerate new feature columns
                for c in incoming.columns:
                    if c not in existing.columns:
                        existing = existing.withColumn(
                            c, F.lit(None).cast(incoming.schema[c].dataType)
                        )
                rows = existing.select(*incoming.columns).unionByName(incoming)
            return latest_per_key(rows, [_KEY], _EVENT_TS, created_col=_CREATED_TS)

        self._read_modify_write(project, view_name, merge, meta)

    def _read_modify_write(
        self,
        project: str,
        view_name: str,
        derive: Callable[[str | None], DataFrame | None],
        meta: dict | None = None,
    ) -> None:
        """Commit ``derive(head snapshot path or None)`` over the head it
        was derived from; on a lost compare-and-swap re-read the head
        and derive again, up to ``COMMIT_ATTEMPTS`` times.  ``derive``
        returning None commits nothing."""
        table = self.table(project, view_name)
        for attempt in range(COMMIT_ATTEMPTS):
            current, seq = table.head()
            rows = derive(current)
            if rows is None:
                return
            try:
                table.commit(rows, meta=meta, base_seq=seq)
                return
            except ConcurrentCommitError:
                if attempt + 1 == COMMIT_ATTEMPTS:
                    raise

    def expire(
        self,
        spark: SparkSession,
        project: str,
        view_name: str,
        cutoff,
    ) -> int:
        """TTL sweep: drop rows with event_ts older than ``cutoff``,
        committed as a new snapshot through the same manifest-flip
        protocol as writes (readers never see a partial sweep; a
        crashed sweep leaves only an orphan the next commit numbers
        past).  Returns the number of expired rows.  The reference
        relies on each read filtering by ttl — this reclaims the
        storage too.  A concurrent write makes it sweep the new head
        and retry, so the write's rows survive."""
        n_expired = 0

        def sweep(current):
            nonlocal n_expired
            n_expired = 0
            if current is None:
                return None
            existing = read_parquet_memo(spark, current)
            live = existing.where(F.col(_EVENT_TS) >= F.lit(cutoff))
            n_expired = existing.count() - live.count()
            return live if n_expired else None

        self._read_modify_write(project, view_name, sweep)
        return n_expired

    def staleness(
        self,
        spark: SparkSession,
        project: str,
        view_name: str,
        now,
    ):
        """Serving-freshness profile of the current snapshot — one
        aggregate job over the KV table: key count, age quantiles of
        the latest materialized value per key (p50/p90/p99/max), and
        the fraction older than a given reference instant would deem
        stale is left to the caller via the quantiles.  ``now`` is an
        explicit datetime (deterministic verdicts; pass the clock you
        serve against).  Returns a dict; empty table -> n_keys=0 and
        None ages.

        This is the monitoring half of the freshness story: the
        ``expectations.freshness`` check gates the SOURCE before
        materialize; this profiles what serving actually holds."""
        path = self.table(project, view_name).current_path()
        if path is None:
            return {"n_keys": 0, "age_p50_s": None, "age_p90_s": None,
                    "age_p99_s": None, "age_max_s": None}
        snap = read_parquet_memo(spark, path)
        age = F.lit(now).cast("timestamp").cast("double") - F.col(
            _EVENT_TS
        ).cast("double")
        row = snap.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "percentile_approx("
                f"CAST('{now}' AS TIMESTAMP) - {_EVENT_TS}, "
                "array(0.5, 0.9, 0.99), 10000)"
            ).alias("q"),
            F.max(age).alias("mx"),
        ).head()
        if row["n"] == 0:
            return {"n_keys": 0, "age_p50_s": None, "age_p90_s": None,
                    "age_p99_s": None, "age_max_s": None}
        q = [v.total_seconds() if v is not None else None for v in row["q"]]
        return {
            "n_keys": row["n"],
            "age_p50_s": q[0],
            "age_p90_s": q[1],
            "age_p99_s": q[2],
            "age_max_s": row["mx"],
        }

    def teardown(self, project: str, view_names: list[str] | None = None) -> None:
        """Drop online state (provider.teardown_infra,
        infra/local.py): the whole project dir, or named view tables."""
        if view_names is None:
            self.fs.delete(posixpath.join(self.root, project))
        else:
            for v in view_names:
                self.fs.delete(posixpath.join(self.root, project, v))

    #: the parquet store keeps ``keep_versions`` immutable snapshots, so
    #: it can serve time-travel reads; KV backends overwrite in place
    #: and cannot (feature_store.get_online_features checks this flag
    #: before passing as_of through)
    supports_time_travel = True

    def online_read(
        self,
        project: str,
        view_name: str,
        keys: list[str],
        feature_cols: list[str],
        as_of=None,
    ) -> list[dict | None]:
        """J4 — multiget of encoded entity keys (``encode_request_keys``)
        against the view's snapshot, driver-side (feature_store.py:568-587).
        Returns one entry per key, in key order: a hit is a dict with
        ``__event_ts`` (naive UTC) and every column in ``feature_cols``;
        a miss is None.  No Spark job runs: the snapshot's parquet files
        are read through ``self.fs`` and filtered with pyarrow.

        ``as_of`` (datetime, naive = UTC; or an int commit seq) serves
        the read from the snapshot that was current THEN — what did we
        serve this entity yesterday 14:00? — resolved through the
        commit archive (``io/manifest.path_as_of``); snapshots
        older than the ``keep_versions`` GC window raise with the
        surviving range.  Degradation matches the head path's: a view
        NEVER materialized serves misses (it would have then, too),
        and a feature column added after the replayed instant serves
        None (serving then had no such column) — only an
        actually-expired snapshot errors."""
        table = self.table(project, view_name)
        if as_of is not None:
            if as_of == 0:
                # seq 0 = "before the first commit" (numbering starts
                # at 1): the pre-history replay a provenance record
                # pins for a view that was never materialized when the
                # snapshot was taken (provenance.NEVER_MATERIALIZED) —
                # serving then returned NOT_FOUND rows, so replay does
                path = None
            elif not self.fs.exists(posixpath.join(table.root, MANIFEST)):
                # never committed: the head path serves NOT_FOUND rows
                # for this state, and so did serving at the instant
                path = None
            else:
                path = table.path_as_of(as_of)
        else:
            path = table.current_path()
        if path is None or not keys:
            return [None] * len(keys)
        hits = self._read_hits(path, sorted(set(keys)), feature_cols)
        return [hits.get(k) for k in keys]

    def _read_hits(
        self, path: str, keys: list[str], feature_cols: list[str]
    ) -> dict[str, dict]:
        """``{key: row}`` for the requested keys present in the snapshot
        at ``path``, scanning each of its parquet files."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        hits: dict[str, dict] = {}
        for name in sorted(self.fs.list_files(path)):
            # Spark writes part-*.parquet plus _SUCCESS and .crc files
            if name.startswith((".", "_")) or not name.endswith(".parquet"):
                continue
            data = self.fs.read_bytes(posixpath.join(path, name))
            names = pq.read_schema(pa.BufferReader(data)).names
            # a feature column the snapshot predates (schema evolution
            # lands new columns only in newer snapshots) serves None —
            # on the as_of path that IS the faithful replay
            present = [f for f in feature_cols if f in names]
            table = pq.read_table(
                pa.BufferReader(data),
                columns=[_KEY, _EVENT_TS, *present],
                filters=[(_KEY, "in", keys)],
                coerce_int96_timestamp_unit="us",
            )
            for row in _collect_rows(table):
                key = row.pop(_KEY)
                if row[_EVENT_TS] is not None:  # a NULL event ts never served
                    hits[key] = {**dict.fromkeys(feature_cols), **row}
        return hits


def _collect_rows(table) -> list[dict]:
    """The table's rows as the Python values a Spark ``collect`` gives:
    timestamps naive UTC, structs as ``Row``, maps as ``dict``."""
    import pyarrow as pa

    cols = {}
    for name, col in zip(table.column_names, table.columns):
        if pa.types.is_timestamp(col.type) and col.type.tz is not None:
            col = col.cast(pa.timestamp(col.type.unit))  # keeps UTC wall time
        vals = col.to_pylist()
        if pa.types.is_nested(col.type):
            vals = [_spark_value(v, col.type) for v in vals]
        cols[name] = vals
    return [dict(zip(cols, vs)) for vs in zip(*cols.values())]


def _spark_value(v, typ):
    import pyarrow as pa

    if v is None:
        return None
    if pa.types.is_struct(typ):
        return Row(**{f.name: _spark_value(v[f.name], f.type) for f in typ})
    if pa.types.is_map(typ):
        return {k: _spark_value(x, typ.item_type) for k, x in v}
    if pa.types.is_list(typ) or pa.types.is_large_list(typ):
        return [_spark_value(x, typ.value_type) for x in v]
    return v
