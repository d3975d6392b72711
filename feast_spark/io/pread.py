"""Memoized local parquet reads.

``spark.read.parquet(path)`` runs a footer-reading schema-inference
job on every call, and (when the path count or partition-dir count
crosses ``spark.sql.sources.parallelPartitionDiscovery.threshold``,
default 32) a distributed *file-listing* job as well — measured
0.2-0.25 s per call on a 64-cell IVF vectors read, twice per hybrid
serving call.  Snapshot/epoch paths in this package are immutable once
committed (writers always create a NEW directory), so both the
inferred schema AND the resolved relation (whose ``InMemoryFileIndex``
caches the leaf-file listing) can be memoized per file identity.

The memo key is the full recursive (relpath, mtime_ns, size) listing
of each path — a driver-side ``os.walk`` costing ~1 ms for the few
hundred files of an index/snapshot dir — so ANY out-of-band change
(file added, replaced, or removed anywhere under the path) changes
the key and misses onto a fresh read; an unchanged path returns the
SAME DataFrame, which Spark re-plans per query but never re-lists or
re-infers.  DataFrames are session-bound, so the key carries the
session identity; entries age out LRU (bounded cache).

Only LOCAL paths are memoized — remote schemes (s3a:// etc.) skip the
memo (os.stat can't see them) and keep the plain read.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession

_MAX_ENTRIES = 64

_DF_MEMO: OrderedDict[tuple, DataFrame] = OrderedDict()
# serving threads share the memo: a get -> move_to_end racing another
# thread's eviction would raise KeyError inside a request
_DF_MEMO_LOCK = threading.Lock()


def _path_token(path: str) -> tuple | None:
    """Recursive content identity of a local directory (or file):
    sorted (relpath, mtime_ns, size) triples.  None when the path is
    not locally stat-able (remote scheme, missing)."""
    if os.path.isfile(path):
        try:
            st = os.stat(path)
        except OSError:
            return None
        return ((os.path.basename(path), st.st_mtime_ns, st.st_size),)
    if not os.path.isdir(path):
        return None
    entries = []
    try:
        for root, dirs, files in os.walk(path):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append(
                    (os.path.relpath(p, path), st.st_mtime_ns, st.st_size)
                )
    except OSError:
        return None
    return tuple(entries)


def read_parquet_memo(
    spark: SparkSession, *paths: str, base_path: str | None = None
) -> DataFrame:
    """``spark.read.parquet`` with the schema-inference job AND the
    file-listing job memoized away on repeat reads of unchanged local
    paths: the same (analyzed) DataFrame comes back, its
    ``InMemoryFileIndex`` already holding the leaf-file list.

    Multi-path epoch reads key on the tuple of per-path recursive
    identities; ``base_path`` (partition discovery root) is part of
    the key, as is the owning session (DataFrames are session-bound).
    The memoized schema is the INFERRED one, so partition columns keep
    their discovered names/types/order and their values still parse
    from the directory names."""
    tokens = tuple(_path_token(p) for p in paths)
    try:
        # stable session identity: id(jobj) can alias a recycled
        # address after GC; the JVM session's UUID cannot
        session_token = spark._jsparkSession.sessionUUID()
    except Exception:
        session_token = id(spark._jsparkSession)
    key = (
        None
        if any(t is None for t in tokens)
        else (
            spark.sparkContext.applicationId,
            session_token,
            tuple(os.path.abspath(p) for p in paths),
            tokens,
            base_path,
        )
    )
    if key is not None:
        with _DF_MEMO_LOCK:
            df = _DF_MEMO.get(key)
            if df is not None:
                _DF_MEMO.move_to_end(key)
                return df
    reader = spark.read
    if base_path is not None:
        reader = reader.option("basePath", base_path)
    df = reader.parquet(*paths)
    if key is not None:
        with _DF_MEMO_LOCK:
            _DF_MEMO[key] = df
            while len(_DF_MEMO) > _MAX_ENTRIES:
                _DF_MEMO.popitem(last=False)
    return df
