"""A1/A2 — latest-per-key dedup ("argmax by timestamp") and time-range pull.

Mirrors the reference's pull_latest_from_table_or_query
(infra/offline_stores/file.py:218-272, bigquery.py:60-96,
redshift.py:48-97): keep one newest row per entity key within a window,
ordering by event_ts DESC, created_ts DESC.

Window convention (SURVEY §7 "What's hard"): **half-open [start, end)**
for materialization (the pandas engine's choice, FO:259-262); retrieval
as-of windows are inclusive [t-ttl, t] (see asof_join.py).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def time_range_filter(
    df: DataFrame,
    ts_col: str,
    start: datetime | None = None,
    end: datetime | None = None,
) -> DataFrame:
    """P3 — event_ts in [start, end). Catalyst pushes this into the scan."""
    if start is not None:
        df = df.filter(F.col(ts_col) >= F.lit(start))
    if end is not None:
        df = df.filter(F.col(ts_col) < F.lit(end))
    return df


def latest_per_key(
    df: DataFrame,
    join_keys: list[str],
    ts_col: str,
    created_col: str | None = None,
    start: datetime | None = None,
    end: datetime | None = None,
) -> DataFrame:
    """One newest row per key, ordering by (ts DESC[, created DESC]).

    groupBy(keys).agg(max_by(row, (ts, created))): hash aggregation
    with MAP-SIDE PARTIAL COMBINE.  Each task reduces its input to one
    candidate per key before the shuffle, so shuffle volume is
    O(distinct keys), not O(rows) — at 100 TB with hot keys this is the
    difference between a skew stall and an even reduce.  Ties beyond
    (ts, created) resolve arbitrarily (= the reference's ANY_VALUE,
    bigquery.py:650).

    The time filter always runs before the shuffle and is pushed into
    the parquet scan (min/max row-group skipping).
    """
    df = time_range_filter(df, ts_col, start, end)
    payload_cols = [c for c in df.columns if c not in join_keys]
    order_expr = (
        F.struct(F.col(ts_col), F.col(created_col))
        if created_col
        else F.col(ts_col)
    )
    picked = df.groupBy(*join_keys).agg(
        F.max_by(F.struct(*[F.col(c) for c in payload_cols]), order_expr).alias(
            "__row"
        )
    )
    out = picked.select(
        *join_keys, *[F.col(f"__row.{c}").alias(c) for c in payload_cols]
    )
    # restore original column order
    return out.select(*df.columns)
