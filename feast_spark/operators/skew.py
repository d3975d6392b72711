"""Skew- and shuffle-management utilities.

AQE handles moderate skew transparently (split oversized reduce
partitions); these are the explicit tools for the cases AQE can't fix:

* ``salted_join`` — a hot join key whose matching right-side rows still
  fit in memory but whose *left-side* row count dwarfs every other
  partition: salt the left into B sub-keys, replicate the right B times,
  join on (key, salt). Turns one straggler task into B even ones at the
  cost of B× the (small) right side — the standard salting rewrite, as
  a reusable operator instead of hand-rolled per pipeline.

* ``write_bucketed`` / co-located reads — pre-shuffle the big fact
  table ONCE at write time (``bucketBy`` on the join key); every later
  join or aggregation on that key skips its Exchange entirely. The
  right answer for feature tables that are PIT-joined every training
  run: pay the shuffle at materialization, never at retrieval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feast_spark.functions.text import sql_ident

# column-metadata key under which with_bucket_id records what it hashed
BUCKET_ID = "bucket_id"


def salted_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Join with the left side salted into ``salt_buckets`` sub-keys and
    the right side replicated per salt value.

    Semantics identical to ``left.join(right, keys, how)`` for
    ``inner`` and ``left`` joins (each left row carries exactly one
    salt; every (key, salt) finds the replicated right rows).  The salt
    is deterministic (xxhash64 of the whole left row) so task retries
    and speculative execution stay consistent.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    overlap = [c for c in right.columns if c in left.columns and c not in keys]
    if overlap:
        raise ValueError(
            f"ambiguous non-key columns on both sides: {overlap}"
        )
    salt = F.pmod(
        F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt_buckets)
    ).cast("int")
    lhs = left.withColumn("__salt", salt)
    rhs = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    return lhs.join(rhs, keys + ["__salt"], how).drop("__salt")


def with_bucket_id(
    df: DataFrame,
    key_cols: list[str],
    n_buckets: int,
    col: str = "__bucket",
) -> DataFrame:
    """Materialize a bucket-id column: ``pmod(murmur3(keys), n)`` — the
    same function Spark's ``bucketBy`` applies to the keys themselves.

    Written onto BOTH sides of a join with the same keys + n, it is a
    shared coarse grouping: every key's rows land in the same bucket
    value on both sides, so a cogroup on this single column co-locates
    whole key families with O(n_buckets) groups.  That is the bucket-
    granularity contract of the as-of ``sorted_merge`` plan.  The
    column's metadata records what it hashes (``BUCKET_ID``: key names
    in hash order, their types, n) and survives selects, renames and
    bucketed-table writes; ``as_of_join`` picks the cogroup only when
    both sides' records match its join keys, so ids over other keys,
    another n, or keys of another type (murmur3 hashes an INT and a
    LONG differently) never meet in one cogroup.  Write each table
    ``write_bucketed(with_bucket_id(df, keys, n), t, ['__bucket'], n,
    sort_cols=['__bucket', *keys, ts])`` and PIT retrieval runs with
    zero Exchange, zero Sort, and one Arrow call per bucket."""
    stamp = {
        "keys": list(key_cols),
        "types": [df.schema[k].dataType.simpleString() for k in key_cols],
        "n": n_buckets,
    }
    bucket = F.pmod(
        F.hash(*[F.col(sql_ident(k)) for k in key_cols]), F.lit(n_buckets)
    )
    return df.withColumn(col, bucket.alias(col, metadata={BUCKET_ID: stamp}))


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    format: str = "parquet",
    one_file_per_bucket: bool = True,
) -> None:
    """Persist ``df`` hash-bucketed (and optionally sorted) on the join
    key.  Joins and aggregations between tables bucketed with the SAME
    column set and bucket count read co-located: Catalyst drops both
    Exchanges (pinned by tests/test_skew.py).

    ``one_file_per_bucket`` (default) pre-repartitions on the bucket
    columns with exactly ``n_buckets`` partitions — the same
    murmur3-pmod function Spark's bucketing uses — so each bucket is
    written by one task as ONE file.  That is the condition under which
    the scan reports its ``sortBy`` ordering (``outputOrdering``):
    downstream sort-merge joins and cogroups then need no Sort node at
    all.  Without it, every writing task emits its own file per bucket
    and the on-disk sort is unusable at read time.

    Cost note: ``one_file_per_bucket=True`` adds a full repartition
    shuffle to the write, and each bucket is then written by a SINGLE
    task holding that whole bucket — so n_buckets must be sized for
    per-task memory as well as file size (a 1 TB table with 64 buckets
    means ~16 GB per write task: too big; use 2048).  Pass ``False``
    to skip the shuffle and let each input task write its own file per
    bucket — cheaper write, but the scan can no longer report
    ``sortBy`` ordering, so downstream merge joins re-Sort.

    Buckets are Spark's write-side hash partitioning; at 100 TB choose
    n_buckets so each bucket file lands near the target partition size
    (e.g. 2048 buckets for a 1 TB table → ~500 MB buckets)."""
    if one_file_per_bucket:
        df = df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
    writer = df.write.format(format).mode(mode).bucketBy(
        n_buckets, *bucket_cols
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)
