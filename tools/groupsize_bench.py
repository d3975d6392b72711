"""Measure the as-of plans at high key cardinality.

A cogroup invokes the merge kernel once per GROUP, and its fixed
per-group cost (Arrow batch framing + pandas DataFrame construction +
Python call) dominates the searchsorted work on tiny groups — which is
why ``sorted_merge`` groups on a bucket id (``skew.with_bucket_id``),
never on the keys.  This harness times a worst-case corpus of N
distinct keys with 5 feature rows and 1 entity row each: union_window
(``as_of_join``'s plan without a shared bucket id) and the range-join
formulation over key-bucketed + sorted tables, and the bucket cogroup
(its plan when both sides carry ``with_bucket_id``'s ``__bucket``)
over ``__bucket``-bucketed twins.

Usage:  python tools/groupsize_bench.py [n_keys] [n_buckets]
Prints one JSON line; results recorded in SCALE.md.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from datetime import timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main() -> None:
    n_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    runs = int(os.environ.get("SPARK_GRAFT_SCALE_RUNS", "3"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    warehouse = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scaledata",
        "groupsize-warehouse",
    )
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("feast_spark-groupsize-bench")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.sql.warehouse.dir", warehouse)
        .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from feast_spark.operators.asof_join import (
        AsOfJoinSpec, _asof_range_join, as_of_join,
    )
    from feast_spark.operators.skew import with_bucket_id, write_bucketed

    t0 = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    feat = (
        spark.range(n_keys * 5)
        .select(
            (F.col("id") % n_keys).alias("key"),
            (t0 + F.make_interval(hours=(F.col("id") / n_keys).cast("int")))
            .alias("event_ts"),
            (F.col("id") * 0.5).alias("val"),
        )
    )
    ent = spark.range(n_keys).select(
        F.col("id").alias("key"),
        (t0 + F.expr("INTERVAL 10 HOURS")).alias("ts"),
    )
    write_bucketed(feat, "gs_feat", ["key"], n_buckets,
                   sort_cols=["key", "event_ts"])
    write_bucketed(ent, "gs_ent", ["key"], n_buckets, sort_cols=["key", "ts"])
    # bucket-granularity twins: bucketed + sorted on the materialized
    # __bucket column so the cogroup-on-__bucket plan is Exchange-free
    write_bucketed(
        with_bucket_id(feat, ["key"], n_buckets), "gs_featb",
        ["__bucket"], n_buckets, sort_cols=["__bucket", "key", "event_ts"],
    )
    write_bucketed(
        with_bucket_id(ent, ["key"], n_buckets), "gs_entb",
        ["__bucket"], n_buckets, sort_cols=["__bucket", "key", "ts"],
    )
    featb, entb = spark.table("gs_feat"), spark.table("gs_ent")
    featbb, entbb = spark.table("gs_featb"), spark.table("gs_entb")

    def run(join, e, f) -> float:
        spec = AsOfJoinSpec(
            feature_df=f,
            join_keys=["key"],
            timestamp_col="event_ts",
            features=["val"],
            ttl=timedelta(days=2),
        )
        samples = []
        for _ in range(runs):
            t = time.monotonic()
            join(e, "ts", spec).count()
            samples.append(time.monotonic() - t)
        return round(statistics.median(samples), 3)

    rule = lambda e, ts, spec: as_of_join(e, ts, [spec])
    out = {
        "union_window": run(rule, entb, featb),
        "range_join": run(_asof_range_join, entb, featb),
        "sorted_merge_bucket": run(rule, entbb, featbb),
    }
    print(
        json.dumps(
            {
                "metric": "asof_groupsize_bench",
                "n_keys": n_keys,
                "n_buckets": n_buckets,
                "runs": runs,
                "seconds": out,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
