"""Online read-path latency profile: get_online_features at 1 / 100 /
10k request keys against the parquet-snapshot and SQLite stores.

The reference's only performance artifact is an online WRITE throughput
script (sdk/python/tests/online_write_benchmark.py:46-95); this is the
read-path counterpart.  Neither path runs Spark code: the parquet
snapshot store filters the snapshot's files with pyarrow on the
request keys (latency grows with snapshot size), and the SQLite path
is the reference's local-serving shape (per-key point lookups; a hit's
JSON payload decodes in Python against the schema recorded at write
time).  Run solo (timing protocol, SCALE.md).

Usage: python tools/online_bench.py   -> one JSON line; the table is
recorded in SCALE.md / README.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _build_store(spark, sf_dir: str, tmp: str, kind: str):
    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
    )
    from feast_spark.sources.testdata import load_table

    src = f"{tmp}/events_src.parquet"
    if not os.path.exists(src):
        load_table(spark, sf_dir, "events").select(
            "user_id", "ts", "value", "event_type"
        ).write.parquet(src)
    st = FeatureStore(
        spark,
        RepoConfig(
            project=f"bench_{kind}",
            registry_path=f"{tmp}/registry_{kind}.json",
            online_store_path=(
                f"{tmp}/online_{kind}.db" if kind == "sqlite" else f"{tmp}/online_{kind}"
            ),
            online_store_type=kind,
        ),
    )
    st.apply(
        [
            Entity(name="user", join_key="user_id", value_type=ValueType.INT64),
            FeatureView(
                name="user_latest",
                entities=["user"],
                ttl=timedelta(days=365),
                batch_source=FileSource(path=src, event_timestamp_column="ts"),
            ),
        ]
    )
    st.materialize(datetime(2024, 1, 1), datetime(2024, 2, 1))
    return st


def main() -> None:
    from pyspark.sql import SparkSession

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    counts = [
        int(c) for c in os.environ.get("SPARK_GRAFT_KEYS", "1,100,10000").split(",")
    ]
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("feast_spark-online-bench")
        .config("spark.sql.shuffle.partitions", str(int(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp(prefix="online_bench_")
    try:
        results: dict[str, dict] = {}
        for kind in ("parquet", "sqlite"):
            st = _build_store(spark, sf_dir, tmp, kind)
            per = {}
            st.get_online_features(  # untimed warmup
                ["user_latest:value"], [{"user_id": 0}]
            )
            for n in counts:
                rows = [{"user_id": i} for i in range(n)]
                samples = []
                for _ in range(runs):
                    t0 = time.monotonic()
                    st.get_online_features(["user_latest:value"], rows)
                    samples.append(time.monotonic() - t0)
                per[f"k{n}"] = round(statistics.median(samples), 3)
            results[kind] = per
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(
        json.dumps(
            {
                "metric": "online_multiget_latency",
                "sf_dir": sf_dir,
                "counts": counts,
                "runs": runs,
                "stores": results,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
