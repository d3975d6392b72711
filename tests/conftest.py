import dataclasses
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")
SF_SMALL = os.path.join(TESTDATA, "sf0.001")
SF_MED = os.path.join(TESTDATA, "sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = (
        # local[8]: the verify host has 32 cores; 8 keeps scheduling
        # overhead low on tiny test data while roughly halving the
        # CPU-bound suites (graph, index builds) vs the old local[4].
        # No test depends on defaultParallelism (widen/partition pins
        # pass explicit min_partitions).
        SparkSession.builder.master("local[8]")
        .appName("feast_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings"
    ).split():
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{SF_MED}/{name}.parquet'"
        )
    yield con
    con.close()


def asof_plan(plan, entity_df, entity_ts_col, specs, n_buckets=2):
    """``as_of_join``'s output under ONE named physical plan, whatever
    its rule would pick: ``"union_window"`` (one pass per join-key
    set), ``"range_join"``, or ``"sorted_merge"`` (each spec cogrouped
    on its own bucket id over ``n_buckets``; the feature side hashes
    its keys cast to the entity types, so an INT feature key and a
    LONG entity key share buckets, and the ids never reach the
    output)."""
    from pyspark.sql import functions as F

    from feast_spark.functions.text import sql_ident
    from feast_spark.operators import asof_join as aj

    def bucket(keys, types):
        cols = [F.col(sql_ident(k)).cast(t) for k, t in zip(keys, types)]
        return F.pmod(F.hash(*cols), F.lit(n_buckets))

    out = entity_df
    if plan == "union_window":
        groups = {}
        for s in specs:
            groups.setdefault(tuple(sorted(s.join_keys)), []).append(s)
        for group in groups.values():
            out = aj._asof_union_window(out, entity_ts_col, group)
    for i, s in enumerate(specs):
        if plan == "range_join":
            out = aj._asof_range_join(out, entity_ts_col, s)
        elif plan == "sorted_merge":
            types = [entity_df.schema[k].dataType for k in s.join_keys]
            fkeys = [s.key_mapping.get(k, k) for k in s.join_keys]
            out = out.withColumn(f"__b{i}", bucket(s.join_keys, types))
            feat = s.feature_df.withColumn(
                f"__b{i}", bucket(fkeys, types)
            )
            out = aj._asof_sorted_merge(
                out, entity_ts_col,
                dataclasses.replace(s, feature_df=feat), f"__b{i}",
            )
    cols = [entity_ts_col] + [c for c in entity_df.columns if c != entity_ts_col]
    cols += [s.out_name(f) for s in specs for f in s.features]
    return out.selectExpr(*[sql_ident(c) for c in cols])
