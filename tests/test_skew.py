"""Skew utilities: salted join equivalence + bucketed co-located joins."""

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feast_spark.operators.skew import salted_join, write_bucketed
from tests.conftest import asof_plan


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def skewed(spark):
    # one hot key (0) with 2000 rows, 50 cold keys
    left = spark.createDataFrame(
        [Row(k=0, lv=i) for i in range(2000)]
        + [Row(k=i % 50 + 1, lv=i) for i in range(500)]
    )
    right = spark.createDataFrame([Row(k=i, rv=i * 10) for i in range(51)])
    return left, right


def test_salted_inner_matches_plain_join(spark, skewed):
    left, right = skewed
    plain = left.join(right, ["k"]).select("k", "lv", "rv")
    salted = salted_join(left, right, ["k"], salt_buckets=8).select(
        "k", "lv", "rv"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_salted_left_keeps_unmatched(spark):
    left = spark.createDataFrame([Row(k=1, lv=1), Row(k=99, lv=2)])
    right = spark.createDataFrame([Row(k=1, rv=10)])
    out = salted_join(left, right, ["k"], salt_buckets=4, how="left").collect()
    by_k = {r["k"]: r["rv"] for r in out}
    assert by_k == {1: 10, 99: None}


def test_salted_join_salt_distributes_hot_key(spark, skewed):
    left, right = skewed
    lhs = left.withColumn(
        "__salt",
        F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(8)),
    )
    n_salts = (
        lhs.filter("k = 0").select("__salt").distinct().count()
    )
    assert n_salts == 8, "hot key must spread across all salt buckets"


def test_salted_join_rejects_ambiguous_columns(spark):
    left = spark.createDataFrame([Row(k=1, v=1)])
    right = spark.createDataFrame([Row(k=1, v=2)])
    with pytest.raises(ValueError, match="ambiguous"):
        salted_join(left, right, ["k"])


def test_bucketed_join_no_exchange(spark, tmp_path):
    import uuid

    suffix = uuid.uuid4().hex[:8]
    big = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    other = spark.range(0, 10000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    ta, tb = f"bk_a_{suffix}", f"bk_b_{suffix}"
    write_bucketed(big, ta, ["k"], 8, sort_cols=["k"])
    write_bucketed(other, tb, ["k"], 8, sort_cols=["k"])
    try:
        joined = (
            spark.table(ta)
            .join(spark.table(tb).hint("merge"), "k")
            .select("k", "a", "b")
        )
        plan = _executed_plan(joined)
        assert "Exchange" not in plan, plan
        assert joined.count() == 10000
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {ta}")
        spark.sql(f"DROP TABLE IF EXISTS {tb}")


def test_bucketed_pit_retrieval_zero_exchange(spark, tmp_path):
    """The 100 TB retrieval shape: feature table AND entity table
    written bucketed+sorted on the join key -> get_historical_features
    with the default config runs with ZERO shuffle Exchange.  Tables
    bucketed on a materialized ``__bucket`` column
    (``skew.with_bucket_id``) run the bucket cogroup with ZERO Sort
    nodes as well — it needs only bucket-ASC ordering, which
    one-file-per-bucket sortBy scans provide straight from disk;
    key-only bucketed tables ride the union-window pass, whose key
    window reuses the scans' partitioning.  The range-join plan over
    the same key-bucketed tables is exchange-free too (the
    sort-merge join reads both scans co-located; the dedup window's
    (keys, row_id) partitioning is satisfied by the join output).  Pay
    the shuffle+sort once at materialization, never per training run.
    All plans must agree on results."""
    import uuid
    from datetime import datetime, timedelta

    from feast_spark import (
        Entity, FeatureStore, FeatureView, RepoConfig, SparkSqlSource, ValueType,
    )
    from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join
    from feast_spark.operators.skew import with_bucket_id

    suffix = uuid.uuid4().hex[:8]
    tf, te = f"bk_feat_{suffix}", f"bk_ent_{suffix}"
    tfb, teb = f"bkb_feat_{suffix}", f"bkb_ent_{suffix}"
    base = datetime(2021, 6, 1, 12, 0, 0)
    feat = spark.range(0, 2000).select(
        (F.col("id") % 100).alias("driver_id"),
        F.timestamp_seconds(
            F.lit(int(base.timestamp())) - (F.col("id") * 60)
        ).alias("event_ts"),
        (F.col("id") * 0.5).alias("conv_rate"),
        F.timestamp_seconds(F.lit(int(base.timestamp()))).alias("created_ts"),
    )
    ent = spark.range(0, 500).select(
        (F.col("id") % 120).alias("driver_id"),  # some ids have no features
        F.timestamp_seconds(
            F.lit(int(base.timestamp())) - (F.col("id") % 7) * 3600
        ).alias("event_timestamp"),
    )
    write_bucketed(feat, tf, ["driver_id"], 8, sort_cols=["driver_id"])
    write_bucketed(ent, te, ["driver_id"], 8, sort_cols=["driver_id"])
    write_bucketed(
        with_bucket_id(feat, ["driver_id"], 8), tfb, ["__bucket"], 8,
        sort_cols=["__bucket", "driver_id", "event_ts"],
    )
    write_bucketed(
        with_bucket_id(ent, ["driver_id"], 8), teb, ["__bucket"], 8,
        sort_cols=["__bucket", "driver_id", "event_timestamp"],
    )

    def retrieve(feat_table, ent_table):
        st = FeatureStore(
            spark,
            RepoConfig(
                project=f"p_{feat_table}",
                registry_path=str(tmp_path / f"reg_{feat_table}.json"),
                online_store_path=str(tmp_path / f"online_{feat_table}"),
            ),
        )
        st.apply(
            [
                Entity(
                    name="driver", join_key="driver_id",
                    value_type=ValueType.INT64,
                ),
                FeatureView(
                    name="drv",
                    entities=["driver"],
                    ttl=timedelta(days=30),
                    batch_source=SparkSqlSource(
                        table=feat_table, event_timestamp_column="event_ts",
                        created_timestamp_column="created_ts",
                    ),
                ),
            ]
        )
        return st.get_historical_features(
            spark.table(ent_table), ["drv:conv_rate"]
        ).to_spark_df()

    def rows(df):
        return {
            (r["driver_id"], r["event_timestamp"], r["conv_rate"])
            for r in df.collect()
        }

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # let the scans report their sortBy ordering (sound because
    # write_bucketed guarantees one file per bucket; Spark gates this
    # behind a conf since 3.0 because multi-file buckets break it)
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        # __bucket on both tables: the bucket cogroup, zero Exchange AND
        # zero Sort.  ("Sort [" is the Sort exec node's print shape;
        # "SortMergeJoin [" never matches it.)
        out_sm = retrieve(tfb, teb)
        plan_sm = _executed_plan(out_sm)
        assert "FlatMapCoGroupsInPandas" in plan_sm, plan_sm
        assert "Exchange" not in plan_sm, plan_sm
        assert "Sort [" not in plan_sm, plan_sm

        # key-only bucketed tables: union_window, also exchange-free —
        # both union children report the bucketed
        # HashPartitioning(driver_id, 8) and the key window reuses it
        out_uw = retrieve(tf, te)
        plan_uw = _executed_plan(out_uw)
        assert "Window" in plan_uw, plan_uw
        assert "FlatMapCoGroupsInPandas" not in plan_uw, plan_uw
        assert "Exchange" not in plan_uw, plan_uw

        # the range-join plan over the same key-bucketed tables
        out_rj = asof_plan(
            "range_join", spark.table(te), "event_timestamp",
            [
                AsOfJoinSpec(
                    feature_df=spark.table(tf), join_keys=["driver_id"],
                    timestamp_col="event_ts", features=["conv_rate"],
                    created_col="created_ts", ttl=timedelta(days=30),
                )
            ],
        )
        plan_rj = _executed_plan(out_rj)
        assert "SortMergeJoin" in plan_rj, plan_rj
        assert "Exchange" not in plan_rj, plan_rj

        want = rows(out_uw)
        assert len(want) > 0
        assert rows(out_rj) == want
        assert rows(out_sm) == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(
            "spark.sql.legacy.bucketedTableScan.outputOrdering", "false"
        )
        for t in (tf, te, tfb, teb):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


# ---------------------------------------------------------------------------
# Adversarial hot-key cases (one key owns ~50% of the table)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hot_events(spark):
    """~60k events where key 0 owns half the table; values and
    timestamps deterministic so the winners are known."""
    hot = spark.range(0, 30000).select(
        F.lit(0).alias("user_id"),
        F.timestamp_seconds(1600000000 + F.col("id")).alias("ts"),
        F.col("id").alias("value"),
    )
    cold = spark.range(0, 30000).select(
        (F.col("id") % 500 + 1).alias("user_id"),
        F.timestamp_seconds(1600000000 + F.col("id")).alias("ts"),
        F.col("id").alias("value"),
    )
    return hot.unionByName(cold)


def test_latest_per_key_hot_key_absorbed_by_partial_combine(
    spark, hot_events
):
    """The agg strategy's map-side partial combine must make a 50%-hot
    key a non-event: the shuffle carries one candidate per (task, key),
    so results stay exact and the plan shows the two-phase hash
    aggregate (partial before the exchange)."""
    from feast_spark.operators.dedup import latest_per_key
    from feast_spark.plans import explain_formatted, plan_nodes

    out = latest_per_key(hot_events, join_keys=["user_id"], ts_col="ts")
    rows = {r["user_id"]: (r["ts"], r["value"]) for r in out.collect()}
    assert len(rows) == 501
    # winner for every key is its max-ts event; key 0's is id 29999
    assert rows[0][1] == 29999
    assert rows[1][1] == 29500  # last cold event for user 1: id 29500
    plan = explain_formatted(out)
    nodes = plan_nodes(plan)
    # max_by over a struct payload aggregates via SortAggregate (struct
    # buffers aren't hash-aggregable); the scale property is the same:
    # a PARTIAL aggregate runs before the exchange, so the shuffle
    # carries one candidate per (task, key), not the raw rows
    aggs = [i for i, n in enumerate(nodes) if n.endswith("Aggregate")]
    first_ex = nodes.index("Exchange")
    assert len(aggs) >= 2, nodes  # partial + final
    assert aggs[0] < first_ex < aggs[-1], nodes


def test_asof_range_join_hot_key_aqe_skew_split(spark, hot_events):
    """A 50%-hot entity key through the range_join as-of strategy,
    broadcast off.  Two pinned behaviors:

    1. DEFAULT: the dedup window rides the join's key partitioning
       (no extra exchange — the bucketed-retrieval optimization), which
       means AQE declines to split the skewed join partition (splitting
       would break the downstream window's required distribution).  The
       final plan must therefore show the window WITHOUT an exchange
       between it and the join, and no skew split.
    2. With spark.sql.adaptive.forceOptimizeSkewedJoin=true — the knob
       a 100 TB operator flips when a hot key stalls retrieval — AQE
       marks and splits the skewed partition (skew=true) and inserts
       the exchange the window needs; results are identical either way
       and equal the union_window strategy's."""
    from datetime import timedelta

    from feast_spark.operators.asof_join import AsOfJoinSpec

    entity = hot_events.select(
        "user_id", F.col("ts").alias("event_timestamp")
    )
    feats = spark.range(0, 5000).select(
        (F.col("id") % 501).alias("user_id"),
        F.timestamp_seconds(1600000000 + (F.col("id") / 501).cast("long") * 3600)
        .alias("fts"),
        (F.col("id") * 2).alias("score"),
    )

    def run(strategy):
        return asof_plan(
            strategy,
            entity,
            "event_timestamp",
            [
                AsOfJoinSpec(
                    feature_df=feats,
                    join_keys=["user_id"],
                    timestamp_col="fts",
                    features=["score"],
                    ttl=timedelta(days=1),
                )
            ],
        )

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    force = "spark.sql.adaptive.forceOptimizeSkewedJoin"
    saved_force = spark.conf.get(force)
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)

        # default: window reuses the join partitioning; no skew split
        out = run("range_join")
        got_default = {tuple(r) for r in out.collect()}
        plan_default = _executed_plan(out)
        assert "skew=true" not in plan_default
        smj_to_window = plan_default[
            plan_default.index("Window") : plan_default.index("SortMergeJoin")
        ]
        assert "Exchange" not in smj_to_window, smj_to_window

        # forced: AQE splits the hot partition, restoring even tasks
        spark.conf.set(force, "true")
        out2 = run("range_join")
        got_forced = {tuple(r) for r in out2.collect()}
        plan_forced = _executed_plan(out2)
        assert "skew=true" in plan_forced, plan_forced

        assert got_default == got_forced
        want = {tuple(r) for r in run("union_window").collect()}
        assert got_default == want and len(want) == entity.count()
    finally:
        spark.conf.set(force, saved_force)
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_bucket_granularity_pit_zero_exchange_zero_sort(spark):
    """Bucket-granularity sorted_merge over tables bucketed + sorted on
    the materialized __bucket column: ZERO Exchange, ZERO Sort, one
    cogroup per BUCKET (not per key) — the O(buckets)-task reformulation
    of the co-bucketed PIT retrieval.  Results must equal union_window
    over the raw frames."""
    import uuid
    from datetime import timedelta

    from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join
    from feast_spark.operators.skew import with_bucket_id

    suffix = uuid.uuid4().hex[:8]
    tf, te = f"bg_feat_{suffix}", f"bg_ent_{suffix}"
    n_buckets = 8
    feat = spark.range(0, 3000).select(
        (F.col("id") % 500).alias("driver_id"),
        F.timestamp_seconds(F.lit(1622548800) - F.col("id") * 60).alias(
            "event_ts"
        ),
        (F.col("id") * 0.5).alias("conv_rate"),
    )
    ent = spark.range(0, 600).select(
        (F.col("id") % 520).alias("driver_id"),
        F.timestamp_seconds(
            F.lit(1622548800) - (F.col("id") % 7) * 3600
        ).alias("event_timestamp"),
    )
    write_bucketed(
        with_bucket_id(feat, ["driver_id"], n_buckets), tf,
        ["__bucket"], n_buckets,
        sort_cols=["__bucket", "driver_id", "event_ts"],
    )
    write_bucketed(
        with_bucket_id(ent, ["driver_id"], n_buckets), te,
        ["__bucket"], n_buckets,
        sort_cols=["__bucket", "driver_id", "event_timestamp"],
    )
    prev = spark.conf.get("spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
    spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
    try:
        spec = AsOfJoinSpec(
            feature_df=spark.table(tf),
            join_keys=["driver_id"],
            timestamp_col="event_ts",
            features=["conv_rate"],
            ttl=timedelta(days=30),
        )
        out = as_of_join(spark.table(te), "event_timestamp", [spec])
        plan = _executed_plan(out)
        assert "FlatMapCoGroupsInPandas" in plan, plan
        assert "Exchange" not in plan, plan
        assert "Sort [" not in plan, plan

        want_spec = AsOfJoinSpec(
            feature_df=feat, join_keys=["driver_id"],
            timestamp_col="event_ts", features=["conv_rate"],
            ttl=timedelta(days=30),
        )
        want = as_of_join(ent, "event_timestamp", [want_spec])
        got = sorted(
            (r["driver_id"], r["event_timestamp"], r["conv_rate"])
            for r in out.collect()
        )
        exp = sorted(
            (r["driver_id"], r["event_timestamp"], r["conv_rate"])
            for r in want.collect()
        )
        assert got == exp and len(got) == 600
    finally:
        spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tf}")
        spark.sql(f"DROP TABLE IF EXISTS {te}")
