"""Golden-model tests for the point-in-time join (the pattern of the
reference's tests/test_historical_retrieval.py: run the engine, compare
to an independent oracle)."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join
from feast_spark.operators.skew import with_bucket_id
from tests.conftest import SF_MED, asof_plan


def ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module", params=["union_window", "range_join", "sorted_merge"])
def asof(request):
    """``as_of_join``'s output under one physical plan (``asof_plan``;
    its sorted_merge arm cogroups on 2 buckets, so several keys share
    a cogroup)."""
    return lambda *args: asof_plan(request.param, *args)


def _handwritten_frames(spark):
    entity = spark.createDataFrame(
        [
            Row(driver_id=1, event_timestamp=ts("2021-04-12 10:59:42")),
            Row(driver_id=2, event_timestamp=ts("2021-04-12 08:12:10")),
            Row(driver_id=3, event_timestamp=ts("2021-04-12 16:40:26")),
            Row(driver_id=4, event_timestamp=ts("2021-04-12 15:01:12")),
        ]
    )
    feats = spark.createDataFrame(
        [
            # driver 1: two rows before, winner = 10:00
            Row(driver_id=1, datetime=ts("2021-04-12 09:00:00"),
                created=ts("2021-04-12 09:00:00"), conv_rate=0.1),
            Row(driver_id=1, datetime=ts("2021-04-12 10:00:00"),
                created=ts("2021-04-12 10:00:00"), conv_rate=0.2),
            # driver 1: row after entity ts — must be ignored
            Row(driver_id=1, datetime=ts("2021-04-12 11:00:00"),
                created=ts("2021-04-12 11:00:00"), conv_rate=0.9),
            # driver 2: only row is outside 2h ttl
            Row(driver_id=2, datetime=ts("2021-04-12 05:00:00"),
                created=ts("2021-04-12 05:00:00"), conv_rate=0.3),
            # driver 3: duplicate (key, ts) with different created —
            # max created wins (A2)
            Row(driver_id=3, datetime=ts("2021-04-12 16:00:00"),
                created=ts("2021-04-12 16:00:00"), conv_rate=0.4),
            Row(driver_id=3, datetime=ts("2021-04-12 16:00:00"),
                created=ts("2021-04-12 17:00:00"), conv_rate=0.5),
            # driver 4: feature exactly at entity ts — inclusive bound
            Row(driver_id=4, datetime=ts("2021-04-12 15:01:12"),
                created=ts("2021-04-12 15:01:12"), conv_rate=0.6),
        ]
    )
    return entity, feats


def test_asof_semantics_handwritten(spark, asof):
    entity, feats = _handwritten_frames(spark)
    out = asof(
        entity,
        "event_timestamp",
        [
            AsOfJoinSpec(
                feature_df=feats,
                join_keys=["driver_id"],
                timestamp_col="datetime",
                features=["conv_rate"],
                created_col="created",
                ttl=timedelta(hours=2),
            )
        ],
    )
    got = {r["driver_id"]: r["conv_rate"] for r in out.collect()}
    assert got == {1: 0.2, 2: None, 3: 0.5, 4: 0.6}
    # entity ts column moved first (P5)
    assert out.columns[0] == "event_timestamp"
    assert out.count() == 4


def test_asof_no_ttl_unbounded(spark, asof):
    entity, feats = _handwritten_frames(spark)
    out = asof(
        entity,
        "event_timestamp",
        [
            AsOfJoinSpec(
                feature_df=feats,
                join_keys=["driver_id"],
                timestamp_col="datetime",
                features=["conv_rate"],
                created_col="created",
                ttl=None,
            )
        ],
    )
    got = {r["driver_id"]: r["conv_rate"] for r in out.collect()}
    # driver 2's 05:00 row now within (unbounded) range
    assert got == {1: 0.2, 2: 0.3, 3: 0.5, 4: 0.6}


def test_asof_prefix_and_null_feature_value(spark, asof):
    # A NULL feature value in the winning row must be returned as NULL,
    # not replaced by an older non-null row (struct-carry semantics).
    entity = spark.createDataFrame(
        [Row(k=1, event_timestamp=ts("2021-01-01 12:00:00"))]
    )
    feats = spark.createDataFrame(
        [
            Row(k=1, etts=ts("2021-01-01 10:00:00"), v=1.0),
            Row(k=1, etts=ts("2021-01-01 11:00:00"), v=None),
        ]
    )
    out = asof(
        entity,
        "event_timestamp",
        [
            AsOfJoinSpec(
                feature_df=feats,
                join_keys=["k"],
                timestamp_col="etts",
                features=["v"],
                prefix="view1",
            )
        ],
    )
    rows = out.collect()
    assert rows[0]["view1__v"] is None
    assert "view1__v" in out.columns


def test_asof_vs_duckdb_oracle(spark, duck, asof):
    """Differential test on driver testdata at sf0.01: purchases as the
    entity frame, views as the feature frame."""
    from feast_spark.sources.testdata import load_table

    events = load_table(spark, SF_MED, "events")
    entity = events.filter("event_type = 'purchase'").select(
        "event_id", "user_id", "ts"
    )
    feats = events.filter("event_type = 'view'").select(
        "user_id", "ts", "value"
    )
    out = asof(
        entity,
        "ts",
        [
            AsOfJoinSpec(
                feature_df=feats,
                join_keys=["user_id"],
                timestamp_col="ts",
                features=["value"],
                ttl=timedelta(days=2),
            )
        ],
    )
    got = {r["event_id"]: r["value"] for r in out.collect()}

    oracle = duck.execute(
        """
        WITH entity AS (
          SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        ), feat AS (
          SELECT user_id, ts, value FROM events WHERE event_type = 'view'
        ), ranked AS (
          SELECT e.event_id, f.value, f.ts AS fts,
                 ROW_NUMBER() OVER (PARTITION BY e.event_id ORDER BY f.ts DESC) rn
          FROM entity e
          LEFT JOIN feat f
            ON e.user_id = f.user_id
           AND f.ts <= e.ts
           AND f.ts >= e.ts - INTERVAL 2 DAY
        )
        SELECT event_id, CASE WHEN fts IS NULL THEN NULL ELSE value END AS value
        FROM ranked WHERE rn = 1
        """
    ).fetchall()
    want = {eid: v for eid, v in oracle}
    assert got == want


def test_asof_null_entity_ts_yields_null_features(spark, asof):
    """A NULL entity timestamp matches nothing (``ts <= NULL`` is never
    true in SQL); all strategies must agree.  Guards the numpy kernel,
    where NaT sorts as +inf in searchsorted (reference semantics:
    sdk/python/feast/pyspark/launchers — entity rows always carry a
    timestamp, so NULL must not silently grab the newest feature)."""
    entity = spark.createDataFrame(
        [
            Row(driver_id=1, event_timestamp=ts("2021-04-12 10:59:42")),
            Row(driver_id=1, event_timestamp=None),
        ],
        "driver_id int, event_timestamp timestamp",
    )
    feats = spark.createDataFrame(
        [
            Row(driver_id=1, datetime=ts("2021-04-12 09:00:00"),
                created=ts("2021-04-12 09:00:00"), conv_rate=0.1),
        ]
    )
    for ttl in (None, timedelta(hours=24)):
        out = asof(
            entity,
            "event_timestamp",
            [
                AsOfJoinSpec(
                    feature_df=feats,
                    join_keys=["driver_id"],
                    timestamp_col="datetime",
                    features=["conv_rate"],
                    created_col="created",
                    ttl=ttl,
                )
            ],
        )
        got = {r["event_timestamp"]: r["conv_rate"] for r in out.collect()}
        assert got == {ts("2021-04-12 10:59:42"): 0.1, None: None}, ttl


def test_asof_null_created_ts_loses_ties(spark, asof):
    """Among equal event_ts rows, a NULL created_ts loses to any real
    created value (union_window orders created ASC — Spark puts nulls
    first — and the last row wins); sorted_merge must match via
    na_position='first'."""
    entity = spark.createDataFrame(
        [Row(driver_id=1, event_timestamp=ts("2021-04-12 10:59:42"))]
    )
    feats = spark.createDataFrame(
        [
            Row(driver_id=1, datetime=ts("2021-04-12 09:00:00"),
                created=None, conv_rate=0.9),
            Row(driver_id=1, datetime=ts("2021-04-12 09:00:00"),
                created=ts("2021-04-12 09:00:00"), conv_rate=0.2),
        ],
        "driver_id int, datetime timestamp, created timestamp, conv_rate double",
    )
    out = asof(
        entity,
        "event_timestamp",
        [
            AsOfJoinSpec(
                feature_df=feats,
                join_keys=["driver_id"],
                timestamp_col="datetime",
                features=["conv_rate"],
                created_col="created",
                ttl=None,
            )
        ],
    )
    assert [r["conv_rate"] for r in out.collect()] == [0.2]


def test_asof_bucket_granularity_matches_per_key(spark):
    """sorted_merge at BUCKET granularity (several keys per cogroup)
    must reproduce the other plans' result exactly — incl. ttl misses,
    created tie-breaks, inclusive bounds, and keys with no feature
    rows."""
    entity, feats = _handwritten_frames(spark)
    # driver 5 has no feature rows at all
    entity = entity.union(
        spark.createDataFrame(
            [Row(driver_id=5, event_timestamp=ts("2021-04-12 12:00:00"))]
        )
    )
    # 2 buckets force multiple drivers into one cogroup
    eb = with_bucket_id(entity, ["driver_id"], 2)
    fb = with_bucket_id(feats, ["driver_id"], 2)
    out = as_of_join(
        eb,
        "event_timestamp",
        [
            AsOfJoinSpec(
                feature_df=fb,
                join_keys=["driver_id"],
                timestamp_col="datetime",
                features=["conv_rate"],
                created_col="created",
                ttl=timedelta(hours=2),
            )
        ],
    )
    assert "FlatMapCoGroupsInPandas" in _executed_plan(out)
    got = {r["driver_id"]: r["conv_rate"] for r in out.collect()}
    assert got == {1: 0.2, 2: None, 3: 0.5, 4: 0.6, 5: None}
    # bucket col is an entity column, so it is preserved in the output
    assert "__bucket" in out.columns


def test_asof_bucket_granularity_multi_rows_per_key(spark):
    """Bucketed kernel with several entity rows per key and interleaved
    timestamps — exercises the shared code+rank composite across key
    runs (no ttl, so every row with any prior feature matches)."""
    entity = spark.createDataFrame(
        [
            Row(k=i, event_timestamp=ts(f"2021-04-12 {h:02d}:30:00"))
            for i in range(7)
            for h in (8, 12, 16)
        ]
    )
    feats = spark.createDataFrame(
        [
            Row(k=i, datetime=ts(f"2021-04-12 {h:02d}:00:00"),
                v=float(i * 100 + h))
            for i in range(5)  # keys 5, 6 have no features
            for h in (9, 13)
        ]
    )
    eb = with_bucket_id(entity, ["k"], 2)
    fb = with_bucket_id(feats, ["k"], 2)
    spec = lambda f: [
        AsOfJoinSpec(
            feature_df=f, join_keys=["k"], timestamp_col="datetime",
            features=["v"],
        )
    ]
    got = as_of_join(eb, "event_timestamp", spec(fb))
    assert "FlatMapCoGroupsInPandas" in _executed_plan(got)
    want = as_of_join(entity, "event_timestamp", spec(feats))
    gs = sorted(
        (r["k"], r["event_timestamp"], r["v"]) for r in got.collect()
    )
    ws = sorted(
        (r["k"], r["event_timestamp"], r["v"]) for r in want.collect()
    )
    assert gs == ws and len(gs) == 21


def test_asof_plan_follows_inputs(spark, tmp_path):
    """The plan rule: a spec whose two sides share a bucket id
    (``with_bucket_id`` over its join keys on both frames, as
    ``__bucket`` or ``spec.bucket_col``) runs the bucket cogroup; every
    other spec rides the union-window pass, including a small
    parquet-backed feature frame (no broadcast-size rule sends it to a
    range join).  Each plan returns the same rows."""
    entity, feats = _handwritten_frames(spark)
    mk = lambda f, **kw: AsOfJoinSpec(
        feature_df=f, join_keys=["driver_id"], timestamp_col="datetime",
        features=["conv_rate"], created_col="created",
        ttl=timedelta(hours=2), **kw,
    )
    rows = lambda df: sorted(
        (r["driver_id"], r["conv_rate"]) for r in df.collect()
    )
    want = [(1, 0.2), (2, None), (3, 0.5), (4, 0.6)]

    # tiny parquet-backed feature frame (real size stats, well under
    # the broadcast threshold) -> the fused union-window pass
    feats.write.parquet(str(tmp_path / "feats"))
    featp = spark.read.parquet(str(tmp_path / "feats"))
    out = as_of_join(entity, "event_timestamp", [mk(featp), mk(feats, prefix="b")])
    plan = _executed_plan(out)
    assert "Window" in plan and "Join" not in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert rows(out) == want

    # shared __bucket column -> sorted_merge at bucket granularity
    eb = with_bucket_id(entity, ["driver_id"], 2)
    out = as_of_join(
        eb, "event_timestamp", [mk(with_bucket_id(feats, ["driver_id"], 2))]
    )
    assert "FlatMapCoGroupsInPandas" in _executed_plan(out)
    assert rows(out) == want

    # an explicit bucket_col selects it without the __bucket convention
    out = as_of_join(
        eb.withColumnRenamed("__bucket", "bkt"), "event_timestamp",
        [mk(with_bucket_id(feats, ["driver_id"], 2, col="bkt"),
            bucket_col="bkt")],
    )
    assert "FlatMapCoGroupsInPandas" in _executed_plan(out)
    assert rows(out) == want

    # __bucket on one side only is not a shared bucket id, nor are ids
    # over another bucket count, over an INT key against the entity's
    # LONG one (murmur3 hashes the two differently), or over a key
    # column retyped since it was hashed
    int_key = feats.withColumn("driver_id", F.col("driver_id").cast("int"))
    for f in (
        feats,
        with_bucket_id(feats, ["driver_id"], 3),
        with_bucket_id(int_key, ["driver_id"], 2),
        with_bucket_id(feats, ["driver_id"], 2).withColumn(
            "driver_id", F.col("driver_id").cast("int")
        ),
    ):
        out = as_of_join(eb, "event_timestamp", [mk(f)])
        assert "FlatMapCoGroupsInPandas" not in _executed_plan(out)
        assert rows(out) == want
