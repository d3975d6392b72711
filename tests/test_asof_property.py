"""Randomized golden-model test for the as-of join — the reference's
test pattern (tests/test_historical_retrieval.py: random data + an
independent O(n*m) oracle `find_asof_record`), driven by hypothesis.

Every physical strategy must agree with the oracle on every generated
dataset: ttl present/absent, created_ts present/absent, hits at the
exact ttl boundary, misses, multiple keys, and NULL event timestamps
on either side (a NULL-ts feature row matches no entity row; a
NULL-ts entity row gets NULL features).  A multi-view case checks
that views fused into one pass keep their own ttl, created tie-break
and key casts, and that the output columns come in spec order.
"""

import dataclasses
from datetime import datetime, timedelta

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T

from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join
from feast_spark.operators.skew import with_bucket_id
from tests.conftest import asof_plan

BASE = datetime(2024, 1, 1)

FEAT_SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("created", T.TimestampType()),
        T.StructField("v", T.DoubleType()),
    ]
)
ENT_SCHEMA = T.StructType(
    [
        T.StructField("rid", T.LongType()),
        T.StructField("k", T.LongType()),
        T.StructField("event_timestamp", T.TimestampType()),
    ]
)


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _hour(h):
    """Generated hour -> timestamp; negative hours stand for NULL."""
    return BASE + timedelta(hours=h) if h >= 0 else None


def feature_rows(draw, n_keys, with_created):
    feat_raw = draw(
        st.lists(
            st.tuples(
                st.integers(0, n_keys - 1),  # key
                st.integers(-3, 60),         # event hour (< 0: NULL)
                st.integers(0, 5),           # created hour
            ),
            min_size=0,
            max_size=30,
        )
    )
    # unique (k, ts, created) => the winner is fully determined
    # (beyond that the contract is ANY_VALUE, bigquery.py:650)
    feats = []
    seen = set()
    for i, (k, h, c) in enumerate(feat_raw):
        key = (k, max(h, -1), c if with_created else 0)
        if key in seen:
            continue
        seen.add(key)
        feats.append(
            (
                k,
                _hour(h),
                BASE + timedelta(hours=c) if with_created else None,
                float(i),
            )
        )
    return feats


def entity_hours(draw, n):
    return [_hour(draw(st.integers(-3, 70))) for _ in range(n)]


@st.composite
def dataset(draw):
    n_keys = draw(st.integers(1, 3))
    ttl_hours = draw(st.sampled_from([None, 5, 24]))
    with_created = draw(st.booleans())
    feats = feature_rows(draw, n_keys, with_created)
    n = draw(st.integers(1, 12))
    ents = [
        (rid, draw(st.integers(0, n_keys - 1)), t)
        for rid, t in enumerate(entity_hours(draw, n))
    ]
    return feats, ents, ttl_hours, with_created


def oracle(feats, ents, ttl_hours, with_created):
    """Independent O(n*m) reimplementation (find_asof_record,
    test_historical_retrieval.py:130-136)."""
    out = {}
    for rid, k, t in ents:
        if t is None:
            out[rid] = None
            continue
        lo = t - timedelta(hours=ttl_hours) if ttl_hours is not None else None
        best = None
        for fk, fts, fcr, fv in feats:
            if fk != k or fts is None or fts > t or (lo is not None and fts < lo):
                continue
            cand = (fts, fcr or datetime.min, fv)
            if best is None or (cand[0], cand[1]) > (best[0], best[1]):
                best = cand
        out[rid] = best[2] if best else None
    return out


@pytest.mark.parametrize(
    "strategy",
    ["union_window", "range_join", "sorted_merge", "sorted_merge_bucket"],
)
@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(data=dataset())
# key 1's only feature row has a NULL event ts and no ttl bounds it:
# it must match neither the dated nor the NULL-ts entity row
@example(
    data=(
        [(1, None, None, 5.0)],
        [(0, 1, BASE + timedelta(days=1)), (1, 1, None)],
        None,
        False,
    )
)
def test_asof_matches_bruteforce_oracle(spark, strategy, data):
    feats, ents, ttl_hours, with_created = data
    fdf = spark.createDataFrame(
        [Row(k=k, ts=ts, created=cr, v=v) for k, ts, cr, v in feats],
        FEAT_SCHEMA,
    )
    edf = spark.createDataFrame(
        [Row(rid=r, k=k, event_timestamp=t) for r, k, t in ents], ENT_SCHEMA
    )
    spec = AsOfJoinSpec(
        feature_df=fdf,
        join_keys=["k"],
        timestamp_col="ts",
        features=["v"],
        created_col="created" if with_created else None,
        ttl=timedelta(hours=ttl_hours) if ttl_hours else None,
    )
    if strategy == "sorted_merge_bucket":
        # as_of_join's own pick over with_bucket_id frames: 2 buckets
        # force several keys per cogroup (the multi-key composite merge)
        spec = dataclasses.replace(spec, feature_df=with_bucket_id(fdf, ["k"], 2))
        out = as_of_join(with_bucket_id(edf, ["k"], 2), "event_timestamp", [spec])
        assert "FlatMapCoGroupsInPandas" in _executed_plan(out)
    else:
        out = asof_plan(strategy, edf, "event_timestamp", [spec])
    got = {r["rid"]: r["v"] for r in out.collect()}
    want = oracle(feats, ents, ttl_hours, with_created)
    assert got == want


MULTI_ENT_SCHEMA = T.StructType(
    [
        T.StructField("rid", T.LongType()),
        T.StructField("k", T.LongType()),
        T.StructField("g", T.LongType()),
        T.StructField("event_timestamp", T.TimestampType()),
    ]
)


def _int_key_schema(key):
    return T.StructType(
        [
            T.StructField(key, T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("v", T.DoubleType()),
        ]
    )


@st.composite
def multi_view_dataset(draw):
    ttl_a = draw(st.sampled_from([5, 24]))
    ttl_c = draw(st.sampled_from([None, 5]))
    fa = feature_rows(draw, 3, with_created=True)
    fb = feature_rows(draw, 3, with_created=False)
    fc = feature_rows(draw, 2, with_created=False)
    n = draw(st.integers(1, 12))
    ents = [
        (rid, draw(st.integers(0, 2)), draw(st.integers(0, 1)), t)
        for rid, t in enumerate(entity_hours(draw, n))
    ]
    return fa, fb, fc, ents, ttl_a, ttl_c


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)
@given(data=multi_view_dataset())
def test_asof_multi_view_matches_oracle_and_strategies(spark, data):
    """Three views over two join-key sets: ``a`` (ttl, created) and
    ``b`` (no ttl, entity key ``k`` read from an INT column ``kk``
    through ``key_mapping``) fuse into one union-window pass on ``k``;
    ``c`` (INT ``g`` cast to the entity's LONG) forms a second pass.
    Every plan matches the per-view oracle, and the feature columns
    follow spec order, not pass order.  Over ``with_bucket_id`` frames
    (``__bucket`` on the entity over ``k``, on each view over its own
    key) the rule cogroups ``a`` alone: ``b``'s INT key hashes apart
    from the entity's LONG ``k`` and ``c``'s ids are over ``g``."""
    fa, fb, fc, ents, ttl_a, ttl_c = data
    edf = spark.createDataFrame(
        [Row(rid=r, k=k, g=g, event_timestamp=t) for r, k, g, t in ents],
        MULTI_ENT_SCHEMA,
    )
    fa_df = spark.createDataFrame(
        [Row(k=k, ts=ts, created=cr, v=v) for k, ts, cr, v in fa], FEAT_SCHEMA
    )
    fb_df = spark.createDataFrame(
        [(k, ts, v) for k, ts, _, v in fb], _int_key_schema("kk")
    )
    fc_df = spark.createDataFrame(
        [(k, ts, v) for k, ts, _, v in fc], _int_key_schema("g")
    )
    specs = [
        AsOfJoinSpec(
            feature_df=fa_df, join_keys=["k"], timestamp_col="ts",
            features=["v"], created_col="created",
            ttl=timedelta(hours=ttl_a), prefix="a",
        ),
        AsOfJoinSpec(
            feature_df=fc_df, join_keys=["g"], timestamp_col="ts",
            features=["v"],
            ttl=timedelta(hours=ttl_c) if ttl_c else None, prefix="c",
        ),
        AsOfJoinSpec(
            feature_df=fb_df, join_keys=["k"], timestamp_col="ts",
            features=["v"], key_mapping={"k": "kk"}, prefix="b",
        ),
    ]
    by_k = [(r, k, t) for r, k, _, t in ents]
    by_g = [(r, g, t) for r, _, g, t in ents]
    want = {
        "a__v": oracle(fa, by_k, ttl_a, True),
        "c__v": oracle(fc, by_g, ttl_c, False),
        "b__v": oracle(fb, by_k, None, False),
    }
    cols = ["event_timestamp", "rid", "k", "g", "a__v", "c__v", "b__v"]
    for strategy in ("union_window", "range_join", "sorted_merge", "rule"):
        if strategy == "rule":
            bucketed = [
                dataclasses.replace(s, feature_df=with_bucket_id(
                    s.feature_df,
                    [s.key_mapping.get(k, k) for k in s.join_keys], 2,
                ))
                for s in specs
            ]
            out = as_of_join(
                with_bucket_id(edf, ["k"], 2), "event_timestamp", bucketed
            )
            plan = _executed_plan(out)
            assert plan.count("FlatMapCoGroupsInPandas") == 1, plan
            out = out.drop("__bucket")
        else:
            out = asof_plan(strategy, edf, "event_timestamp", specs)
        assert out.columns == cols, strategy
        rows = out.collect()
        got = {c: {r["rid"]: r[c] for r in rows} for c in want}
        assert got == want, strategy
