"""Physical-plan assertions: the properties that make the operators
scale (single shuffle, pushdown, broadcast) must not regress."""

from datetime import datetime, timedelta

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join
from tests.conftest import SF_MED


from feast_spark.plans import executed_plan as _executed_plan
from feast_spark.plans import explain_formatted as _optimized_explain
from feast_spark.plans import count_exchanges, plan_nodes


def test_plan_helpers(spark):
    """The shared inspection helpers (feast_spark.plans) read node
    lists and exchange counts off a real plan."""
    from feast_spark.sources.testdata import load_table

    df = load_table(spark, SF_MED, "documents").groupBy("source").count()
    plan = _optimized_explain(df)
    nodes = plan_nodes(plan)
    assert "Exchange" in nodes and "HashAggregate" in nodes
    assert count_exchanges(plan) == 1


def test_asof_union_window_single_shuffle(spark):
    """The scale property of the union+window strategy: exactly one
    Exchange (hash on the join key) in the whole plan."""
    from feast_spark.sources.testdata import load_table

    events = load_table(spark, SF_MED, "events")
    entity = events.filter("event_type = 'purchase'").select("event_id", "user_id", "ts")
    feats = events.filter("event_type = 'view'").select("user_id", "ts", "value")
    out = as_of_join(
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
    import re

    plan = _optimized_explain(out)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(user_id" in plan


def test_asof_views_sharing_keys_fuse_into_one_shuffle(spark):
    """Views that share their join keys run as one union-window pass:
    three views on one key cost one hash Exchange and one Window; a
    view on a second key set adds one more of each; the same key set
    named in a different order is still one pass."""
    ent = spark.range(0, 1000).selectExpr(
        "id AS rid", "id % 50 AS user_id", "id % 7 AS region",
        "timestamp_seconds(1600000000 + id) AS ts",
    )
    feat = spark.range(0, 5000).selectExpr(
        "id % 50 AS user_id", "id % 7 AS region",
        "timestamp_seconds(1600000000 + id * 3) AS ts", "id * 0.5 AS value",
    )

    def spec(key, prefix, ttl):
        keys = key if isinstance(key, list) else [key]
        return AsOfJoinSpec(
            feature_df=feat, join_keys=keys, timestamp_col="ts",
            features=["value"], ttl=ttl, prefix=prefix,
        )

    one_key = as_of_join(
        ent, "ts",
        [spec("user_id", "a", timedelta(days=1)), spec("user_id", "b", None),
         spec("user_id", "c", timedelta(hours=1))],
    )
    plan = _optimized_explain(one_key)
    assert count_exchanges(plan) == 1, plan
    assert plan_nodes(plan).count("Window") == 1, plan

    two_keys = as_of_join(
        ent, "ts",
        [spec("user_id", "a", None), spec("region", "b", None),
         spec("user_id", "c", None)],
    )
    plan = _optimized_explain(two_keys)
    assert count_exchanges(plan) == 2, plan
    assert plan_nodes(plan).count("Window") == 2, plan

    reordered = as_of_join(
        ent, "ts",
        [spec(["user_id", "region"], "a", None),
         spec(["region", "user_id"], "b", timedelta(days=1))],
    )
    plan = _optimized_explain(reordered)
    assert count_exchanges(plan) == 1, plan
    assert plan_nodes(plan).count("Window") == 1, plan


def test_asof_pushdown_reaches_scan(spark):
    """Filters on the feature side must reach the parquet scan."""
    from feast_spark.sources.testdata import load_table

    events = load_table(spark, SF_MED, "events")
    entity = events.filter("event_type = 'purchase'").select("user_id", "ts")
    feats = events.filter("event_type = 'view'").select("user_id", "ts", "value")
    out = as_of_join(
        entity,
        "ts",
        [
            AsOfJoinSpec(
                feature_df=feats,
                join_keys=["user_id"],
                timestamp_col="ts",
                features=["value"],
            )
        ],
    )
    plan = _optimized_explain(out)
    # the view leg's own NULL-event-ts filter reaches the scan as well
    assert (
        "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,view), "
        "IsNotNull(ts)]" in plan
    )
    # column pruning: props/event_id never read on the feature branch
    assert "props" not in plan


def test_scan_pruning_injected(spark, tmp_path):
    """FeatureStore retrieval bounds the feature scan to
    [min(entity_ts) - ttl, max(entity_ts)]."""
    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
    )

    src_path = str(tmp_path / "feat.parquet")
    spark.createDataFrame(
        [Row(k=1, ts=datetime(2024, 1, 1) + timedelta(days=d), v=float(d)) for d in range(100)]
    ).write.parquet(src_path)
    store = FeatureStore(
        spark,
        RepoConfig(
            registry_path=str(tmp_path / "r.json"),
            online_store_path=str(tmp_path / "o"),
        ),
    )
    store.apply(
        [
            Entity(name="k", value_type=ValueType.INT64),
            FeatureView(
                name="fv",
                entities=["k"],
                ttl=timedelta(days=2),
                batch_source=FileSource(path=src_path, event_timestamp_column="ts"),
            ),
        ]
    )
    entity_df = spark.createDataFrame(
        [Row(k=1, event_timestamp=datetime(2024, 2, 1))]
    )
    out = store.get_historical_features(entity_df, ["fv:v"]).to_spark_df()
    plan = _optimized_explain(out)
    # both bounds present as pushed filters on the feature scan
    assert "GreaterThanOrEqual(ts" in plan, plan
    assert "LessThanOrEqual(ts" in plan, plan
    assert out.collect()[0]["v"] == 31.0


@pytest.mark.parametrize("kind", ["parquet", "sqlite"])
def test_online_read_runs_no_spark_job(spark, tmp_path, kind):
    """An online request on a materialized parquet or KV store is a
    driver-side read: after warm-up, get_online_features adds no Spark
    job."""
    import uuid

    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
    )

    src_path = str(tmp_path / "feat.parquet")
    spark.createDataFrame(
        [Row(k=i, ts=datetime(2024, 1, 1), v=float(i)) for i in range(100)]
    ).write.parquet(src_path)
    store = FeatureStore(
        spark,
        RepoConfig(
            registry_path=str(tmp_path / "r.json"),
            online_store_path=str(tmp_path / ("o.db" if kind == "sqlite" else "o")),
            online_store_type=kind,
        ),
    )
    store.apply(
        [
            Entity(name="k", value_type=ValueType.INT64),
            FeatureView(
                name="fv",
                entities=["k"],
                ttl=timedelta(days=2),
                batch_source=FileSource(path=src_path, event_timestamp_column="ts"),
            ),
        ]
    )
    store.materialize(datetime(2023, 12, 31), datetime(2024, 1, 2))
    rows = [{"k": 5}, {"k": 7}, {"k": 1000}]
    store.get_online_features(["fv:v"], rows)  # warm-up

    # a collect over a LocalRelation runs on the driver without a job,
    # so the session itself is watched too: serving must not touch it
    touched: list[str] = []

    class WatchedSession:
        def __getattr__(self, name):
            touched.append(name)
            return getattr(spark, name)

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    control, group = f"control-{uuid.uuid4()}", f"online-{uuid.uuid4()}"
    try:
        # control: the job-group probe does see an ordinary action
        sc.setJobGroup(control, "control")
        spark.range(10).collect()
        sc.setJobGroup(group, "online read")
        store.spark = WatchedSession()
        resp = store.get_online_features(["fv:v"], rows)
    finally:
        store.spark = spark
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert tracker.getJobIdsForGroup(control)
    assert tracker.getJobIdsForGroup(group) == []
    assert touched == []
    assert resp["v"] == [5.0, 7.0, None]
    assert resp["__statuses"]["v"] == ["PRESENT", "PRESENT", "NOT_FOUND"]


def test_cosine_topk_broadcasts_queries(spark):
    from feast_spark.operators.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF_MED}/embeddings.parquet")
    out = cosine_topk(emb, emb.filter("vec_id < 2"), k=3)
    plan = _executed_plan(out)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_sessionize_single_shuffle_reused_exchange(spark):
    """Both windows and the final agg share the key partitioning: one
    hash Exchange on user_id, everything else reuses it."""
    import re
    from datetime import timedelta as td

    from feast_spark.operators.sessionize import sessionize_batch
    from feast_spark.sources.testdata import load_table

    events = load_table(spark, SF_MED, "events")
    out = sessionize_batch(
        events.select("user_id", "ts"), ["user_id"], "ts", td(hours=1)
    )
    plan = _optimized_explain(out)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(user_id" in plan


def test_tumbling_agg_partial_combine(spark):
    """Map-side partial aggregation must precede the shuffle: shuffle
    volume is O(distinct (key, window)), not O(events)."""
    from datetime import timedelta as td

    from feast_spark.operators.window_agg import tumbling_window_agg
    from feast_spark.sources.testdata import load_table

    events = load_table(spark, SF_MED, "events")
    out = tumbling_window_agg(
        events.select("user_id", "ts", "value"),
        ["user_id"], "ts", td(hours=1),
        {"n": ("count", "value"), "s": ("sum", "value")},
    )
    plan = _executed_plan(out)
    # partial agg before the exchange, final after
    assert "partial_count" in plan or "partial" in plan.lower(), plan
    first_agg = plan.lower().index("hashaggregate")
    first_exchange = plan.lower().index("exchange")
    assert first_exchange < first_agg or "partial" in plan.lower()


def test_rolling_agg_single_shuffle(spark):
    import re
    from datetime import timedelta as td

    from feast_spark.operators.window_agg import rolling_window_agg
    from feast_spark.sources.testdata import load_table

    events = load_table(spark, SF_MED, "events")
    out = rolling_window_agg(
        events.select("user_id", "ts", "value"),
        ["user_id"], "ts", td(days=7), {"s": ("sum", "value")},
    )
    plan = _optimized_explain(out)
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan


def test_ivf_candidate_join_is_equi_not_cross(spark):
    """IVF candidates must form via an equi-join on the cell id — no
    cartesian/nested-loop between corpus and queries."""
    from feast_spark.operators.similarity import ivf_ann_topk

    emb = spark.read.parquet(f"{SF_MED}/embeddings.parquet")
    out = ivf_ann_topk(
        emb, emb.filter("vec_id < 3"), n_centroids=4, n_probe=2, k=5
    )
    plan = _executed_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan, plan


def test_topk_is_take_ordered_not_global_sort(spark):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (bounded
    per-partition heaps merged on the driver), never a global Sort —
    at 100 TB a full sort of the agg output is an extra range shuffle."""
    import __spark_entry__ as entry_mod

    out = entry_mod.q_topk_revenue(spark, SF_MED)
    plan = _executed_plan(out)
    assert "TakeOrderedAndProject" in plan, plan


def test_rollup_single_exchange_broadcast_dims(spark):
    """ROLLUP plans as Expand + one hash agg: one Exchange for the agg;
    all three dimension tables broadcast (no shuffle join)."""
    import re

    import __spark_entry__ as entry_mod

    out = entry_mod.q_rollup_revenue(spark, SF_MED)
    plan = _optimized_explain(out)
    assert "Expand" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    exchanges = [
        e
        for e in re.findall(r"^\(\d+\) Exchange.*$", plan, flags=re.M)
        if "broadcast" not in e.lower()
    ]
    assert len(exchanges) == 1, plan


def test_distinct_agg_two_phase(spark):
    """COUNT(DISTINCT) plans as the two-phase expand/partial-agg shape,
    never a driver-side collect."""
    import __spark_entry__ as entry_mod

    out = entry_mod.q_distinct_daily_users(spark, SF_MED)
    plan = _executed_plan(out)
    assert "HashAggregate" in plan
    assert "CollectLimit" not in plan


def test_lsh_bucket_expansion_single_exchange(spark):
    """The rewritten LSH candidate generation: banding + hot-bucket
    count window + per-bucket collect_list all share ONE hash Exchange
    on the bucket key (the Window's sort partitioning is reused by the
    ObjectHashAggregate), plus one Exchange for the pair distinct.  The
    hot-bucket filter must run BEFORE the collect_list materializes a
    bucket (Window then Filter then ObjectHashAggregate, top-down)."""
    import re

    from feast_spark.operators.docdedup import lsh_candidate_pairs
    from feast_spark.sources.testdata import load_table

    docs = load_table(spark, SF_MED, "documents")
    out = lsh_candidate_pairs(docs, "doc_id", "text", max_bucket_size=100)
    plan = _optimized_explain(out)
    # input repartition (widen_parallelism) + bucket key + pair distinct
    exchanges = [
        e
        for e in re.findall(r"^\(\d+\) Exchange.*$", plan, flags=re.M)
        if "broadcast" not in e.lower()
    ]
    assert len(exchanges) <= 3, plan
    # the size cap filters the windowed count before any aggregation;
    # node ids ascend child->parent, so the detail section lists the
    # dataflow order: Window (count) -> Filter (cap) -> collect_list
    order = [
        name
        for name in re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
        if name in ("Window", "Filter", "ObjectHashAggregate")
    ]
    assert "Window" in order, plan
    w = order.index("Window")
    assert "Filter" in order[w:], f"no bucket-cap Filter after Window:\n{plan}"
    f = w + order[w:].index("Filter")
    assert "ObjectHashAggregate" in order[f:], (
        f"collect_list must run after the cap filter:\n{plan}"
    )


def test_contamination_train_side_never_shuffles(spark):
    """ngram_contamination: the train corpus must probe a broadcast of
    the eval shingles — an inner BroadcastHashJoin with the eval side
    as build, and NO shuffle Exchange between the train scan and that
    join (the 100 TB property)."""
    import re

    from feast_spark.operators.contamination import ngram_contamination
    from feast_spark.sources.testdata import load_table

    docs = load_table(spark, SF_MED, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    ev = docs.filter(F.col("doc_id") % 2 == 1)
    plan = _optimized_explain(
        ngram_contamination(train, ev, "doc_id", "text", n=5)
    )
    assert "BroadcastHashJoin Inner BuildRight" in plan, plan
    # walk the detail section: between the LAST train-side Generate
    # (shingle explode) and the inner join node there must be no
    # shuffle Exchange — the probe side streams straight into the join
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, flags=re.M)
    join_idx = next(
        i for i, n in enumerate(nodes) if n == "BroadcastHashJoin"
    )
    gen_before_join = [
        i for i, n in enumerate(nodes[:join_idx]) if n == "Generate"
    ]
    assert gen_before_join, plan
    probe_span = nodes[gen_before_join[-1] : join_idx]
    assert "Exchange" not in probe_span, (
        f"train probe side shuffles before the join: {probe_span}\n{plan}"
    )


def test_pack_sequences_single_exchange(spark):
    """Both windows (cumsum binning + in-sequence position) run on the
    same shard partitioning: ONE Exchange for the whole pack — the
    second window adds only a sort, never a reshuffle."""
    import re

    import __spark_entry__ as entry_mod

    plan = _optimized_explain(entry_mod.q_pack_sequences(spark, SF_MED))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(shard" in plan, plan


def test_corpus_mix_single_exchange(spark):
    """The budget window partitions by (source, shard): one Exchange,
    and the budget lookup is a codegen map expression — no join node
    for the budgets dimension at all."""
    import re

    import __spark_entry__ as entry_mod

    plan = _optimized_explain(entry_mod.q_corpus_mix(spark, SF_MED))
    exchanges = re.findall(r"^\(\d+\) Exchange", plan, flags=re.M)
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(source" in plan, plan
    assert "Join" not in plan, plan


def test_weighted_sample_is_take_ordered(spark):
    """A-ES top-k must plan as TakeOrderedAndProject (per-partition
    heaps + k-row driver merge), never a global Sort + Limit."""
    import __spark_entry__ as entry_mod

    plan = _executed_plan(entry_mod.q_weighted_sample(spark, SF_MED))
    assert "TakeOrderedAndProject" in plan, plan


def test_lm_scoring_broadcasts_model(spark):
    """score_char_lm: the model (top-V rows) broadcasts; the corpus
    side streams into the join without an exchange before it."""
    from feast_spark.functions.lm import score_char_lm, train_char_lm
    from feast_spark.sources.testdata import load_table

    docs = load_table(spark, SF_MED, "documents")
    model = train_char_lm(docs, "text", n=3, vocab_size=100)
    plan = _optimized_explain(
        score_char_lm(docs, "doc_id", "text", model, n=3)
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_ts_topk_single_shuffle_take_ordered(spark):
    """Subsequence search: ONE exchange (the per-key window sort);
    distance + top-k stay narrow (TakeOrderedAndProject)."""
    from feast_spark.operators.timeseries import ts_topk_similar
    from feast_spark.sources.testdata import load_table

    ev = load_table(spark, SF_MED, "events")
    out = ts_topk_similar(
        ev, "user_id", "ts", "value", [1.0, 2.0, 1.0, 0.0], k=5,
        tiebreak_col="event_id",
    )
    plan = _optimized_explain(out)
    assert count_exchanges(plan) == 1, plan
    assert "TakeOrderedAndProject" in _executed_plan(out)


def test_explain_helpers_degrade_to_public_explain(spark):
    """If a Spark upgrade moves the private JVM accessors, the plan
    helpers must fall back to capturing public df.explain output
    instead of erroring — plan-pinned tests then degrade, not break."""
    from feast_spark.plans import (
        _explain_stdout,
        explain_formatted,
        executed_plan,
        plan_nodes,
    )

    df = spark.range(10).groupBy((F.col("id") % 2).alias("k")).count()

    class _Broken:
        """Proxy whose private accessors raise, as after an upgrade."""

        def __init__(self, inner):
            self.__inner = inner

        @property
        def _sc(self):
            raise AttributeError("internals moved")

        @property
        def _jdf(self):
            raise AttributeError("internals moved")

        def explain(self, mode):
            return self.__inner.explain(mode)

    via_fallback = explain_formatted(_Broken(df))
    assert "Exchange" in via_fallback
    assert plan_nodes(via_fallback), "fallback text must stay node-parseable"
    assert "Exchange" in executed_plan(_Broken(df))
    direct = _explain_stdout(df, "formatted")
    assert plan_nodes(direct) == plan_nodes(via_fallback)


def test_ts_topk_batch_broadcasts_queries_two_exchanges(spark):
    """Batch subsequence search: the query table is broadcast (never
    shuffled), the series side shuffles once for the key window, and
    the only other exchange is the per-query rank window's — and that
    exchange moves (query_id, key, ts, dist), never the window
    arrays."""
    from feast_spark.operators.timeseries import ts_topk_similar_batch
    from feast_spark.plans import count_exchanges, explain_formatted

    df = spark.range(0, 1000).select(
        (F.col("id") % 10).alias("k"),
        F.col("id").alias("t"),
        (F.col("id") % 7).cast("double").alias("v"),
    )
    queries = spark.createDataFrame(
        [("q1", [1.0, 2.0, 3.0, 4.0]), ("q2", [4.0, 3.0, 2.0, 1.0])],
        "query_id string, pattern array<double>",
    )
    out = ts_topk_similar_batch(df, "k", "t", "v", queries, window_len=4, k=5)
    plan = explain_formatted(out)
    assert count_exchanges(plan) == 2, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the rank exchange's hashpartitioning(query_id...) row must not
    # carry the collected window arrays
    import re

    for m in re.finditer(r"^\(\d+\) Exchange\b.*$", plan, flags=re.M):
        if "hashpartitioning(query_id" in m.group(0):
            assert "values" not in m.group(0), m.group(0)
