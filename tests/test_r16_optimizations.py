"""Round-16 optimization pins: the per-call cost cuts must stay
result-identical and keep their plan shapes.

Covers: the parquet schema memo (testdata + io/pread, including its
thread safety), the SQL-text twins of the Column-DSL literal-tree
builders (nearest_centroid, probe_cells, with_lsh_signature), the
zero-Exchange repetition_stats rewrite, the bm25 batch
subset-partitioning exchange collapse, the connected_components
one-job small-graph path, dsir's single-tokenize persist, and the
as-of join's SQL-text union_window builder (every plan, every spec
shape and column name).
"""

import functools

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tests.conftest import SF_MED, asof_plan


# ---------------------------------------------------------------------------
# schema memo
# ---------------------------------------------------------------------------

def test_schema_memo_read_is_identical_and_invalidates(spark, tmp_path):
    from feast_spark.io.pread import read_parquet_memo
    from feast_spark.sources.testdata import load_table

    # testdata loader: memoized second read == cold first read
    a = load_table(spark, SF_MED, "events")
    b = load_table(spark, SF_MED, "events")
    assert a.schema == b.schema
    assert a.count() == b.count()

    # pread: same rows both ways, and a REWRITTEN path must re-infer
    p = str(tmp_path / "t")
    spark.range(5).select(F.col("id").alias("x")).write.parquet(p)
    r1 = read_parquet_memo(spark, p)
    assert [r["x"] for r in r1.orderBy("x").collect()] == [0, 1, 2, 3, 4]
    r1b = read_parquet_memo(spark, p)  # memo hit
    assert r1b.schema == r1.schema
    spark.range(3).select(
        F.col("id").cast("string").alias("y")
    ).write.mode("overwrite").parquet(p)
    r2 = read_parquet_memo(spark, p)
    assert r2.columns == ["y"]  # stale schema would still say ["x"]


def test_read_parquet_memo_is_thread_safe_under_eviction(tmp_path, monkeypatch):
    """Serving threads share the memo: with a 2-entry memo and 4 paths
    every miss evicts, so an unlocked get -> move_to_end can race
    another thread's eviction and raise KeyError.  The memo's get
    yields the GIL to make that window reliable; the reader is a stub,
    so only the memo's own bookkeeping is exercised."""
    import sys
    import threading
    import time
    from types import SimpleNamespace

    from feast_spark.io import pread

    class _Reader:
        def option(self, *_):
            return self

        def parquet(self, *paths):
            return SimpleNamespace(paths=paths)

    stub = SimpleNamespace(
        _jsparkSession=SimpleNamespace(sessionUUID=lambda: "s"),
        sparkContext=SimpleNamespace(applicationId="app"),
        read=_Reader(),
    )
    paths = []
    for i in range(4):
        p = tmp_path / f"f{i}.parquet"
        p.write_bytes(b"x")
        paths.append(str(p))

    class _YieldingMemo(type(pread._DF_MEMO)):
        def get(self, key, default=None):
            got = super().get(key, default)
            time.sleep(0)  # let other threads run between get and move_to_end
            return got

    monkeypatch.setattr(pread, "_MAX_ENTRIES", 2)
    monkeypatch.setattr(pread, "_DF_MEMO", _YieldingMemo())
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often: widen the race
    errors = []

    def worker(k):
        try:
            for i in range(300):
                path = paths[(i * (k + 1)) % 4]
                assert pread.read_parquet_memo(stub, path).paths == (path,)
        except Exception as e:  # surfaced below, not lost in the thread
            errors.append(e)

    try:
        threads = [threading.Thread(target=worker, args=(k,)) for k in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old_interval)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors[:3]
    assert len(pread._DF_MEMO) <= 2


# ---------------------------------------------------------------------------
# SQL-text literal trees == Column-DSL trees
# ---------------------------------------------------------------------------

def test_nearest_centroid_sql_text_matches_column_path(spark):
    from feast_spark.operators.similarity import nearest_centroid, probe_cells

    cents = [
        [0.1, 0.2, 0.3, 0.4],
        [1e-300, -0.0, 3.141592653589793, 1.5e16],
        [5e-324, 2.2250738585072014e-308, -1e308, 0.25],
    ]
    df = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.3, 0.4]), (2, [1e-300, 0.0, 3.0, 1.5e16]),
         (3, [-1.0, -2.0, -3.0, -4.0])],
        "id LONG, v ARRAY<DOUBLE>",
    )
    a = df.withColumn("c", nearest_centroid(F.col("v"), cents))
    b = df.withColumn("c", nearest_centroid("v", cents))
    assert a.schema == b.schema
    assert a.orderBy("id").collect() == b.orderBy("id").collect()

    pa = df.withColumn("p", probe_cells(F.col("v"), cents, 2))
    pb = df.withColumn("p", probe_cells("v", cents, 2))
    assert pa.orderBy("id").collect() == pb.orderBy("id").collect()


def test_lsh_signature_sql_build_matches_reference_bits(spark):
    """The one-expr LSH signature must equal a per-bit recomputation
    from hyperplane_sign (the pre-r16 Column-DSL semantics)."""
    from feast_spark.operators.similarity import (
        hyperplane_sign,
        with_lsh_signature,
    )
    from feast_spark.sources.testdata import load_table

    emb = load_table(spark, SF_MED, "embeddings").limit(50)
    rows = with_lsh_signature(emb, "embedding", 64, 16).collect()
    for r in rows[:10]:
        v = r["embedding"]
        expect = 0
        for p in range(16):
            s = 0.0
            for d in range(64):
                s = s + float(v[d]) * hyperplane_sign(p, d)
            if s > 0:
                expect |= 1 << p
        assert r["lsh_sig"] == expect


# ---------------------------------------------------------------------------
# repetition_stats: zero Exchange, explode semantics preserved
# ---------------------------------------------------------------------------

def test_repetition_stats_plan_has_no_exchange(spark):
    from feast_spark.functions.text import repetition_stats
    from feast_spark.sources.testdata import load_table

    docs = load_table(spark, SF_MED, "documents")
    plan = (
        repetition_stats(docs, "doc_id", "text")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode anywhere


def test_repetition_stats_values_match_explode_formulation(spark):
    """Run-length spelling == the explicit gram-count spelling."""
    from feast_spark.functions.text import (
        normalize_text,
        repetition_stats,
        tokens,
    )

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "x y x y x y"), (3, "one"),
         (4, ""), (5, None), (6, "a b")],
        "doc_id LONG, text STRING",
    )
    out = {r["doc_id"]: r for r in repetition_stats(df, "doc_id", "text").collect()}
    # doc 1: 6 unigrams, top 'a' x3; bigrams: 'a a' x2,'a b','b b','b c' -> top 2/5, dup 2/5
    assert out[1]["top_token_frac"] == pytest.approx(3 / 6)
    assert out[1]["top_bigram_frac"] == pytest.approx(2 / 5)
    assert out[1]["dup_bigram_frac"] == pytest.approx(2 / 5)
    # doc 2: 'x y' x3 + 'y x' x2 of 5 bigrams -> dup frac 1.0
    assert out[2]["top_bigram_frac"] == pytest.approx(3 / 5)
    assert out[2]["dup_bigram_frac"] == pytest.approx(1.0)
    # short/empty/null docs: all-zero stats, rows kept
    for doc in (3, 4, 5):
        assert out[doc]["top_bigram_frac"] == 0.0
        assert out[doc]["dup_bigram_frac"] == 0.0
    assert out[6]["top_token_frac"] == pytest.approx(1 / 2)
    assert out[6]["dup_bigram_frac"] == 0.0


# ---------------------------------------------------------------------------
# bm25 batch: ONE exchange serves the aggregation and the window
# ---------------------------------------------------------------------------

def test_bm25_batch_aggregation_and_window_share_one_exchange(spark, tmp_path):
    from feast_spark.operators.bm25 import bm25_index_topk_batch, build_bm25_index
    from feast_spark.sources.testdata import load_table

    docs = load_table(spark, SF_MED, "documents")
    idx = str(tmp_path / "idx")
    build_bm25_index(docs, idx, "doc_id", "text", n_term_buckets=16)
    qdf = spark.createDataFrame(
        [(i, ["hash", "scan"]) for i in range(4)],
        "query_id LONG, terms ARRAY<STRING>",
    )
    plan = (
        bm25_index_topk_batch(spark, idx, qdf, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the scored side must shuffle ONCE on query_id: no second
    # (query_id, id) exchange between the aggregate and the window
    assert plan.count("Exchange hashpartitioning(query_id#") == 1, plan[:2000]


# ---------------------------------------------------------------------------
# connected_components: limit-collect path, boundary behavior
# ---------------------------------------------------------------------------

def test_connected_components_small_graph_boundary(spark):
    from feast_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 20)],  # dup edge too
        "id_a LONG, id_b LONG",
    )
    # threshold exactly the deduped edge count -> driver path
    out = {
        r["node"]: r["component"]
        for r in connected_components(pairs, driver_threshold=4).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20}
    # threshold below -> distributed path, same labels
    out2 = {
        r["node"]: r["component"]
        for r in connected_components(
            pairs, driver_threshold=3, max_iter=10
        ).collect()
    }
    assert out2 == out


# ---------------------------------------------------------------------------
# dsir: the tokenize pass materializes once
# ---------------------------------------------------------------------------

def test_dsir_weights_tokenize_pass_is_persisted_once(spark):
    from feast_spark.operators.dsir import dsir_log_weights
    from feast_spark.sources.testdata import load_table

    docs = load_table(spark, SF_MED, "documents")
    raw = docs.filter("doc_id % 3 != 0")
    tgt = docs.filter("doc_id % 3 = 0")
    w = dsir_log_weights(raw, tgt)
    plan = w._jdf.queryExecution().executedPlan().toString()
    # the per-doc counts frame is cached: both consumers read the
    # InMemoryRelation instead of re-running the raw-side tokenize
    assert "InMemoryTableScan" in plan
    # weights present for every raw doc id
    assert w.count() == raw.count()


# ---------------------------------------------------------------------------
# asof join: every plan agrees on every spec shape and column name
# ---------------------------------------------------------------------------

def _asof_oracle(ent_rows, feat_rows, spec, ent_ts):
    """Nested-loop as-of join over plain dicts: per entity row, the
    latest feature row with equal keys and ts in [t - ttl, t]; ties on
    ts go to the max created, and a NULL created loses."""
    def rank(r):
        c = r[spec.created_col] if spec.created_col else None
        return (r[spec.timestamp_col], c is not None, c or r[spec.timestamp_col])

    out = []
    for e in ent_rows:
        t = e[ent_ts]
        best = max(
            (
                r for r in feat_rows
                if all(r[spec.key_mapping.get(k, k)] == e[k] for k in spec.join_keys)
                and r[spec.timestamp_col] <= t
                and (spec.ttl is None or r[spec.timestamp_col] >= t - spec.ttl)
            ),
            key=rank,
            default=None,
        )
        row = dict(e)
        for f in spec.features:
            row[spec.out_name(f)] = None if best is None else best[f]
        out.append(row)
    return out


@pytest.mark.parametrize(
    "shape",
    [
        "ttl", "no_ttl", "prefix_created", "keymap", "int_key_cast",
        "spaced_entity_col", "current_date_ts", "nested_nonnull",
        "no_keys", "dotted_names", "backtick_feature",
    ],
)
def test_asof_join_shapes_agree_across_strategies(spark, shape):
    """Every physical plan returns the nested-loop oracle's rows and
    the declared schema for each spec shape: ttl / no ttl, prefix +
    created tie-break (a NULL created loses), key mapping, an int
    feature key joined to a long entity key, an entity column with a
    space, an entity ts named like a niladic SQL function
    (``current_date`` must resolve as the column), non-nullable nested
    features (nested nullability survives), no join keys, and key and
    feature names containing a dot or a backtick.  The bucket cogroup
    sits out the keyless spec, which has no key to hash a bucket id
    from."""
    from datetime import datetime, timedelta

    from pyspark.sql import types as T

    from feast_spark.operators.asof_join import AsOfJoinSpec

    L, I, D, TS = T.LongType(), T.IntegerType(), T.DoubleType(), T.TimestampType()

    def day(d):
        return datetime(2024, 1, 1) + timedelta(days=d)

    # (user, ts, value, created); (user, ts) is unique outside `twins`
    feats = [
        (1, day(0), 1.0, day(0)), (1, day(2), None, day(2)),
        (1, day(5), 3.0, day(5)), (2, day(1), 10.0, None),
        (2, day(4), 20.0, day(4)),
    ]
    twins = [(1, day(0), 1.5, day(0) + timedelta(hours=1)),
             (2, day(1), 11.0, day(1))]
    # (event, user, ts): a plain match, a NULL value at an equal ts
    # (inclusive upper bound; must not fall back to an older value),
    # ttl expiry, the inclusive lower ttl bound, no row yet, unknown key
    ents = [(1, 1, day(1)), (2, 1, day(2)), (3, 1, day(5.5)),
            (4, 1, day(9)), (5, 2, day(3)), (6, 2, day(0)), (7, 3, day(3))]

    key, fkey, ts, eid, val = "user_id", "user_id", "ts", "event_id", "value"
    fkey_t, val_t = L, D
    key_map, ttl = {}, timedelta(days=2)
    created, prefix = None, None
    if shape == "no_ttl":
        ttl = None
    elif shape == "prefix_created":
        created, prefix, feats = "created", "v", feats + twins
    elif shape == "keymap":
        fkey, key_map = "uid", {key: "uid"}
    elif shape == "int_key_cast":
        fkey_t = I
    elif shape == "spaced_entity_col":
        eid = "event id"
    elif shape == "current_date_ts":
        ts = "current_date"
    elif shape == "nested_nonnull":
        val_t = T.StructType([
            T.StructField("a", T.ArrayType(L, False), False),
            T.StructField("b", D, False),
        ])
        feats = [
            (k, t, None if v is None else {"a": [int(v)], "b": v}, c)
            for k, t, v, c in feats
        ]
    elif shape == "no_keys":
        ents = [e for e in ents if e[1] == 1]
        feats = [f for f in feats if f[0] == 1]
    elif shape == "dotted_names":
        key, fkey, val = "u.id", "u.id", "a.b"
    elif shape == "backtick_feature":
        val = "x`y"

    keys = [] if shape == "no_keys" else [key]
    f_schema = T.StructType([
        T.StructField(fkey, fkey_t), T.StructField("ts", TS),
        T.StructField(val, val_t), T.StructField("created", TS),
    ])
    e_schema = T.StructType([
        T.StructField(eid, L), T.StructField(key, L), T.StructField(ts, TS),
    ])
    spec = AsOfJoinSpec(
        spark.createDataFrame(feats, f_schema), keys, "ts", [val],
        created_col=created, ttl=ttl, prefix=prefix, key_mapping=key_map,
    )
    entity_df = spark.createDataFrame(ents, e_schema)
    want_schema = [(ts, TS), (eid, L), (key, L), (spec.out_name(val), val_t)]
    want = sorted(
        repr({c: r[c] for c, _ in want_schema})
        for r in _asof_oracle(
            [dict(zip(e_schema.names, r)) for r in ents],
            [dict(zip(f_schema.names, r)) for r in feats],
            spec, ts,
        )
    )

    strategies = ("union_window", "range_join")
    if keys:
        strategies += ("sorted_merge",)
    outs = []
    for strategy in strategies:
        out = asof_plan(strategy, entity_df, ts, [spec])
        assert [(f.name, f.dataType) for f in out.schema] == want_schema, (
            shape, strategy,
        )
        outs.append(out.withColumn("__strategy", F.lit(strategy)))
    # one job for every plan keeps the test to seconds
    rows = functools.reduce(DataFrame.unionByName, outs).collect()
    for strategy in strategies:
        got = sorted(
            repr({c: v for c, v in r.asDict(recursive=True).items()
                  if c != "__strategy"})
            for r in rows if r["__strategy"] == strategy
        )
        assert got == want, (shape, strategy)


# ---------------------------------------------------------------------------
# Arrow-vectorized nearest-centroid assignment == expression path
# ---------------------------------------------------------------------------

def test_nearest_centroid_arrow_bit_identical(spark):
    """The NumPy assignment path must match the expression tree
    bit-for-bit: same float64 widening, same sequential per-dim fold,
    same first-min tie-break, and the same NULL result for null /
    ragged rows (zip_with's null-padding semantics)."""
    import random

    from feast_spark.operators.similarity import (
        nearest_centroid,
        nearest_centroid_arrow,
    )
    from feast_spark.sources.testdata import load_table

    random.seed(11)
    cents = [[random.random() for _ in range(64)] for _ in range(16)]
    emb = load_table(spark, SF_MED, "embeddings").select(
        F.col("vec_id").alias("i"), F.col("embedding").alias("v")
    )
    a = emb.withColumn("c", nearest_centroid("v", cents))
    b = emb.withColumn("c", nearest_centroid_arrow("v", cents))
    assert a.schema == b.schema
    assert (
        a.select("i", "c").orderBy("i").collect()
        == b.select("i", "c").orderBy("i").collect()
    )

    cents4 = [[0.5] * 4, [1.5] * 4]
    edge = spark.createDataFrame(
        [
            (0, None),
            (1, [1.0] * 3),          # ragged short -> NULL
            (2, [1.0] * 5),          # ragged long -> NULL
            (3, [float("nan")] * 4), # all-NaN dists -> first cell
            (4, [float("inf")] * 4),
            (5, [0.0] * 4),
            (6, [-0.0] * 4),
            (7, [1.0, None, 0.2, 0.3]),  # NULL element -> NULL cell
        ],
        "i INT, v ARRAY<DOUBLE>",
    )
    for frame in (edge, edge.withColumn("v", F.col("v").cast("array<float>"))):
        ea = frame.withColumn("c", nearest_centroid("v", cents4))
        eb = frame.withColumn("c", nearest_centroid_arrow("v", cents4))
        assert (
            ea.select("i", "c").orderBy("i").collect()
            == eb.select("i", "c").orderBy("i").collect()
        )


def test_assign_nearest_centroid_dispatch_is_size_adaptive(spark, monkeypatch):
    """Small file-backed scans keep the pure-JVM expression plan (no
    Python node on request/test-sized inputs); once the scan crosses
    the byte threshold the plan carries exactly one ArrowEvalPython.
    Both paths are bit-identical, so the dispatch only changes the
    plan, never the rows."""
    import random

    from feast_spark.operators.similarity import assign_nearest_centroid
    from feast_spark.sources.testdata import load_table

    random.seed(3)
    cents = [[random.random() for _ in range(64)] for _ in range(8)]
    emb = load_table(spark, SF_MED, "embeddings").select(
        F.col("vec_id").alias("i"), F.col("embedding").alias("v")
    )

    small = assign_nearest_centroid(emb, "v", cents, "c")
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan_small

    monkeypatch.setenv("SPARK_GRAFT_ARROW_ASSIGN_MIN_BYTES", "1")
    big = assign_nearest_centroid(emb, "v", cents, "c")
    plan_big = big._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan_big

    assert (
        small.select("i", "c").orderBy("i").collect()
        == big.select("i", "c").orderBy("i").collect()
    )

    # a LocalRelation (request-sized, no files) must stay JVM-side
    # even under the forced threshold
    from feast_spark.io.localframe import local_df
    from pyspark.sql import types as T

    req = local_df(
        spark,
        [(1, [0.1] * 64)],
        T.StructType(
            [
                T.StructField("i", T.IntegerType()),
                T.StructField("v", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    plan_req = (
        assign_nearest_centroid(req, "v", cents, "c")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" not in plan_req


# ---------------------------------------------------------------------------
# semdedup verify stage: SQL-text cosine + persisted semi-join
# ---------------------------------------------------------------------------

def test_semdedup_verify_vecs_semi_join_computed_once(spark):
    """The candidate-vector semi-join feeds BOTH sides of the verify
    join; it must be persisted so the corpus semi-join runs once (the
    executed plan shows the second reference as an InMemoryTableScan)."""
    import random

    from feast_spark.operators.semdedup import semantic_dedup_pairs
    from feast_spark.sources.testdata import load_table

    emb = load_table(spark, SF_MED, "embeddings")
    random.seed(5)
    cents = [[random.random() for _ in range(64)] for _ in range(8)]
    pairs = semantic_dedup_pairs(
        emb, "vec_id", "embedding", threshold=0.3, centroids=cents,
        max_cluster_size=40,
    )
    pairs.count()
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan


# ---------------------------------------------------------------------------
# ensure_local: request frames materialize as LocalRelations exactly once
# ---------------------------------------------------------------------------

def test_ensure_local_passthrough_and_rebuild(spark):
    """A frame that already IS a LocalRelation passes through untouched
    (rebuilding would re-collect for nothing); a classic pickled-RDD
    createDataFrame frame is rebuilt with identical rows/schema and no
    pickled-RDD scan left in the plan."""
    from feast_spark.io.localframe import ensure_local, is_local_relation, local_df

    schema = "user_id BIGINT, v DOUBLE"
    rows = [(i, float(i) / 7) for i in range(100)]

    loc = local_df(spark, rows, schema)
    assert is_local_relation(loc)
    assert ensure_local(loc) is loc

    classic = spark.createDataFrame(rows, schema)
    rebuilt = ensure_local(classic)
    assert rebuilt.schema == classic.schema
    assert rebuilt.orderBy("user_id").collect() == classic.orderBy(
        "user_id"
    ).collect()
    assert "ExistingRDD" not in rebuilt._jdf.queryExecution().executedPlan().toString()


def test_ensure_local_sees_through_projections(spark):
    """A select over a LocalRelation must still pass through — the
    bm25 batch call site always wraps its request frame in a select,
    and ConvertToLocalRelation collapses the Project only in the
    optimized plan."""
    from feast_spark.io.localframe import is_local_relation, local_df

    base = local_df(
        spark, [(1, "a"), (2, "b")], "query_id BIGINT, term STRING"
    )
    assert is_local_relation(base.select("query_id", "term"))
