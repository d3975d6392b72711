"""Mergeable HLL sketch rollups: accuracy, union-equals-rebuild,
incremental maintenance, and the streaming fold."""

import math

import pytest
from pyspark.sql import functions as F

from feast_spark.operators.sketches import (
    SketchTable,
    build_distinct_sketches,
    estimate_distinct,
    merge_sketch_tables,
)
from feast_spark.sources.testdata import load_table
from tests.conftest import SF_SMALL


def _events(spark):
    return load_table(spark, SF_SMALL, "events").withColumn(
        "day", F.to_date("ts")
    )


def test_estimate_within_error_bounds(spark):
    ev = _events(spark)
    sk = build_distinct_sketches(ev, "user_id", ["day"], lgk=12)
    est = estimate_distinct(sk).collect()[0]["n_distinct"]
    exact = ev.select(F.countDistinct("user_id")).collect()[0][0]
    # rsd at lgk=12 is ~1.04/sqrt(2^12) ~ 1.6%; allow 5 sigma
    assert abs(est - exact) <= max(1, 5 * 1.04 / math.sqrt(2**12) * exact)


def test_union_of_daily_equals_global_sketch(spark):
    """Sketch-of-union == union-of-sketches (same lgK): rollups and
    incremental maintenance lose nothing vs a full rebuild."""
    ev = _events(spark)
    daily = build_distinct_sketches(ev, "user_id", ["day"], lgk=12)
    rolled = estimate_distinct(daily).collect()[0]["n_distinct"]
    direct = (
        ev.agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 12)).alias("n")
        ).collect()[0]["n"]
    )
    assert rolled == direct


def test_range_query_uses_only_selected_rows(spark):
    ev = _events(spark)
    daily = build_distinct_sketches(ev, "user_id", ["day"], lgk=12)
    lo, hi = "2024-01-05", "2024-01-12"
    est = (
        estimate_distinct(daily.filter(F.col("day").between(lo, hi)))
        .collect()[0]["n_distinct"]
    )
    exact = (
        ev.filter(F.col("day").between(lo, hi))
        .select(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert abs(est - exact) <= max(1, 0.1 * exact)


def test_grouped_estimate_per_event_type(spark):
    ev = _events(spark)
    sk = build_distinct_sketches(ev, "user_id", ["day", "event_type"], lgk=12)
    per_type = {
        r["event_type"]: r["n_distinct"]
        for r in estimate_distinct(sk, group_cols=["event_type"]).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert set(per_type) == set(exact)
    for t, n in exact.items():
        assert abs(per_type[t] - n) <= max(1, 0.1 * n)


def test_merge_matches_full_rebuild(spark):
    """Folding a late slice into an existing table gives the exact same
    estimates as rebuilding over all the data."""
    ev = _events(spark)
    early = ev.filter(F.col("day") < "2024-01-15")
    late = ev.filter(F.col("day") >= "2024-01-15")
    merged = merge_sketch_tables(
        build_distinct_sketches(early, "user_id", ["day"]),
        build_distinct_sketches(late, "user_id", ["day"]),
        ["day"],
    )
    rebuilt = build_distinct_sketches(ev, "user_id", ["day"])
    m = estimate_distinct(merged).collect()[0]["n_distinct"]
    r = estimate_distinct(rebuilt).collect()[0]["n_distinct"]
    assert m == r
    # row counts survive the merge too
    assert (
        merged.agg(F.sum("n_rows")).collect()[0][0]
        == rebuilt.agg(F.sum("n_rows")).collect()[0][0]
        == ev.count()
    )


def test_sketch_table_incremental_update(spark, tmp_path):
    ev = _events(spark)
    table = SketchTable(str(tmp_path / "sk"), "user_id", ["day"])
    table.update(spark, ev.filter(F.col("day") < "2024-01-10"))
    table.update(spark, ev.filter(F.col("day") >= "2024-01-10"))
    est = table.estimate(spark).collect()[0]["n_distinct"]
    full = estimate_distinct(
        build_distinct_sketches(ev, "user_id", ["day"])
    ).collect()[0]["n_distinct"]
    assert est == full
    # range query through the table facade
    jan_est = table.estimate(
        spark, where=F.col("day") < "2024-01-10"
    ).collect()[0]["n_distinct"]
    jan_exact = (
        ev.filter(F.col("day") < "2024-01-10")
        .select(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert abs(jan_est - jan_exact) <= max(1, 0.1 * jan_exact)


def test_sketch_table_estimate_before_data_raises(spark, tmp_path):
    table = SketchTable(str(tmp_path / "empty"), "user_id", ["day"])
    with pytest.raises(ValueError):
        table.estimate(spark)


def test_foreach_batch_fold_is_batching_insensitive(spark, tmp_path):
    """Feeding the same rows in different micro-batch splits yields
    identical sketch estimates — the stream==batch identity."""
    ev = _events(spark)
    a = SketchTable(str(tmp_path / "a"), "user_id", ["day"])
    b = SketchTable(str(tmp_path / "b"), "user_id", ["day"])
    fa = a.foreach_batch_writer(spark)
    fb = b.foreach_batch_writer(spark)
    # stream A: two uneven batches; stream B: one batch + an empty one
    fa(ev.filter(F.col("user_id") % 3 == 0), 0)
    fa(ev.filter(F.col("user_id") % 3 != 0), 1)
    fb(ev, 0)
    fb(ev.limit(0), 1)
    ea = a.estimate(spark).collect()[0]["n_distinct"]
    eb = b.estimate(spark).collect()[0]["n_distinct"]
    assert ea == eb


def test_gc_keeps_bounded_versions(spark, tmp_path):
    import os

    ev = _events(spark)
    root = str(tmp_path / "gc")
    table = SketchTable(root, "user_id", ["day"], keep_versions=2)
    for cut in ("2024-01-05", "2024-01-10", "2024-01-15", "2024-01-20"):
        table.update(spark, ev.filter(F.col("day") < cut))
    dirs = [d for d in os.listdir(root) if d.startswith("v_")]
    assert len(dirs) <= 2


# -- mergeable value histograms -----------------------------------------


def test_histogram_counts_exact(spark):
    """Bin counts are EXACT — cross-checked against a numpy histogram
    built with width_bucket's formula on the same doubles."""
    import numpy as np

    from feast_spark.operators.sketches import build_histogram_sketches

    ev = load_table(spark, SF_SMALL, "events")
    lo, hi, nb = 0.0, 50.0, 16
    h = {
        r["event_type"]: r["bin_counts"]
        for r in build_histogram_sketches(
            ev, "value", ["event_type"], lo, hi, n_bins=nb
        ).collect()
    }
    pdf = ev.select("event_type", "value").toPandas()
    for etype, grp in pdf.groupby("event_type"):
        v = grp["value"].dropna().to_numpy()
        bucket = np.where(
            v < lo, 0, np.where(v >= hi, nb + 1,
                                (np.floor((v - lo) / ((hi - lo) / nb)) + 1))
        ).astype(int)
        want = np.bincount(bucket, minlength=nb + 2).tolist()
        assert h[etype] == want, etype
        assert sum(h[etype]) == len(v)


def test_histogram_merge_equals_rebuild(spark):
    from feast_spark.operators.sketches import (
        build_histogram_sketches,
        merge_histogram_tables,
    )

    ev = load_table(spark, SF_SMALL, "events").withColumn(
        "day", F.to_date("ts")
    )
    early = ev.filter(F.col("day") < "2024-01-15")
    late = ev.filter(F.col("day") >= "2024-01-15")
    merged = merge_histogram_tables(
        build_histogram_sketches(early, "value", ["event_type"], 0.0, 50.0),
        build_histogram_sketches(late, "value", ["event_type"], 0.0, 50.0),
        ["event_type"],
    )
    rebuilt = build_histogram_sketches(ev, "value", ["event_type"], 0.0, 50.0)
    m = {r["event_type"]: r["bin_counts"] for r in merged.collect()}
    r_ = {r["event_type"]: r["bin_counts"] for r in rebuilt.collect()}
    assert m == r_  # exact, not approximate: longs add losslessly


def test_quantile_estimates_within_bin_width(spark):
    from feast_spark.operators.sketches import (
        build_histogram_sketches,
        estimate_quantiles,
    )

    ev = load_table(spark, SF_SMALL, "events")
    # range must cover the quantiles being asked for — values above hi
    # land in the overflow bin and clamp to hi (pinned below)
    lo, hi, nb = 0.0, 400.0, 512
    h = build_histogram_sketches(ev, "value", ["event_type"], lo, hi, n_bins=nb)
    est = estimate_quantiles(h, [0.5, 0.9], lo, hi).collect()[0]
    exact = ev.agg(
        F.expr("percentile(value, array(0.5, 0.9))").alias("p")
    ).collect()[0]["p"]
    width = (hi - lo) / nb
    assert abs(est["q_0_5"] - exact[0]) <= width
    assert abs(est["q_0_9"] - exact[1]) <= width
    # grouped estimates roll daily histograms up per event_type
    per_type = estimate_quantiles(
        h, [0.5], lo, hi, group_cols=["event_type"]
    ).collect()
    exact_types = {
        r["event_type"]: r["p"]
        for r in ev.groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p"))
        .collect()
    }
    for r in per_type:
        assert abs(r["q_0_5"] - exact_types[r["event_type"]]) <= width
    # a quantile beyond the covered range clamps to hi (overflow bin)
    h2 = build_histogram_sketches(ev, "value", ["event_type"], 0.0, 50.0)
    est2 = estimate_quantiles(h2, [0.9], 0.0, 50.0).collect()[0]
    assert est2["q_0_9"] == 50.0


def test_histogram_underflow_overflow_nulls(spark):
    from pyspark.sql import Row

    from feast_spark.operators.sketches import build_histogram_sketches

    df = spark.createDataFrame(
        [
            Row(g="a", v=-5.0),   # underflow
            Row(g="a", v=0.0),    # first bin
            Row(g="a", v=9.99),   # last bin
            Row(g="a", v=10.0),   # overflow (hi is exclusive)
            Row(g="a", v=None),   # not counted
        ]
    )
    h = build_histogram_sketches(df, "v", ["g"], 0.0, 10.0, n_bins=2)
    counts = h.collect()[0]["bin_counts"]
    assert counts == [1, 1, 1, 1]  # under, bin1, bin2, over
    assert sum(counts) == 4  # the NULL never lands anywhere


def test_sketch_foreach_batch_replay_is_idempotent(spark, tmp_path):
    """At-least-once epoch replay must not inflate n_rows (the HLL
    union itself is idempotent; the row counter is not)."""
    ev = _events(spark)
    table = SketchTable(str(tmp_path / "rp"), "user_id", ["day"])
    fn = table.foreach_batch_writer(spark)
    fn(ev, 0)
    once = table.read(spark).agg(F.sum("n_rows")).collect()[0][0]
    fn(ev, 0)  # crash-restart replay of the same epoch
    again = table.read(spark).agg(F.sum("n_rows")).collect()[0][0]
    assert once == again == ev.count()
    fn(ev.limit(50), 1)  # a genuinely new epoch folds in
    assert (
        table.read(spark).agg(F.sum("n_rows")).collect()[0][0]
        == ev.count() + 50
    )


def test_manual_update_preserves_epoch_watermark(spark, tmp_path):
    """A manual update() (meta=None commit) between micro-batches must
    NOT wipe the epoch watermark — otherwise an at-least-once replay
    of an already-applied epoch is re-folded and n_rows double-counts."""
    ev = _events(spark)
    table = SketchTable(str(tmp_path / "wm"), "user_id", ["day"])
    writer = table.foreach_batch_writer(spark)
    writer(ev.filter(F.col("day") < "2024-01-10"), 0)
    assert table._table.current_meta().get("epoch") == 0
    # manual backfill commit with no meta — watermark must survive
    table.update(spark, ev.filter(F.col("day") >= "2024-01-10"))
    assert table._table.current_meta().get("epoch") == 0
    n_before = table.read(spark).agg(F.sum("n_rows")).collect()[0][0]
    # crash/restart replay of epoch 0 (at-least-once) — must be skipped
    writer(ev.filter(F.col("day") < "2024-01-10"), 0)
    n_after = table.read(spark).agg(F.sum("n_rows")).collect()[0][0]
    assert n_after == n_before


def test_manifest_meta_merges_and_deletes(spark, tmp_path):
    from feast_spark.io.manifest import ManifestedParquetTable

    t = ManifestedParquetTable(str(tmp_path / "m"))
    df = spark.range(3)
    t.commit(df, meta={"epoch": 7, "note": "a"})
    t.commit(df)  # meta=None: carries prior meta forward
    assert t.current_meta() == {"epoch": 7, "note": "a"}
    t.commit(df, meta={"epoch": 9})  # merge over old
    assert t.current_meta() == {"epoch": 9, "note": "a"}
    t.commit(df, meta={"note": None})  # explicit None deletes the key
    assert t.current_meta() == {"epoch": 9}


def test_histogram_table_incremental_update_equals_rebuild(spark, tmp_path):
    """Two slice updates == one build over the union (histogram merge
    is exact), and quantiles answer from the stored rows."""
    from feast_spark.operators.sketches import (
        HistogramTable,
        build_histogram_sketches,
    )

    ev = load_table(spark, SF_SMALL, "events")
    a = ev.filter(F.col("ts") < "2024-01-15")
    b = ev.filter(F.col("ts") >= "2024-01-15")
    ht = HistogramTable(
        str(tmp_path / "ht"), "value", ["event_type"], 0.0, 100.0, 16
    )
    ht.update(spark, a)
    ht.update(spark, b)
    got = {
        r["event_type"]: r["bin_counts"]
        for r in ht.read(spark).collect()
    }
    want = {
        r["event_type"]: r["bin_counts"]
        for r in build_histogram_sketches(
            ev, "value", ["event_type"], 0.0, 100.0, 16
        ).collect()
    }
    assert got == want
    q = ht.quantiles(spark, [0.5], group_cols=["event_type"]).collect()
    assert all(0.0 <= r["q_0_5"] <= 100.0 for r in q)


def test_histogram_table_frozen_binning(spark, tmp_path):
    from feast_spark.operators.sketches import HistogramTable

    ev = load_table(spark, SF_SMALL, "events")
    root = str(tmp_path / "ht")
    HistogramTable(root, "value", [], 0.0, 100.0, 16).update(spark, ev)
    with pytest.raises(ValueError, match="binning"):
        HistogramTable(root, "value", [], 0.0, 50.0, 16).update(spark, ev)


def test_histogram_table_drift_against_matches_feature_drift(spark, tmp_path):
    from feast_spark.operators.drift import feature_drift
    from feast_spark.operators.sketches import HistogramTable

    ev = load_table(spark, SF_SMALL, "events")
    ref = ev.filter(F.col("ts") < "2024-01-15")
    cur = ev.filter(F.col("ts") >= "2024-01-15")
    ht = HistogramTable(str(tmp_path / "ht"), "value", [], 0.0, 100.0, 16)
    ht.update(spark, ref)
    a = ht.drift_against(spark, cur).first()
    b = feature_drift(ref, cur, "value", lo=0.0, hi=100.0, n_bins=16).first()
    assert a == b


def test_histogram_table_replay_is_idempotent(spark, tmp_path):
    """An at-least-once replay of an applied epoch is skipped via the
    manifest epoch watermark — counts are not double-added — while a
    manual (no-epoch) update between epochs keeps the watermark."""
    from feast_spark.operators.sketches import HistogramTable

    ev = load_table(spark, SF_SMALL, "events").limit(200)
    ht = HistogramTable(str(tmp_path / "ht"), "value", [], 0.0, 100.0, 8)
    fn = ht.foreach_batch_writer(spark)
    fn(ev, 0)
    once = [r["bin_counts"] for r in ht.read(spark).collect()]
    fn(ev, 0)  # replay: skipped
    assert [r["bin_counts"] for r in ht.read(spark).collect()] == once
    ht.update(spark, ev)  # manual backfill keeps the epoch watermark
    fn(ev, 0)  # still skipped after the manual commit
    doubled = [r["bin_counts"] for r in ht.read(spark).collect()]
    assert doubled == [[2 * c for c in row] for row in once]


def test_interleaved_sketch_update_raises(spark, tmp_path, monkeypatch):
    """Two updates that fold over the same head: the one that commits
    second raises instead of publishing a fold without the other's
    slice (``n_rows`` is not replay-safe, so it is not retried)."""
    from feast_spark.io.epochs import ConcurrentCommitError
    from feast_spark.io.manifest import ManifestedParquetTable

    ev = _events(spark)
    table = SketchTable(str(tmp_path / "cas"), "user_id", ["day"])
    table.update(spark, ev.filter(F.col("day") < "2024-01-05"))
    orig = ManifestedParquetTable.commit

    def interleaved(self, *args, **kwargs):
        # the other writer's whole update lands between this fold's
        # head read and its commit
        monkeypatch.setattr(ManifestedParquetTable, "commit", orig)
        table.update(spark, ev.filter(F.col("day") >= "2024-01-10"))
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(ManifestedParquetTable, "commit", interleaved)
    with pytest.raises(ConcurrentCommitError):
        table.update(
            spark,
            ev.filter(
                (F.col("day") >= "2024-01-05") & (F.col("day") < "2024-01-10")
            ),
        )
    assert table._table.head()[1] == 2
    assert table.read(spark).agg(F.sum("n_rows")).collect()[0][0] == ev.filter(
        (F.col("day") < "2024-01-05") | (F.col("day") >= "2024-01-10")
    ).count()
