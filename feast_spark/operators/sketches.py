"""Mergeable distinct-count sketch rollups (DataSketches HLL).

The 100 TB pattern for "how many distinct users did X over range Y":
scan the raw events ONCE and materialize one tiny row per grain —
``(day,)``, ``(day, event_type)``, ... — holding an Apache DataSketches
HLL sketch of the key column (Spark's built-in ``hll_sketch_agg``
family; JVM-side, partial-aggregated map-side like any SUM).  Every
later question — distinct over an arbitrary date range, per dimension
subset, whole history — is answered by unioning the relevant sketch
rows: kilobytes of sketch I/O instead of a fresh multi-TB scan, and no
giant COUNT(DISTINCT) shuffle of the raw keys ever again.

Sketch unions are associative and order-insensitive, which buys the
three properties exact pre-aggregation cannot offer together:

* **rollup**    — daily sketches union to weekly/monthly/any-range;
* **late data** — a backfilled partition merges in with one more union
  (exact pre-aggregated distinct counts are NOT mergeable: you cannot
  add yesterday's 1.2M distinct and today's 1.1M distinct);
* **streaming** — micro-batch sketches fold into the same table
  (see :meth:`SketchTable.foreach_batch_writer`).

Size/accuracy: at ``lgk=12`` a dense sketch is ~2-4 KB with a relative
standard error of about 1.04/sqrt(2^12) ~ 1.6%; one year of daily
sketches for 100 dimensions is ~150 MB — driver-broadcastable.  Union
of sketches is estimate-identical to a sketch built over the unioned
raw data (same lgK), so incremental maintenance loses nothing vs a
full rebuild — pinned by tests/test_sketches.py.

Persistence uses the same object-store-safe manifest-flip commit as
the online store (``io.fs.write_bytes_atomic``): a crashed writer
leaves an orphan snapshot dir that is never pointed to, readers always
see a complete table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from feast_spark.io.fs import StoreFS
from feast_spark.io.manifest import ManifestedParquetTable

DEFAULT_LGK = 12


def build_distinct_sketches(
    df: DataFrame,
    key_col: str,
    grain_cols: list[str],
    lgk: int = DEFAULT_LGK,
    sketch_col: str = "key_sketch",
    count_col: str = "n_rows",
) -> DataFrame:
    """One HLL sketch row per grain: ``groupBy(grains).agg(hll_sketch_agg)``.

    A single shuffle whose payload is O(groups x sketch_size), with the
    heavy lifting (hashing keys into registers) done map-side in the
    partial aggregate — the raw keys never cross the wire.  ``n_rows``
    rides along for free (total vs distinct gives a repeat-rate for
    nothing)."""
    return df.groupBy(*grain_cols).agg(
        F.hll_sketch_agg(key_col, lgk).alias(sketch_col),
        F.count(F.lit(1)).alias(count_col),
    )


def estimate_distinct(
    sketch_df: DataFrame,
    group_cols: list[str] | None = None,
    sketch_col: str = "key_sketch",
    out_col: str = "n_distinct",
) -> DataFrame:
    """Union sketch rows (optionally re-grouped to a coarser grain) and
    estimate.  ``group_cols=None`` collapses everything to one global
    row.  Filter the input first for range queries::

        estimate_distinct(sk.filter(F.col("day").between(a, b)))

    — partition pruning on the sketch table makes this touch only the
    selected rows; the union agg itself is a few KB per group."""
    agg = F.hll_sketch_estimate(F.hll_union_agg(sketch_col)).alias(out_col)
    if group_cols:
        return sketch_df.groupBy(*group_cols).agg(agg)
    return sketch_df.agg(agg)


def merge_sketch_tables(
    existing: DataFrame,
    incoming: DataFrame,
    grain_cols: list[str],
    sketch_col: str = "key_sketch",
    count_col: str = "n_rows",
) -> DataFrame:
    """Fold a new sketch table into an existing one grain-by-grain —
    the late-data / incremental-maintenance / stream-fold primitive.
    Grains present on only one side pass through; grains on both sides
    union their sketches and add their row counts.  One shuffle of
    O(groups) sketch rows, never the raw data."""
    return (
        existing.select(*grain_cols, sketch_col, count_col)
        .unionByName(incoming.select(*grain_cols, sketch_col, count_col))
        .groupBy(*grain_cols)
        .agg(
            F.hll_union_agg(sketch_col).alias(sketch_col),
            F.sum(count_col).alias(count_col),
        )
    )


class SketchTable:
    """A materialized, incrementally-maintained distinct-count sketch
    table over one key column at a fixed grain.

    ``update(spark, events)`` sketches the incoming slice and merges it
    into the stored table under a manifest-flip commit;
    ``estimate(spark, ...)`` answers distinct-count questions from the
    sketches alone.  The same ``update`` serves batch backfill, late
    partitions, and — via :meth:`foreach_batch_writer` — a Structured
    Streaming sink, because sketch union makes all three the same
    operation."""

    def __init__(
        self,
        root: str,
        key_col: str,
        grain_cols: list[str],
        lgk: int = DEFAULT_LGK,
        fs: StoreFS | None = None,
        # None defers to the window persisted in the table's manifest
        # (io/manifest.py), so a default-configured re-commit or
        # vacuum honors the original committer's retention
        keep_versions: int | None = None,
    ):
        self.root = root
        self.key_col = key_col
        self.grain_cols = list(grain_cols)
        self.lgk = lgk
        # manifest-flip commit, same protocol as online.store
        self._table = ManifestedParquetTable(
            root, fs=fs, keep_versions=keep_versions
        )

    def read(self, spark: SparkSession) -> DataFrame | None:
        return self._table.read(spark)

    def update(
        self, spark: SparkSession, events: DataFrame, _epoch_id=None
    ) -> None:
        """Sketch the incoming event slice and fold it into the table.
        Cost is one scan of the slice (never of history) plus a
        O(groups)-row merge; crash-safe via the manifest flip.  The
        commit is a compare-and-swap on the head the fold read: a
        concurrent update makes it raise ``ConcurrentCommitError``
        (``n_rows`` and the epoch meta are not replay-safe, so it is
        not retried here)."""
        incoming = build_distinct_sketches(
            events, self.key_col, self.grain_cols, lgk=self.lgk
        )
        path, seq = self._table.head()
        merged = (
            incoming
            if path is None
            else merge_sketch_tables(
                spark.read.parquet(path), incoming, self.grain_cols
            )
        )
        meta = {"epoch": _epoch_id} if _epoch_id is not None else None
        self._table.commit(merged, meta=meta, base_seq=seq)

    def estimate(
        self,
        spark: SparkSession,
        group_cols: list[str] | None = None,
        where=None,
    ) -> DataFrame:
        """Distinct-count estimates from the stored sketches; ``where``
        is an optional Column predicate over the grain columns (range
        queries prune to the matching sketch rows)."""
        df = self.read(spark)
        if df is None:
            raise ValueError(f"sketch table at {self.root} has no data yet")
        if where is not None:
            df = df.filter(where)
        return estimate_distinct(df, group_cols=group_cols)

    def foreach_batch_writer(self, spark: SparkSession):
        """``writeStream.foreachBatch`` sink: each micro-batch's keys
        are sketched and folded in — the streaming twin of ``update``
        with identical results to batch-processing the same rows,
        because sketch union is order- and batching-insensitive.

        foreachBatch is at-least-once; the HLL union itself is
        idempotent under replay, but ``n_rows`` is not, so the last
        applied epoch rides in the commit's manifest metadata and
        replayed epochs are skipped (exactly-once: the epoch record
        and the manifest flip are one atomic write)."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():
                return
            last = self._table.current_meta().get("epoch")
            if last is not None and epoch_id <= last:
                return  # at-least-once replay of an applied epoch
            self.update(spark, batch_df, _epoch_id=epoch_id)

        return fn


# -- Mergeable value histograms (quantile / distribution rollups) -------
#
# The same materialize-once-answer-forever pattern as the HLL rollup,
# for VALUE DISTRIBUTIONS: one exact fixed-bin histogram row per grain
# (counts are plain longs, so the rollup is exact and the merge is
# elementwise addition — no sketch error at all), quantiles estimated
# by linear interpolation inside the hit bin.  Exact percentiles over
# an arbitrary range need a full re-sort of the raw values at query
# time; histogram rollups answer from O(groups x bins) longs, and the
# bounded error is the bin width.  (Druid/Pinot rollup segments, the
# OLAP-standard trade.)


def build_histogram_sketches(
    df: DataFrame,
    val_col: str,
    grain_cols: list[str],
    lo: float,
    hi: float,
    n_bins: int = 64,
    counts_col: str = "bin_counts",
) -> DataFrame:
    """One exact histogram row per grain: ``bin_counts`` is a dense
    ``n_bins + 2``-long array — index 0 is the underflow bin
    (val < lo), index ``n_bins + 1`` the overflow bin (val >= hi),
    NULL values are not counted.

    Two shuffles, both tiny after map-side combine: (grain, bucket)
    counts — at most ``groups x (n_bins + 2)`` rows regardless of raw
    volume — then a per-grain densify into the array.  The raw values
    never cross the wire."""
    bucket = F.when(
        F.col(val_col).isNull(), F.lit(None)
    ).otherwise(
        F.width_bucket(F.col(val_col), F.lit(lo), F.lit(hi), F.lit(n_bins))
    )
    per_bucket = (
        df.select(*grain_cols, bucket.alias("__bucket"))
        .filter(F.col("__bucket").isNotNull())
        .groupBy(*grain_cols, "__bucket")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    dense = F.transform(
        F.sequence(F.lit(0), F.lit(n_bins + 1)),
        lambda i: F.coalesce(F.try_element_at("__m", i.cast("int")), F.lit(0)),
    )
    return (
        per_bucket.groupBy(*grain_cols)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct(F.col("__bucket").cast("int"), "__c"))
            ).alias("__m")
        )
        .select(*grain_cols, dense.alias(counts_col))
    )


def merge_histogram_tables(
    existing: DataFrame,
    incoming: DataFrame,
    grain_cols: list[str],
    counts_col: str = "bin_counts",
) -> DataFrame:
    """Elementwise-add histograms grain-by-grain — EXACT (longs, no
    sketch error), so late data, backfills, and stream folds compose
    losslessly.  Bins are posexploded and re-summed: the shuffle is
    O(groups x bins) longs, independent of raw volume."""
    both = existing.select(*grain_cols, counts_col).unionByName(
        incoming.select(*grain_cols, counts_col)
    )
    return (
        both.select(
            *grain_cols, F.posexplode(counts_col).alias("__bin", "__c")
        )
        .groupBy(*grain_cols, "__bin")
        .agg(F.sum("__c").alias("__c"))
        .groupBy(*grain_cols)
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("__bin", "__c"))
            ).alias("__m")
        )
        .select(
            *grain_cols,
            F.transform(
                F.sequence(F.lit(0), F.size("__m") - 1),
                lambda i: F.coalesce(
                    F.try_element_at("__m", i.cast("int")), F.lit(0)
                ),
            ).alias(counts_col),
        )
    )


def estimate_quantiles(
    hist_df: DataFrame,
    quantiles: list[float],
    lo: float,
    hi: float,
    group_cols: list[str] | None = None,
    counts_col: str = "bin_counts",
) -> DataFrame:
    """Quantile estimates from histogram rows (optionally re-rolled to
    a coarser grain first — histograms merge exactly, so a monthly
    quantile from daily rows costs one tiny aggregation).  Linear
    interpolation inside the hit bin; under/overflow bins clamp to
    ``lo`` / ``hi``.  Output: one row per group with ``q_<q>`` columns.

    Everything is array expressions + one explode over O(groups x
    bins) rows — the raw data is never touched.  Quantiles must lie in
    (0, 1]."""
    # re-roll to the requested grain: elementwise sum via explode
    rolled = (
        hist_df.select(
            *(group_cols or []),
            F.posexplode(counts_col).alias("__bin", "__c"),
        )
        .groupBy(*(group_cols or []), "__bin")
        .agg(F.sum("__c").alias("__c"))
    )
    w = Window.partitionBy(*(group_cols or [F.lit(1)])).orderBy("__bin")
    cum = rolled.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__total", F.sum("__c").over(Window.partitionBy(*(group_cols or [F.lit(1)])))
    ).withColumn("__nb", F.count(F.lit(1)).over(
        Window.partitionBy(*(group_cols or [F.lit(1)]))
    ) - 2)
    width = (F.lit(hi) - F.lit(lo)) / F.col("__nb")
    exprs = []
    for q in quantiles:
        target = F.lit(q) * F.col("__total")
        # first bin whose cumulative count reaches the target
        hit = (F.col("__cum") >= target) & (
            F.col("__cum") - F.col("__c") < target
        )
        # position inside the bin: (target - cum_before) / bin_count
        frac = (target - (F.col("__cum") - F.col("__c"))) / F.col("__c")
        est = F.when(
            F.col("__bin") == 0, F.lit(float(lo))  # underflow clamps
        ).when(
            F.col("__bin") == F.col("__nb") + 1, F.lit(float(hi))
        ).otherwise(
            F.lit(lo) + ((F.col("__bin") - 1) + frac) * width
        )
        exprs.append(
            F.max(F.when(hit, est)).alias(f"q_{str(q).replace('.', '_')}")
        )
    return cum.groupBy(*(group_cols or [])).agg(*exprs)


class HistogramTable:
    """A materialized, incrementally-maintained histogram table over
    one value column at a fixed grain — the distribution twin of
    :class:`SketchTable`, and the persistence layer drift monitoring
    rides on (``operators/drift.py``).

    The binning (val_col, lo, hi, n_bins) is FROZEN into the manifest
    meta on first commit and validated on every later update — merging
    histograms with different binnings would silently corrupt counts
    (the frozen-params contract of ``operators/minhash_index.py``).

    ``update(spark, events)`` histograms the incoming slice (one scan,
    map-side reduced to O(groups x bins) longs) and element-adds it
    into the stored table under a manifest-flip commit; late data,
    backfill, and the :meth:`foreach_batch_writer` streaming sink are
    all the same exact merge.  ``quantiles`` answers from the stored
    rows; ``drift_against`` compares a snapshot (raw frame, same
    binning applied) against the stored REFERENCE distribution — the
    daily drift check therefore reads KBs, never events history."""

    def __init__(
        self,
        root: str,
        val_col: str,
        grain_cols: list[str],
        lo: float,
        hi: float,
        n_bins: int = 64,
        fs: StoreFS | None = None,
        # None defers to the window persisted in the table's manifest
        # (io/manifest.py), so a default-configured re-commit or
        # vacuum honors the original committer's retention
        keep_versions: int | None = None,
    ):
        self.root = root
        self.val_col = val_col
        self.grain_cols = list(grain_cols)
        self.lo = float(lo)
        self.hi = float(hi)
        self.n_bins = int(n_bins)
        self._table = ManifestedParquetTable(
            root, fs=fs, keep_versions=keep_versions
        )

    def _binning(self) -> dict:
        return {
            "val_col": self.val_col,
            "grain_cols": self.grain_cols,
            "lo": self.lo,
            "hi": self.hi,
            "n_bins": self.n_bins,
        }

    def _check_binning(self) -> None:
        stored = self._table.current_meta().get("binning")
        if stored is not None and stored != self._binning():
            raise ValueError(
                f"histogram table at {self.root} was built with binning "
                f"{stored}, got {self._binning()} — rebinning requires a "
                "rebuild, not an update"
            )

    def read(self, spark: SparkSession) -> DataFrame | None:
        return self._table.read(spark)

    def update(
        self, spark: SparkSession, events: DataFrame, _epoch_id=None
    ) -> None:
        """Histogram the incoming slice and element-add it into the
        table.  Cost: one scan of the slice (never of history) plus an
        O(groups x bins) merge; crash-safe via the manifest flip, and a
        compare-and-swap on the head the fold read, as
        :meth:`SketchTable.update`."""
        self._check_binning()
        incoming = build_histogram_sketches(
            events, self.val_col, self.grain_cols, self.lo, self.hi,
            self.n_bins,
        )
        path, seq = self._table.head()
        merged = (
            incoming
            if path is None
            else merge_histogram_tables(
                spark.read.parquet(path), incoming, self.grain_cols
            )
        )
        meta: dict = {"binning": self._binning()}
        if _epoch_id is not None:
            meta["epoch"] = _epoch_id
        self._table.commit(merged, meta=meta, base_seq=seq)

    def quantiles(
        self,
        spark: SparkSession,
        qs: list[float],
        group_cols: list[str] | None = None,
        where=None,
    ) -> DataFrame:
        df = self.read(spark)
        if df is None:
            raise ValueError(f"histogram table at {self.root} has no data yet")
        if where is not None:
            df = df.filter(where)
        return estimate_quantiles(
            df, qs, self.lo, self.hi, group_cols=group_cols
        )

    def drift_against(
        self,
        spark: SparkSession,
        current: DataFrame,
        eps: float = 1e-6,
        round_digits: int | None = 6,
    ) -> DataFrame:
        """PSI/JS/TVD/KS of ``current`` (a raw frame, histogrammed here
        under the table's frozen binning) against the STORED reference
        distribution, per grain.  The stored side is read as sketch
        rows; only the current slice is scanned."""
        from feast_spark.operators.drift import histogram_drift

        ref = self.read(spark)
        if ref is None:
            raise ValueError(f"histogram table at {self.root} has no data yet")
        cur = build_histogram_sketches(
            current, self.val_col, self.grain_cols, self.lo, self.hi,
            self.n_bins,
        )
        return histogram_drift(
            ref, cur, self.grain_cols, eps=eps, round_digits=round_digits
        )

    def foreach_batch_writer(self, spark: SparkSession):
        """``writeStream.foreachBatch`` sink — the streaming twin of
        ``update`` with batch-identical results (histogram merge is
        order- and batching-insensitive).  Replayed epochs are skipped
        via the manifest epoch watermark, exactly as
        :meth:`SketchTable.foreach_batch_writer`."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():
                return
            last = self._table.current_meta().get("epoch")
            if last is not None and epoch_id <= last:
                return  # at-least-once replay of an applied epoch
            self.update(spark, batch_df, _epoch_id=epoch_id)

        return fn
