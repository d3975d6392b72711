"""Time-series subsequence similarity search over keyed event
streams — "find the k windows most similar to this pattern" (the
distributed variant of the streaming-subsequence problem; cf. the
EDBT'19 line of work on time-series similarity search in distributed
systems, re-expressed as DataFrame ops).

Pipeline: per-key sliding windows (a bounded ROWS frame collect —
state is O(window_len) per row, never a per-key series materialize) →
optional z-normalization (amplitude/offset invariance, the standard
preprocessing) → Euclidean distance to the broadcast query pattern (a
codegen ``zip_with``/``aggregate`` fold) → distributed top-k
(``orderBy().limit(k)`` = per-partition heaps + k-row merge).

Scale: ONE shuffle (the per-key window sort); everything after is
narrow. The window collect is a ROWS BETWEEN frame, so a key with a
billion events never materializes more than ``window_len`` values per
output row. Skewed keys are the window sort's problem, not a join's —
AQE splits oversized partitions.

Determinism: window order is (ts, tiebreak_col) — fully ordered, so
windows and distances reproduce across engines; ties in distance break
on (key, window ts).  Reference has no counterpart; SURVEY §7 phase 5.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "sliding_windows",
    "znorm",
    "ts_topk_similar",
    "ts_topk_similar_batch",
    "decayed_agg",
    "rebase_decayed",
    "DecayedFeatureTable",
]


def sliding_windows(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_len: int,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-key forward-looking sliding windows: one row per position
    with ``values`` = the next ``window_len`` values in time order
    (positions with fewer than ``window_len`` remaining are dropped, so
    every window is full-length).  Output: key, ts (window start),
    values."""
    if window_len <= 0:
        raise ValueError(f"window_len must be positive, got {window_len}")
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order)
        .rowsBetween(Window.currentRow, window_len - 1)
    )
    return (
        df.withColumn("values", F.collect_list(F.col(value_col)).over(w))
        .filter(F.size("values") == window_len)
        .select(F.col(key_col), F.col(ts_col), "values")
    )


def znorm(arr: Column, length: int) -> Column:
    """Z-normalize a fixed-length double array: (x - mean) / std
    (population std); constant windows (std = 0) normalize to all
    zeros.  Sequential folds, so DuckDB reproduces values
    bit-for-bit."""
    total = F.aggregate(
        arr, F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    mean = total / F.lit(float(length))
    var = (
        F.aggregate(
            arr,
            F.lit(0.0),
            lambda acc, x: acc
            + (x.cast("double") - mean) * (x.cast("double") - mean),
        )
        / F.lit(float(length))
    )
    std = F.sqrt(var)
    return F.when(std == 0.0, F.transform(arr, lambda x: F.lit(0.0))).otherwise(
        F.transform(arr, lambda x: (x.cast("double") - mean) / std)
    )


def ts_topk_similar(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    query: list[float],
    k: int = 10,
    znormalize: bool = True,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """The k keyed windows most similar to ``query`` (squared Euclidean
    distance, optionally over z-normalized windows and query).
    Output: key, ts (window start), dist — ascending, ties broken by
    (key, ts)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    n = len(query)
    if n == 0:
        raise ValueError("query pattern must be non-empty")
    if znormalize:
        qm = sum(query) / n
        qv = sum((x - qm) ** 2 for x in query) / n
        qs = qv ** 0.5
        qn = [0.0] * n if qs == 0 else [(x - qm) / qs for x in query]
    else:
        qn = [float(x) for x in query]
    qcol = F.array(*[F.lit(x) for x in qn])
    wins = sliding_windows(
        df, key_col, ts_col, value_col, n, tiebreak_col=tiebreak_col
    )
    vals = znorm(F.col("values"), n) if znormalize else F.transform(
        F.col("values"), lambda x: x.cast("double")
    )
    dist = F.aggregate(
        F.zip_with(vals, qcol, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        wins.withColumn("dist", dist)
        .orderBy(F.col("dist").asc(), F.col(key_col).asc(), F.col(ts_col).asc())
        .limit(k)
    )


def ts_topk_similar_batch(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    queries: DataFrame,
    window_len: int,
    query_id_col: str = "query_id",
    pattern_col: str = "pattern",
    k: int = 10,
    znormalize: bool = True,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Per-query top-k subsequence matches for a DataFrame of query
    patterns — the retrieval-workload shape of :func:`ts_topk_similar`,
    mirroring ``similarity.cosine_topk``: the (small) query set is
    BROADCAST against the corpus windows; the series side streams
    through once.

    ``queries`` holds (``query_id_col``, ``pattern_col``:
    array<double>); every pattern must have exactly ``window_len``
    elements — the sliding-window frame is fixed before any data is
    seen, so a mismatched pattern is rejected inside the plan
    (``raise_error`` at first evaluation, no driver-side collect of the
    query table).  Output: (query_id, key, ts, dist, rank), rank 1..k
    per query, ties broken by (key, ts).

    Plan shape (pinned by ``test_plans``): windows shuffle ONCE on the
    key (same as the single-query path); the query join is a broadcast
    nested loop over O(windows x queries) rows that never shuffles; the
    only added exchange is the per-query rank window's hash exchange on
    query_id — identical to ``cosine_topk``'s, and it moves only
    (key, ts, dist) triples, never the window arrays (pruned before the
    exchange)."""
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if window_len <= 0:
        raise ValueError(f"window_len must be positive, got {window_len}")
    checked = F.when(
        F.size(F.col(pattern_col)) != window_len,
        F.raise_error(
            F.concat(
                F.lit(
                    f"ts_topk_similar_batch: pattern length must equal "
                    f"window_len={window_len}, got "
                ),
                F.size(F.col(pattern_col)).cast("string"),
                F.lit(" for query "),
                F.col(query_id_col).cast("string"),
            )
        ).cast("array<double>"),
    ).otherwise(F.transform(F.col(pattern_col), lambda x: x.cast("double")))
    qvec = znorm(checked, window_len) if znormalize else checked
    q = queries.select(
        F.col(query_id_col).alias("query_id"), qvec.alias("__qvec")
    )
    wins = sliding_windows(
        df, key_col, ts_col, value_col, window_len, tiebreak_col=tiebreak_col
    )
    vals = (
        znorm(F.col("values"), window_len)
        if znormalize
        else F.transform(F.col("values"), lambda x: x.cast("double"))
    )
    dist = F.aggregate(
        F.zip_with(vals, F.col("__qvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    pairs = wins.crossJoin(F.broadcast(q)).select(
        "query_id", F.col(key_col), F.col(ts_col), dist.alias("dist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col(key_col).asc(), F.col(ts_col).asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# -- Exponentially time-decayed aggregates ------------------------------

def decayed_agg(
    df: DataFrame,
    keys: list[str],
    ts_col: str,
    val_col: str,
    half_life,
    at_time,
    out_prefix: str = "decayed",
) -> DataFrame:
    """Per-key exponentially time-decayed aggregates evaluated at
    ``at_time`` — the standard recency-weighted feature family
    (fraud/abuse velocity scores, engagement decay) the plain windowed
    SUM/COUNT family cannot express:

    * ``{prefix}_sum``   = sum(val * 0.5^(age / half_life))
    * ``{prefix}_count`` = sum(      0.5^(age / half_life))

    where ``age = at_time - ts``.  Rows with ``ts > at_time`` are
    excluded — the same no-future-leakage stance as the PIT join.

    Scale: ONE groupBy aggregate; the weight is a codegen'd column
    expression, so this is partial-aggregated map-side like any SUM —
    shuffle O(keys), raw events never cross the wire.  Unlike a
    "last N days" window count, there is no cliff at the window edge
    and no need to re-scan history on every evaluation day:

    **Mergeability/streaming**: with ``at_time`` fixed, partial sums
    from any slicing of the data add up (tested), so decayed state
    folds across batches, late partitions, and micro-batches exactly
    like the sketch rollups.  To move the evaluation point forward
    WITHOUT rescanning, multiply stored aggregates by
    ``0.5^((t' - t)/half_life)`` (:func:`rebase_decayed`) — the
    constant-time online update that makes this a materializable
    feature at 100 TB: one scan ever, then O(keys) work per refresh.

    ``half_life``: ``datetime.timedelta``; ``at_time``: timestamp-like
    (python datetime or ISO string)."""
    hl_s = half_life.total_seconds()
    at = F.lit(at_time).cast("timestamp")
    # unix_micros works for both TIMESTAMP and (via cast) TIMESTAMP_NTZ
    age_s = (
        F.unix_micros(at) - F.unix_micros(F.col(ts_col).cast("timestamp"))
    ) / F.lit(1e6)
    w = F.pow(F.lit(0.5), age_s / F.lit(hl_s))
    return (
        df.filter(F.col(ts_col) <= at)
        .groupBy(*keys)
        .agg(
            F.sum(w * F.col(val_col)).alias(f"{out_prefix}_sum"),
            F.sum(w).alias(f"{out_prefix}_count"),
        )
    )


def rebase_decayed(
    df: DataFrame,
    cols: list[str],
    from_time,
    to_time,
    half_life,
) -> DataFrame:
    """Advance stored decayed aggregates from evaluation point
    ``from_time`` to ``to_time`` without touching the raw events:
    every decayed column is scaled by ``0.5^(delta / half_life)``
    (exactly the factor each term's weight changes by — the update is
    EXACT, not an approximation).  Narrow, zero shuffle, O(keys)."""
    from datetime import datetime

    def _ts(t):
        return datetime.fromisoformat(t) if isinstance(t, str) else t

    delta_s = (_ts(to_time) - _ts(from_time)).total_seconds()
    factor = F.lit(0.5 ** (delta_s / half_life.total_seconds()))
    out = df
    for c in cols:
        out = out.withColumn(c, F.col(c) * factor)
    return out


class DecayedFeatureTable:
    """Incrementally-maintained decayed feature state — the
    materialized / streaming form of :func:`decayed_agg`.

    State is one row per key: ``(keys..., decayed_sum, decayed_count,
    as_of)``, committed under the manifest-flip protocol
    (``io.manifest``).  Each ``update`` folds an event slice in:
    existing state is rebased forward to the new evaluation point
    (:func:`rebase_decayed` — exact, O(keys)), the slice is aggregated
    at the same point (one map-side-combined groupBy), and the two add
    per key.  Because every step is exact, ANY batching of the same
    events — one backfill, daily increments, micro-batches via
    :meth:`foreach_batch_writer`, late slices in any order — yields the
    same state up to float association (tested).  The 100 TB posture:
    each event is scanned once, ever; refreshing the feature to a new
    evaluation time is O(keys) with no history rescan.

    ``features(spark, at_time)`` serves the state rebased to a later
    evaluation point; asking for a time before ``as_of`` raises (the
    state has already absorbed events up to ``as_of``, so rewinding
    would need the raw history — use a fresh table over the prefix)."""

    def __init__(
        self,
        root: str,
        keys: list[str],
        ts_col: str,
        val_col: str,
        half_life,
        fs=None,
        # None defers to the window persisted in the table's manifest
        # (io/manifest.py), so a default-configured re-commit or
        # vacuum honors the original committer's retention
        keep_versions: int | None = None,
    ):
        from feast_spark.io.manifest import ManifestedParquetTable

        self.keys = list(keys)
        self.ts_col = ts_col
        self.val_col = val_col
        self.half_life = half_life
        self.root = root
        self._table = ManifestedParquetTable(
            root, fs=fs, keep_versions=keep_versions
        )

    def read(self, spark) -> DataFrame | None:
        return self._table.read(spark)

    def _state_as_of(self, state):
        return state.agg(F.max("as_of")).collect()[0][0]

    def update(
        self, spark, events: DataFrame, at_time=None, _epoch_id=None
    ) -> None:
        """Fold an event slice into the state.  ``at_time`` defaults to
        the slice's max timestamp; the new evaluation point is
        ``max(state.as_of, at_time)`` so out-of-order / late slices
        never move the clock backwards.  An explicit ``at_time``
        EARLIER than some of the slice's events is rejected — those
        events would be silently excluded by the no-future-leakage
        filter and never re-presented, breaking the scanned-once
        contract.  The commit is a compare-and-swap on the head the
        fold read: a concurrent update makes it raise
        ``ConcurrentCommitError`` (decayed sums and the epoch meta are
        not replay-safe, so it is not retried here)."""
        from datetime import datetime

        slice_max = events.agg(F.max(self.ts_col)).collect()[0][0]
        if slice_max is None:
            return  # empty slice: nothing to fold
        if at_time is None:
            at_time = slice_max
        elif isinstance(at_time, str):
            at_time = datetime.fromisoformat(at_time)
        if at_time < slice_max:
            raise ValueError(
                f"at_time {at_time} precedes the slice's max event "
                f"timestamp {slice_max}: the newer events would be "
                "dropped permanently. Pass at_time >= the slice max "
                "(or None to use it)."
            )
        path, seq = self._table.head()
        state = None if path is None else spark.read.parquet(path)
        if state is not None:
            state_at = self._state_as_of(state)
            new_at = max(state_at, at_time)
            state = rebase_decayed(
                state.select(*self.keys, "decayed_sum", "decayed_count"),
                ["decayed_sum", "decayed_count"],
                state_at, new_at, self.half_life,
            )
        else:
            new_at = at_time
        inc = decayed_agg(
            events, self.keys, self.ts_col, self.val_col,
            self.half_life, new_at,
        )
        merged = (
            inc
            if state is None
            else state.unionByName(inc)
            .groupBy(*self.keys)
            .agg(
                F.sum("decayed_sum").alias("decayed_sum"),
                F.sum("decayed_count").alias("decayed_count"),
            )
        )
        meta = {"epoch": _epoch_id} if _epoch_id is not None else None
        self._table.commit(
            merged.withColumn("as_of", F.lit(new_at).cast("timestamp")),
            meta=meta,
            base_seq=seq,
        )

    def features(self, spark, at_time=None) -> DataFrame:
        """Per-key decayed features, optionally rebased forward to
        ``at_time`` (exact, no history rescan)."""
        state = self.read(spark)
        if state is None:
            raise ValueError(f"decayed table at {self.root} has no data yet")
        if at_time is None:
            return state
        state_at = self._state_as_of(state)
        from datetime import datetime

        at = (
            datetime.fromisoformat(at_time)
            if isinstance(at_time, str)
            else at_time
        )
        if at < state_at:
            raise ValueError(
                f"at_time {at} precedes state as_of {state_at}: decayed "
                "state cannot be rewound (it has already absorbed events "
                "up to as_of)"
            )
        return rebase_decayed(
            state.select(*self.keys, "decayed_sum", "decayed_count"),
            ["decayed_sum", "decayed_count"],
            state_at, at, self.half_life,
        ).withColumn("as_of", F.lit(at).cast("timestamp"))

    def foreach_batch_writer(self, spark):
        """``writeStream.foreachBatch`` sink: micro-batches fold into
        the same state a batch backfill of the same rows would build.

        foreachBatch is at-least-once: after a crash between our
        commit and the query's checkpoint, the SAME epoch is
        re-delivered on restart.  Decayed sums are not idempotent
        under re-folding, so the last applied epoch is recorded in the
        commit's manifest metadata and replayed epochs are skipped —
        making the sink effectively exactly-once (the manifest flip
        and the epoch record are one atomic write)."""

        def fn(batch_df: DataFrame, epoch_id: int) -> None:
            if batch_df.isEmpty():
                return
            last = self._table.current_meta().get("epoch")
            if last is not None and epoch_id <= last:
                return  # at-least-once replay of an applied epoch
            self.update(spark, batch_df, _epoch_id=epoch_id)

        return fn
