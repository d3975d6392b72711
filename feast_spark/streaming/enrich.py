"""Streaming point-in-time enrichment: the as-of join as a stream.

The reference serves features to event streams by point lookups
against the online store (get_online_features,
sdk/python/feast/feature_store.py:504-617, one RPC per event batch);
its offline PIT join exists only as a batch job.  This module is the
missing twin: a Structured Streaming query that as-of-joins each
micro-batch of entity events against feature state, with EXACTLY the
batch retrieval semantics (candidates in ``[t-ttl, t]``, max
event_ts wins, ties broken by max created_ts) — so a feature computed
for a streamed event equals the feature a later batch retraining run
computes for the same (key, timestamp).  That stream≡batch identity
is the training/serving-skew guarantee, pinned by
tests/test_streaming_enrich.py.

Design (Spark-first):

* ``foreachBatch`` + the batch :func:`as_of_join` operator — the
  micro-batch boundary is where Structured Streaming hands us a plain
  DataFrame, so the EXACT batch operator runs, not a reimplementation.
  Stream-stream interval joins cannot express "latest row at or
  before t per key" (no per-key argmax across an unbounded past), and
  a stream-static join would re-plan the window per row; per-batch
  as-of join is both simpler and exactly right.
* Feature state re-resolves PER BATCH when ``specs`` is a callable:
  pass ``lambda: [...]`` building the spec from ``spark.table(...)``
  or an online-store snapshot so newly materialized feature versions
  are picked up at the next micro-batch (a captured static DataFrame
  pins the file listing of the plan it was built from).
* Watermark = max ttl across specs: events later than the largest
  lookback window can still be enriched (the join itself is
  stateless), but downstream stateful sinks get a bound; pass
  ``watermark=False`` to skip.

Scale: each micro-batch pays exactly the batch operator's cost —
union_window's single Exchange per join-key set (a view that
``skew.with_bucket_id`` bucketed together with the stream, over the
view's keys, runs the bucket cogroup instead).  The feature side is
NOT re-shuffled between batches.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join

__all__ = ["enrich_stream", "online_snapshot_spec"]


def enrich_stream(
    stream_df: DataFrame,
    entity_ts_col: str,
    specs: list[AsOfJoinSpec] | Callable[[], list[AsOfJoinSpec]],
    sink: str | Callable[[DataFrame, int], None],
    checkpoint_dir: str | None = None,
    trigger_available_now: bool = True,
    watermark: bool = True,
    transform: Callable[[DataFrame], DataFrame] | None = None,
):
    """Start the streaming enrichment query; returns the
    StreamingQuery handle (call ``.awaitTermination()``).

    ``sink`` is either a table name (micro-batch output appends to it)
    or a ``(batch_out_df, batch_id)`` callable.  ``transform`` runs on
    each enriched micro-batch before the sink (the on-demand-feature
    hook of the FeatureStore facade).
    """
    static_specs = specs if not callable(specs) else None
    if watermark:
        probe = static_specs if static_specs is not None else specs()
        ttls = [s.ttl for s in probe if s.ttl is not None]
        if ttls:
            stream_df = stream_df.withWatermark(
                entity_ts_col, f"{int(max(ttls).total_seconds())} seconds"
            )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch_specs = static_specs if static_specs is not None else specs()
        out = as_of_join(batch_df, entity_ts_col, batch_specs)
        if transform is not None:
            out = transform(out)
        if callable(sink):
            sink(out, batch_id)
        else:
            out.write.mode("append").saveAsTable(sink)

    writer = (
        stream_df.writeStream.foreachBatch(process_batch).outputMode("append")
    )
    if checkpoint_dir:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def online_snapshot_spec(
    spark,
    store,
    project: str,
    view_name: str,
    join_keys: list[str],
    feature_cols: list[str],
    ttl=None,
    prefix: str | None = None,
) -> list[AsOfJoinSpec]:
    """Spec factory over the CURRENT online-store snapshot — the
    streaming analog of serving reads.  The snapshot holds the latest
    (event_ts, created_ts) row per key plus the raw join-key columns
    (online/store.py:project_incoming), so the as-of join degenerates
    to: match iff the latest materialized value predates the event and
    is within ttl — exactly ``get_online_features``'s freshness
    contract, evaluated at event time instead of wall-clock.

    Use with ``enrich_stream(..., specs=lambda:
    online_snapshot_spec(...))`` so each micro-batch re-reads the
    manifest and picks up concurrent materializations."""
    path = store.table(project, view_name).current_path()
    if path is None:
        raise ValueError(
            f"online store has no snapshot for {project}/{view_name}"
        )
    snap = spark.read.parquet(path).select(
        *join_keys,
        F.col("__event_ts"),
        *[F.col(f) for f in feature_cols],
    )
    return [
        AsOfJoinSpec(
            feature_df=snap,
            join_keys=list(join_keys),
            timestamp_col="__event_ts",
            features=list(feature_cols),
            ttl=ttl,
            prefix=prefix,
        )
    ]
