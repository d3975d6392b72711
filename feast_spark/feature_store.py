"""FeatureStore facade — the user-facing API surface.

Mirrors sdk/python/feast/feature_store.py: apply / get_historical_features /
materialize / materialize_incremental / get_online_features, with Spark
DataFrames replacing pandas in the execution path.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from feast_spark.data_source import DataSource
from feast_spark.entity import Entity
from feast_spark.errors import (
    EntityDFMissingColumnsError,
    FeatureNameCollisionError,
    FeatureViewNotFoundError,
)
from feast_spark.feature_view import (
    FeatureService,
    FeatureView,
    OnDemandFeatureView,
)
from feast_spark.inference import (
    infer_event_timestamp_column,
    update_entities_with_inferred_types,
    update_view_with_inferred_features,
)
from feast_spark.online.store import OnlineStore, encode_request_keys
from feast_spark.operators.asof_join import AsOfJoinSpec, as_of_join
from feast_spark.operators.dedup import latest_per_key, time_range_filter
from feast_spark.registry import Registry


@dataclass
class RepoConfig:
    project: str = "default"
    registry_path: str = "registry.json"
    online_store_path: str = "online_store"
    # "parquet" (versioned snapshots, any Hadoop scheme), "sqlite"
    # (online_store_path = db file, reference's local store), "redis"
    # (online_store_path = redis:// URL), "dynamodb"
    # (dynamodb://region[?endpoint=...]), or "datastore"
    # (project_id[/namespace]) — the reference's provider/online_store
    # registry (repo_config.py, infra/provider.py, infra/online_stores/)
    online_store_type: str = "parquet"
    # "union_window" (default), "range_join", "sorted_merge", or
    # "auto" (per-view dispatch: bucket-merge over shared bucket-id
    # columns, broadcast range join for small feature tables,
    # union_window otherwise — operators/asof_join.choose_strategy)
    asof_strategy: str = "union_window"


def _fs_for_path(path: str, spark: SparkSession):
    """Scheme dispatch replacing the reference's per-SDK RegistryStore
    classes (registry.py:503-611): plain paths use the pure-Python
    LocalFS; any URI scheme (s3a, gs, hdfs, abfss, file, ...) resolves
    through the cluster's Hadoop connectors."""
    from urllib.parse import urlparse

    from feast_spark.io.fs import HadoopFS, LocalFS

    if urlparse(path).scheme in ("", "c") or "://" not in path:
        # no scheme (or a Windows drive letter): local filesystem
        return LocalFS()
    return HadoopFS(spark)


def _make_online_store(config: RepoConfig, spark: SparkSession):
    """Backend dispatch (reference repo_config.py online-store registry)."""
    kind = config.online_store_type
    if kind == "parquet":
        return OnlineStore(
            config.online_store_path,
            fs=_fs_for_path(config.online_store_path, spark),
        )
    if kind == "sqlite":
        from feast_spark.online.kv import SqliteOnlineStore

        return SqliteOnlineStore(config.online_store_path)
    if kind == "redis":
        from feast_spark.online.kv import connect_redis

        return connect_redis(config.online_store_path)
    if kind == "dynamodb":
        from feast_spark.online.cloud import connect_dynamodb

        return connect_dynamodb(config.online_store_path)
    if kind == "datastore":
        from feast_spark.online.cloud import connect_datastore

        # online_store_path carries "project_id" or "project_id/namespace"
        project_id, _, namespace = config.online_store_path.partition("/")
        return connect_datastore(project_id, namespace or None)
    raise ValueError(
        f"unknown online_store_type {kind!r}; "
        "expected parquet|sqlite|redis|dynamodb|datastore"
    )


class RetrievalJob:
    """Lazy handle over a historical query (offline_store.py:27-38);
    Spark DataFrames are already lazy, so this is a thin adapter."""

    def __init__(self, df: DataFrame):
        self._df = df

    def to_spark_df(self) -> DataFrame:
        return self._df

    def to_df(self):
        """pandas sink (S7) — API edge only."""
        return self._df.toPandas()

    def to_arrow(self):
        return self._df.toArrow()

    def to_parquet(self, path: str, mode: str = "overwrite") -> None:
        self._df.write.mode(mode).parquet(path)

    def to_dataset(
        self, root: str, meta: dict | None = None,
        keep_versions: int | None = None, fs=None,
    ) -> int:
        """Commit the result as the next VERSIONED dataset snapshot at
        ``root`` (datasets.py — manifest-flip commit log, as_of reads,
        GC-exempt tags); returns the commit seq to record in a
        provenance snapshot.  Unlike :meth:`to_parquet`, a re-run
        cannot silently overwrite what a model trained on."""
        from feast_spark.datasets import commit_dataset

        return commit_dataset(
            self._df, root, fs=fs, keep_versions=keep_versions, meta=meta
        )

    def to_table(self, name: str, mode: str = "overwrite") -> None:
        self._df.write.mode(mode).saveAsTable(name)

    def to_temp_view(self, name: str) -> None:
        self._df.createOrReplaceTempView(name)


class FeatureStore:
    def __init__(self, spark: SparkSession, config: RepoConfig | None = None):
        self.spark = spark
        self.config = config or RepoConfig()
        self.registry = Registry(
            self.config.registry_path,
            fs=_fs_for_path(self.config.registry_path, spark),
        )
        self.online_store = _make_online_store(self.config, spark)

    # -- registry passthroughs (feature_store.py:82-175) ---------------
    @property
    def project(self) -> str:
        return self.config.project

    def version(self) -> str:
        import feast_spark

        return feast_spark.__version__

    def refresh_registry(self) -> None:
        """Re-read the registry object (feature_store.py:96-118) so a
        long-lived session sees other writers' commits."""
        self.registry.refresh()

    def list_entities(self) -> list[Entity]:
        return self.registry.list_entities()

    def list_feature_views(self) -> list[FeatureView]:
        return self.registry.list_feature_views()

    def get_entity(self, name: str) -> Entity:
        return self.registry.get_entity(name)

    def get_feature_view(self, name: str) -> FeatureView:
        return self.registry.get_feature_view(name)

    def delete_feature_view(self, name: str) -> None:
        """Remove the view from the registry AND drop its online table
        (feature_store.py:175-184 + provider teardown of that table)."""
        self.registry.delete_feature_view(name)
        self.registry.commit()
        self.online_store.teardown(self.config.project, [name])

    def teardown(self) -> None:
        """Tear down all project infrastructure (feature_store.py:
        259-274): online state for every view, then the registry
        content itself."""
        self.online_store.teardown(self.config.project)
        # services first: a view a service projects cannot be deleted
        self.registry.feature_services.clear()
        for v in list(self.registry.feature_views):
            self.registry.delete_feature_view(v)
        self.registry.entities.clear()
        self.registry.on_demand_views.clear()
        self.registry.commit()

    # -- stream ingestion (ST2) ----------------------------------------
    def start_stream_ingestion(
        self,
        view_name: str,
        checkpoint_dir: str | None = None,
        trigger_available_now: bool = False,
        raw_stream: DataFrame | None = None,
    ):
        """Launch stream-to-online materialization for a view's
        declared stream_source and return the StreamingQuery handle.

        The reference only documents this flow (docs/reference/
        feast-and-spark.md — ingestion jobs launched out-of-band); here
        it is one call: readStream from the view's KafkaSource (or
        ``raw_stream``, any DataFrame with the transport's payload
        column — lets tests and replay jobs feed file/rate sources
        through the same parse + upsert path), parse json/avro/proto,
        then per-batch latest-per-key dedup + newest-wins upsert into
        the configured online backend."""
        from feast_spark.streaming.ingest import (
            parse_kafka_stream,
            stream_to_online,
        )

        view = self.registry.get_feature_view(view_name)
        if view.stream_source is None and raw_stream is None:
            raise ValueError(f"view {view_name!r} declares no stream_source")
        if raw_stream is None:
            raw = view.stream_source.load_stream(self.spark)
        else:
            raw = raw_stream
        parsed = (
            parse_kafka_stream(raw, view.stream_source)
            if view.stream_source is not None
            else raw
        )
        join_keys = self._join_keys_for_view(view)
        src = view.stream_source or view.batch_source
        ts_col = src.event_timestamp_column or "event_timestamp"
        created = src.created_timestamp_column or None
        return stream_to_online(
            parsed,
            self.online_store,
            self.config.project,
            view,
            join_keys=join_keys,
            ts_col=ts_col,
            created_col=created,
            checkpoint_dir=checkpoint_dir,
            trigger_available_now=trigger_available_now,
        )

    # -- apply (M1) ----------------------------------------------------
    def apply(self, objects: list[Entity | FeatureView | FeatureService]) -> None:
        entities = [o for o in objects if isinstance(o, Entity)]
        views = [o for o in objects if isinstance(o, FeatureView)]
        services = [o for o in objects if isinstance(o, FeatureService)]
        on_demand = [o for o in objects if isinstance(o, OnDemandFeatureView)]
        # inference pass (repo_operations.py:140-147)
        for view in views:
            if view.batch_source is not None:
                src_df = view.batch_source.load(self.spark)
                view_entities = [
                    e for e in entities if e.name in view.entities
                ] or [
                    self.registry.get_entity(n)
                    for n in view.entities
                    if n in self.registry.entities
                ]
                update_entities_with_inferred_types(view_entities, src_df)
                join_keys = [e.join_key for e in view_entities] or list(view.entities)
                update_view_with_inferred_features(view, src_df, join_keys)
        for e in entities:
            self.registry.apply_entity(e)
        for v in views:
            self.registry.apply_feature_view(v)
        for s in services:
            self.registry.apply_feature_service(s)
        for ov in on_demand:
            self.registry.apply_on_demand_view(ov)
        self.registry.commit()

    # -- historical retrieval (the query path, §3.2) -------------------
    def _group_feature_refs(
        self, refs: list[str]
    ) -> list[tuple[FeatureView, list[str]]]:
        """Group 'view:feature' refs by view (feature_store.py:660-681)."""
        by_view: dict[str, list[str]] = {}
        for ref in refs:
            if ":" not in ref:
                raise ValueError(f"feature ref {ref!r} must be 'view:feature'")
            view_name, feat = ref.split(":", 1)
            by_view.setdefault(view_name, []).append(feat)
        out = []
        for view_name, feats in by_view.items():
            view = self.registry.get_feature_view(view_name)
            missing = set(feats) - set(view.feature_names)
            if missing:
                raise FeatureViewNotFoundError(
                    f"{view_name} has no features {sorted(missing)}"
                )
            out.append((view, feats))
        return out

    def _join_keys_for_view(self, view: FeatureView) -> list[str]:
        keys = []
        for entity_name in view.entities:
            if entity_name in self.registry.entities:
                keys.append(self.registry.get_entity(entity_name).join_key)
            else:
                keys.append(entity_name)  # entity name == join key shorthand
        return keys

    def _split_refs(
        self, features
    ) -> tuple[list[str], list[str], dict[str, list[str]]]:
        """Split requested refs into (explicit base refs, base refs incl.
        auto-fetched odfv sources, odfv name -> requested features)."""
        refs = (
            features.feature_refs
            if isinstance(features, FeatureService)
            else list(features)
        )
        odfv_feats: dict[str, list[str]] = {}
        base_refs: list[str] = []
        for ref in refs:
            head = ref.split(":", 1)[0]
            if head in self.registry.on_demand_views:
                odfv_feats.setdefault(head, []).append(ref.split(":", 1)[1])
            else:
                base_refs.append(ref)
        explicit_base = list(base_refs)
        seen = set(base_refs)
        for name in odfv_feats:
            ov = self.registry.get_on_demand_view(name)
            bad = set(odfv_feats[name]) - set(ov.feature_names)
            if bad:
                raise FeatureViewNotFoundError(
                    f"{name} has no features {sorted(bad)}"
                )
            for src_ref in ov.sources:
                if src_ref not in seen:
                    base_refs.append(src_ref)
                    seen.add(src_ref)
        return explicit_base, base_refs, odfv_feats

    def _validate_out_names(
        self, explicit_base, odfv_feats, full_feature_names: bool
    ) -> None:
        out_names: list[str] = []
        for ref in explicit_base:
            v, f = ref.split(":", 1)
            out_names.append(f"{v}__{f}" if full_feature_names else f)
        for name, feats in odfv_feats.items():
            for f in feats:
                out_names.append(f"{name}__{f}" if full_feature_names else f)
        dupes = sorted({n for n in out_names if out_names.count(n) > 1})
        if dupes:
            raise FeatureNameCollisionError(dupes)

    def _apply_odfvs(
        self,
        result: DataFrame,
        entity_cols: list[str],
        explicit_base: list[str],
        odfv_feats: dict[str, list[str]],
        full_feature_names: bool,
    ) -> DataFrame:
        """Run the on-demand transforms over a joined frame and project
        to the caller-visible columns (shared by batch retrieval and
        streaming enrichment)."""
        if not odfv_feats:
            return result
        for name in odfv_feats:
            ov = self.registry.get_on_demand_view(name)
            if full_feature_names:
                # transforms read plain source names; alias the
                # prefixed columns back (append-only, no overwrite)
                for src_ref in ov.sources:
                    v, f = src_ref.split(":", 1)
                    pref = f"{v}__{f}"
                    if pref in result.columns and f not in result.columns:
                        result = result.withColumn(f, F.col(pref))
            result = ov.apply_transform(result)
        sel = [F.col(c) for c in entity_cols]
        for ref in explicit_base:
            v, f = ref.split(":", 1)
            out = f"{v}__{f}" if full_feature_names else f
            sel.append(F.col(out))
        for name, feats in odfv_feats.items():
            for f in feats:
                out = f"{name}__{f}" if full_feature_names else f
                sel.append(F.col(f).alias(out))
        return result.select(*sel)

    def _asof_specs(
        self,
        grouped: list[tuple[FeatureView, list[str]]],
        full_feature_names: bool,
        ts_bounds: tuple | None = None,
    ) -> list[AsOfJoinSpec]:
        """One as-of spec per view, over a fresh load of its batch
        source (shared by batch retrieval and streaming enrichment).
        ``ts_bounds`` = (min, max) entity timestamp bounds each feature
        scan to [min - ttl, max] (A4, the reference's BQ rewrite,
        bigquery.py:418-437 + template :599-602): the injected filter
        reaches the parquet scan as row-group min/max skipping."""
        specs = []
        for view, feats in grouped:
            src = view.batch_source
            if src is None:
                raise ValueError(f"view {view.name!r} has no batch source")
            fdf = src.load(self.spark)
            ts_col = infer_event_timestamp_column(fdf, src.event_timestamp_column)
            if ts_bounds is not None:
                lo, hi = ts_bounds
                fdf = fdf.filter(F.col(ts_col) <= F.lit(hi))
                if view.ttl is not None:
                    fdf = fdf.filter(
                        F.col(ts_col) >= F.lit(lo) - F.expr(
                            f"INTERVAL {view.ttl.total_seconds()} SECONDS"
                        )
                    )
            specs.append(
                AsOfJoinSpec(
                    feature_df=fdf,
                    join_keys=self._join_keys_for_view(view),
                    timestamp_col=ts_col,
                    features=feats,
                    created_col=src.created_timestamp_column or None,
                    ttl=view.ttl,
                    prefix=view.name if full_feature_names else None,
                )
            )
        return specs

    def enrich_stream(
        self,
        stream_df,
        features,
        sink,
        entity_ts_col: str = "event_timestamp",
        full_feature_names: bool = False,
        checkpoint_dir: str | None = None,
        trigger_available_now: bool = True,
    ):
        """Streaming twin of :meth:`get_historical_features`: as-of join
        each micro-batch of entity events against the SAME feature
        views the batch path resolves, with identical PIT semantics
        (stream≡batch identity — streaming/enrich.py).  Batch sources
        re-resolve per micro-batch, so newly materialized feature data
        is visible at the next trigger.  ``sink`` is a table name or a
        ``(batch_df, batch_id)`` callable; returns the StreamingQuery.

        Scan pruning (A4) does not apply — a stream has no global
        timestamp bounds; each micro-batch pays the batch operator's
        plan under ``config.asof_strategy``.  On-demand feature views
        are applied per micro-batch exactly like the batch path."""
        from feast_spark.streaming.enrich import enrich_stream as _enrich

        explicit_base, base_refs, odfv_feats = self._split_refs(features)
        self._validate_out_names(explicit_base, odfv_feats, full_feature_names)
        entity_cols = list(stream_df.columns)

        def specs() -> list[AsOfJoinSpec]:
            return self._asof_specs(
                self._group_feature_refs(base_refs), full_feature_names
            )

        def _post(result):
            return self._apply_odfvs(
                result, entity_cols, explicit_base, odfv_feats,
                full_feature_names,
            )

        return _enrich(
            stream_df,
            entity_ts_col,
            specs,
            sink=sink,
            strategy=self.config.asof_strategy,
            checkpoint_dir=checkpoint_dir,
            trigger_available_now=trigger_available_now,
            transform=_post if odfv_feats else None,
        )

    def get_historical_features(
        self,
        entity_df,
        features: list[str] | FeatureService,
        full_feature_names: bool = False,
    ) -> RetrievalJob:
        """Point-in-time retrieval (feature_store.py:276-341).

        ``entity_df``: Spark DataFrame, pandas DataFrame, or SQL string
        (S6 — the reference uploads it to a temp table; here a temp view
        / createDataFrame).
        """
        if isinstance(entity_df, str):
            entity_sdf = self.spark.sql(entity_df)
        elif isinstance(entity_df, DataFrame):
            entity_sdf = entity_df
        else:  # pandas
            entity_sdf = self.spark.createDataFrame(entity_df)

        entity_ts_col = infer_event_timestamp_column(entity_sdf)

        # split on-demand refs from base refs; auto-fetch odfv sources
        explicit_base, base_refs, odfv_feats = self._split_refs(features)

        grouped = self._group_feature_refs(base_refs)

        # A4 — entity timestamp bounds for temporal scan pruning (one
        # tiny agg job; the bounds reach every feature scan)
        row = entity_sdf.agg(
            F.min(entity_ts_col).alias("lo"), F.max(entity_ts_col).alias("hi")
        ).first()
        ts_bounds = (
            (row["lo"], row["hi"])
            if row is not None and row["lo"] is not None
            else None
        )

        # collision validation (feature_store.py:636-657) — over the
        # names the caller actually receives (explicit + on-demand)
        self._validate_out_names(explicit_base, odfv_feats, full_feature_names)

        for view, _ in grouped:
            join_keys = self._join_keys_for_view(view)
            missing = [k for k in join_keys if k not in entity_sdf.columns]
            if missing:
                raise EntityDFMissingColumnsError(
                    expected=join_keys + [entity_ts_col], missing=missing
                )
        specs = self._asof_specs(grouped, full_feature_names, ts_bounds)
        result = as_of_join(
            entity_sdf, entity_ts_col, specs, strategy=self.config.asof_strategy
        )

        if odfv_feats:
            entity_cols = [
                c for c in result.columns if c in set(entity_sdf.columns)
            ]
            result = self._apply_odfvs(
                result, entity_cols, explicit_base, odfv_feats,
                full_feature_names,
            )
        return RetrievalJob(result)

    def validate_source(self, view_name: str, expectations):
        """Run a single-pass expectation suite over a view's batch
        source (operators/expectations.py) — the pre-materialize data
        quality gate.  Returns the ValidationReport; one Spark job
        regardless of suite size."""
        from feast_spark.operators.expectations import validate

        view = self.registry.get_feature_view(view_name)
        src = view.batch_source
        if src is None:
            raise ValueError(f"view {view_name!r} has no batch source")
        return validate(src.load(self.spark), expectations)

    def quarantine_source(self, view_name: str, rules):
        """Row-level twin of :meth:`validate_source`: split a view's
        batch source into (good, bad) by the row rules
        (operators/expectations.quarantine) — the dead-letter pattern;
        the bad side carries a per-row ``violations`` array.  Both
        frames derive from one tagging plan; persist or write the
        annotated frame first if materializing both sides."""
        from feast_spark.operators.expectations import quarantine

        view = self.registry.get_feature_view(view_name)
        src = view.batch_source
        if src is None:
            raise ValueError(f"view {view_name!r} has no batch source")
        return quarantine(src.load(self.spark), rules)

    def time_series_splits(
        self,
        view_name: str,
        n_folds: int,
        gap_seconds: int = 0,
        start=None,
        end=None,
    ):
        """Expanding-window walk-forward CV folds over a view's batch
        source (functions/split.time_series_splits), keyed on the
        view's event-timestamp column — the leakage-safe backtest
        split for models trained on this view's features: train always
        precedes test, later folds see strictly more history, and no
        test row is within ``gap_seconds`` of any train row (purge
        gap).  Returns ``n_folds`` lazy (train, test) frame pairs;
        each materialization is one pruned scan of the source."""
        from feast_spark.functions.split import time_series_splits

        view = self.registry.get_feature_view(view_name)
        src = view.batch_source
        if src is None:
            raise ValueError(f"view {view_name!r} has no batch source")
        fdf = src.load(self.spark)
        ts_col = infer_event_timestamp_column(
            fdf, src.event_timestamp_column
        )
        return time_series_splits(
            fdf, ts_col, n_folds, gap_seconds=gap_seconds,
            start=start, end=end,
        )

    # -- materialization (§2.2) ----------------------------------------
    def _pull_window(
        self, view: FeatureView, start: datetime, end: datetime
    ) -> tuple[DataFrame, list[str], str, str | None]:
        """The view's source rows with event time in [start, end), and
        the (join keys, ts column, created column) that order them."""
        src = view.batch_source
        if src is None:
            raise ValueError(f"view {view.name!r} has no batch source")
        fdf = src.load(self.spark)
        ts_col = infer_event_timestamp_column(fdf, src.event_timestamp_column)
        join_keys = self._join_keys_for_view(view)
        created = src.created_timestamp_column or None
        window = time_range_filter(fdf, ts_col, start, end)
        return window, join_keys, ts_col, created

    def materialize(
        self,
        start: datetime,
        end: datetime,
        feature_views: list[str] | None = None,
    ) -> None:
        """Upsert each view's source rows with event time in the
        half-open [start, end) into the online store (S8), then record
        the interval (M2).  The backend's ``online_write_batch`` keeps
        the newest (event_ts, created_ts) row per key (A1) over the
        window and what it already holds, so the window is handed over
        unreduced."""
        views = (
            [self.registry.get_feature_view(n) for n in feature_views]
            if feature_views
            else [v for v in self.registry.list_feature_views() if v.online]
        )
        for view in views:
            window, join_keys, ts_col, created = self._pull_window(
                view, start, end
            )
            self.online_store.online_write_batch(
                self.spark,
                self.config.project,
                view.name,
                window,
                join_keys,
                ts_col,
                created,
                view.feature_names,
            )
            self.registry.apply_materialization(view.name, start, end)
        self.registry.commit()

    def materialize_incremental(
        self, end: datetime, feature_views: list[str] | None = None
    ) -> None:
        """Resume from most_recent_end_time, else now - ttl (else epoch)
        (feature_store.py:343-423)."""
        views = (
            [self.registry.get_feature_view(n) for n in feature_views]
            if feature_views
            else [v for v in self.registry.list_feature_views() if v.online]
        )
        for view in views:
            start = view.most_recent_end_time
            if start is None:
                start = (
                    end - view.ttl if view.ttl is not None else datetime(1970, 1, 1)
                )
            self.materialize(start, end, [view.name])

    def export_online_wire(
        self,
        view_name: str,
        start: datetime,
        end: datetime,
        path: str | None = None,
        key_version: int = 2,
    ) -> DataFrame:
        """Materialization window in the reference's *wire* online-store
        shape: ``(entity_key binary, feature_name, value binary,
        event_ts[, created_ts])`` with feast.types.Value payloads and
        the binary entity-key layout (provider.py:263-312 +
        key_encoding_utils.py:22-48; docs/specs/online_store_format.md).

        This is the hand-off point to a reference-compatible serving
        stack (Redis/Datastore/DynamoDB writers consume exactly these
        rows).  The [start, end) window of :meth:`materialize`, reduced
        to the newest row per key (A1); the explode to wire rows is an
        Arrow-batched per-row map with no extra shuffle.  ``path``
        writes parquet and returns the frame either way.
        ``key_version=1`` is bit-compatible with the reference (int64
        keys limited to int32 range — its struct quirk); 2 widens to 8
        bytes.
        """
        from feast_spark.functions.value_proto import to_online_format

        view = self.registry.get_feature_view(view_name)
        window, join_keys, ts_col, created = self._pull_window(
            view, start, end
        )
        latest = latest_per_key(
            window, join_keys, ts_col, created_col=created
        )
        wire = to_online_format(
            latest,
            join_keys,
            view.feature_names,
            ts_col=ts_col,
            created_col=created,
            key_version=key_version,
        )
        if path is not None:
            wire.write.mode("overwrite").parquet(path)
        return wire

    def expire_online_features(
        self, now: datetime | None = None, views: list[str] | None = None
    ) -> dict[str, int]:
        """TTL sweep across feature views: for every view with a ttl,
        drop online rows whose event_ts fell out of the serving window
        (event_ts < now - ttl).  Reads already ignore such rows (they
        surface as OUTSIDE_MAX_AGE / misses); this reclaims the
        storage.  Backends without a sweep primitive (redis relies on
        key TTLs; cloud KVs on native TTL attributes) are skipped.
        Returns {view_name: rows_expired}."""
        now = now or datetime.utcnow()
        out: dict[str, int] = {}
        expire = getattr(self.online_store, "expire", None)
        if expire is None:
            return out
        for view in self.registry.list_feature_views():
            if view.ttl is None:
                continue
            if views is not None and view.name not in views:
                continue
            out[view.name] = expire(
                self.spark, self.config.project, view.name, now - view.ttl
            )
        return out

    def export_registry_proto(self, path: str | None = None) -> bytes:
        """The registry as reference-compatible ``feast.core.Registry``
        protobuf bytes (Registry.proto; the reference's ``feast
        registry-dump`` / Go SDK consume this format).  Writes to
        ``path`` when given; returns the bytes either way."""
        from feast_spark.functions.registry_proto import registry_to_proto_bytes

        payload = registry_to_proto_bytes(
            self.registry, project=self.config.project
        )
        if path is not None:
            with open(path, "wb") as f:
                f.write(payload)
        return payload

    # -- online serving ------------------------------------------------
    def get_online_features(
        self,
        features: list[str] | FeatureService,
        entity_rows: list[dict],
        full_field_statuses: bool = False,
        now: datetime | None = None,
        as_of: datetime | int | str | dict | None = None,
    ) -> dict:
        """Multiget with per-feature field statuses
        (feature_store.py:504-617, ServingService FieldStatus).

        Served from the driver: each request row's join keys are
        encoded once in Python (``online/store.encode_request_keys``)
        and each view's backend answers ``online_read`` with one row
        per key; the request never becomes a DataFrame, and no Spark
        code runs unless a Spark-mode on-demand view is requested (a
        ``FeatureStore(None, config)`` serves a materialized store).
        An empty ``entity_rows`` returns ``[]`` for every feature and
        status.

        Default statuses are PRESENT/NOT_FOUND — exactly what the
        reference's Python serving path emits
        (feature_store.py:588-615).  ``full_field_statuses=True``
        completes the proto contract
        (ServingService.proto:96-115, which the reference defines but
        its Python path never emits): found-but-NULL values report
        NULL_VALUE instead of NOT_FOUND, and a found value whose event
        timestamp is older than ``now - view.ttl`` reports
        OUTSIDE_MAX_AGE with the stale value withheld (served as
        None — stale features must not silently feed a model).  ``now``
        is naive-UTC like every stored timestamp; default wall clock.

        ``as_of`` (naive-UTC datetime) time-travels the read: every
        view resolves the online snapshot that was CURRENT at that
        instant (the parquet store's manifest commit log —
        io/manifest.py ``path_as_of``), answering "what did serving
        return yesterday 14:00" exactly, including ttl statuses, which
        classify against ``as_of`` (a value fresh then is PRESENT even
        if stale now; an explicit ``now=`` still takes precedence over
        ``as_of`` for the cutoff — the caller asked for that clock).  Requires the snapshot-retaining parquet store
        (``keep_versions`` bounds the window); KV backends overwrite in
        place and raise.

        ``as_of`` may also be an **int commit seq** — the deterministic
        coordinate a provenance manifest records.  A seq addresses each
        view's OWN commit log (seq N of two views are unrelated
        commits), so it is the single-view / provenance-replay form;
        use a datetime for a cross-view-consistent instant.  A seq
        names a snapshot, not an instant, so ttl statuses under
        ``full_field_statuses`` require an explicit ``now=`` clock.

        ``as_of`` may also be a **tag name** (str) — a snapshot pinned
        with ``online_store.table(project, view).tag`` (io/manifest.py
        tags, GC-exempt until deleted), or a **per-view pin map**
        ``{view_name: seq_or_tag}`` — what :meth:`describe_run` returns
        as ``run.online_as_of`` (provenance.py): each view replays its
        OWN recorded commit, with seq 0 meaning "before the first
        materialization" (NOT_FOUND rows, exactly what serving returned
        then).  A requested view missing from the map raises — the
        provenance record did not cover it, and silently serving head
        would fake reproducibility.  Tags and seqs name snapshots, not
        instants, so both forms share the explicit-``now`` requirement.
        """
        if as_of is not None and not getattr(
            self.online_store, "supports_time_travel", False
        ):
            raise ValueError(
                "as_of requires the snapshot-retaining parquet online "
                f"store; {type(self.online_store).__name__} overwrites "
                "values in place and keeps no history"
            )
        if (
            isinstance(as_of, (int, str, dict))
            and full_field_statuses
            and now is None
        ):
            raise ValueError(
                "as_of=<commit seq> names a snapshot, not an instant: "
                "pass now= to pin the ttl-status classification clock "
                "(or pass as_of as a datetime)"
            )
        if isinstance(as_of, datetime) and as_of.tzinfo is not None:
            # normalize once: snapshot resolution accepts aware
            # datetimes, but the ttl cutoff compares against the
            # store's NAIVE-UTC event timestamps — an aware cutoff
            # would TypeError mid-classification
            as_of = as_of.astimezone(timezone.utc).replace(tzinfo=None)
        explicit_base, base_refs, odfv_feats = self._split_refs(features)
        self._validate_out_names(explicit_base, odfv_feats, False)
        grouped = self._group_feature_refs(base_refs)
        result: dict[str, list] = {
            c: [r[c] for r in entity_rows]
            for c in (entity_rows[0] if entity_rows else ())
        }
        statuses: dict[str, list[str]] = {}
        encoded: dict[tuple[str, ...], list[str]] = {}
        for view, feats in grouped:
            join_keys = tuple(sorted(self._join_keys_for_view(view)))
            if join_keys not in encoded:
                encoded[join_keys] = encode_request_keys(
                    entity_rows, list(join_keys)
                )
            if isinstance(as_of, dict):
                if view.name not in as_of:
                    raise ValueError(
                        f"as_of pin map has no entry for view "
                        f"{view.name!r} — the provenance record does "
                        "not cover it, and silently serving head would "
                        "fake reproducibility"
                    )
                kw = {"as_of": as_of[view.name]}
            else:
                kw = {} if as_of is None else {"as_of": as_of}
            # one dict per request row, None on a miss
            ordered = self.online_store.online_read(
                self.config.project, view.name, encoded[join_keys], feats, **kw
            )
            if full_field_statuses:
                cutoff = None
                if view.ttl is not None:
                    # a time-travel read classifies freshness against
                    # the instant it replays, not today's wall clock
                    # (an int seq is not an instant — the guard above
                    # already forced an explicit now= for that form)
                    ref_now = (
                        now
                        or (as_of if isinstance(as_of, datetime) else None)
                        or datetime.now(timezone.utc).replace(tzinfo=None)
                    )
                    cutoff = ref_now - view.ttl

                def classify(r, f):
                    if r is None:
                        return None, "NOT_FOUND"
                    if cutoff is not None and r["__event_ts"] < cutoff:
                        return None, "OUTSIDE_MAX_AGE"
                    if r[f] is None:
                        return None, "NULL_VALUE"
                    return r[f], "PRESENT"

                for f in feats:
                    pairs = [classify(r, f) for r in ordered]
                    result[f] = [v for v, _ in pairs]
                    statuses[f] = [s for _, s in pairs]
            else:
                for f in feats:
                    result[f] = [None if r is None else r[f] for r in ordered]
                    statuses[f] = [
                        "NOT_FOUND" if r is None or r[f] is None else "PRESENT"
                        for r in ordered
                    ]
        # on-demand transforms over the assembled response (the serving
        # half of OnDemandFeatureView; batch sizes here are request-
        # sized, so the transform runs driver-side on pandas)
        if odfv_feats:
            import pandas as pd

            pdf = pd.DataFrame({k: v for k, v in result.items()})
            for name, feats in odfv_feats.items():
                ov = self.registry.get_on_demand_view(name)
                if not entity_rows:  # an empty frame has no schema to infer
                    for f in feats:
                        result[f], statuses[f] = [], []
                    continue
                if ov.mode == "pandas":
                    new = ov.transform(pdf)
                else:
                    sdf = ov.apply_transform(self.spark.createDataFrame(pdf))
                    new = sdf.toPandas()
                for f in feats:
                    vals = [
                        None if pd.isna(v) else v for v in new[f].tolist()
                    ]
                    result[f] = vals
                    statuses[f] = [
                        "PRESENT" if v is not None else "NOT_FOUND"
                        for v in vals
                    ]
        # the caller sees what it asked for: auto-fetched on-demand
        # sources are dropped, as in batch retrieval
        wanted = {
            *(entity_rows[0] if entity_rows else ()),
            *(ref.split(":", 1)[1] for ref in explicit_base),
            *(f for feats in odfv_feats.values() for f in feats),
        }
        result = {k: v for k, v in result.items() if k in wanted}
        result["__statuses"] = {
            k: v for k, v in statuses.items() if k in wanted
        }
        return result

    # -- training-run provenance ----------------------------------------
    def snapshot_provenance(
        self,
        index_paths: dict[str, str] | None = None,
        note: str | None = None,
        path: str | None = None,
        pin_tag: str | None = None,
        embed_registry: bool = True,
        dataset_paths: dict[str, str] | None = None,
        fs=None,
    ) -> dict:
        """Record the committed head coordinate of every layer —
        registry seq (payload embedded by default, so the archive
        window cannot expire the pin), per-view online snapshot seq,
        per-index manifest commit_seq + tags for the named
        ``index_paths`` — as one JSON (provenance.py).  ``pin_tag``
        additionally tags every recorded index commit and online
        snapshot, making the run vacuum-immune until the tags are
        deleted.  Stamp this at training time; pass the file to
        :meth:`describe_run` later to re-pin all layers exactly.
        Control-plane cheap: a few JSON reads, no Spark job."""
        from feast_spark.provenance import snapshot_provenance

        return snapshot_provenance(
            self, index_paths=index_paths, note=note, path=path,
            pin_tag=pin_tag, embed_registry=embed_registry,
            dataset_paths=dataset_paths,
            # index/dataset roots on a remote scheme (s3a://, gs://)
            # need the matching StoreFS — default LocalFS reads only
            # plain paths
            index_fs=fs,
        )

    def describe_run(self, path: str) -> "RunReplay":
        """Load a provenance record and return the re-pinned
        :class:`~feast_spark.provenance.RunReplay`: ``run.registry``
        (the archived definitions), ``run.online_as_of`` (pass to
        :meth:`get_online_features` ``as_of=``), ``run.index_as_of``
        (pass to any index read verb's ``as_of=``)."""
        from feast_spark.provenance import RunReplay, load_provenance

        return RunReplay(
            load_provenance(path, fs=self.registry.fs),
            registry_fs=self.registry.fs,
        )
