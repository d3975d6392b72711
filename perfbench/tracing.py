"""Spans around the layer entry points of ``feast_spark``, from outside.

:class:`Tracer` replaces each traced function at the binding its caller
uses (``feature_store.as_of_join`` is imported by name, so that module
attribute is the one patched) with a wrapper that records a span:
name, start, end, parent span and operation id, kept in memory and
written out at the end.  Nothing is patched unless ``install`` runs, so
untraced runs execute the program exactly as shipped.

Lazy operators (``as_of_join``, ``latest_per_key``) only build a plan:
their spans measure plan time, and the execution lands in the span of
the action that runs it.
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import time
from collections import defaultdict

import pyarrow.parquet as pq

MANIFEST = "_MANIFEST.json"
STRATEGIES = ("union_window", "range_join", "sorted_merge")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _current_snapshot(table_dir: str) -> str | None:
    try:
        with open(os.path.join(table_dir, MANIFEST)) as f:
            return os.path.join(table_dir, json.load(f)["current"])
    except FileNotFoundError:
        return None


def _snapshot_rows(path: str) -> int:
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._memo_objs: dict[int, object] = {}
        self.op: int | None = None
        self.op_groups: list[str] = []
        self.gauges: dict[str, list[float]] = defaultdict(list)

    # -- spans ---------------------------------------------------------
    def _open(self, name: str) -> int:
        self.spans.append(
            {
                "name": name,
                "start": time.perf_counter(),
                "end": None,
                "parent": self._stack[-1] if self._stack else None,
                "op": self.op,
            }
        )
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    def begin_op(self, op: int) -> int:
        """Root span of one benchmark operation; its Spark jobs are
        tagged with a job group so they can be counted afterwards."""
        self.op = op
        group = f"perfbench-op-{op}"
        self.spark.sparkContext.setJobGroup(group, group)
        self.op_groups.append(group)
        return self._open("bench.op")

    def end_op(self, idx: int) -> None:
        self._close(idx)
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        self.op = None

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        orig = vars(owner)[attr] if isinstance(owner, type) else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = tracer._open(name)
            try:
                result = orig(*args, **kwargs)
            finally:
                tracer._close(idx)
            if after is not None:
                after(args, kwargs, result)
            return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    # -- the traced layers --------------------------------------------
    def install(self) -> None:
        from feast_spark import data_source, feature_store, registry
        from feast_spark.io import localframe, manifest
        from feast_spark.online import store
        from feast_spark.operators import asof_join

        fs = feature_store.FeatureStore
        for meth in ("get_historical_features", "get_online_features", "materialize"):
            self.wrap(fs, meth, f"feature_store.{meth}")
        self.wrap(feature_store, "as_of_join", "asof_join.as_of_join")
        for s in STRATEGIES:
            self.wrap(asof_join, f"_asof_{s}", f"asof_join.strategy.{s}")
        self.wrap(feature_store, "latest_per_key", "dedup.latest_per_key")
        self.wrap(store, "latest_per_key", "dedup.latest_per_key")
        self.wrap(
            store.OnlineStore, "online_write_batch",
            "online_store.online_write_batch", after=self._after_write,
        )
        self.wrap(store.OnlineStore, "online_read", "online_store.online_read")
        self.wrap(
            manifest.ManifestedParquetTable, "commit", "manifest.commit",
            after=self._after_commit,
        )
        self.wrap(
            manifest.ManifestedParquetTable, "current_path", "manifest.current_path"
        )
        self.wrap(
            store, "read_parquet_memo", "pread.read_parquet_memo",
            after=self._after_memo,
        )
        # online_read imports ensure_local at call time, from the module
        self.wrap(localframe, "ensure_local", "localframe.ensure_local")
        self.wrap(registry.Registry, "commit", "registry.commit")
        self.wrap(data_source.FileSource, "load", "data_source.load")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def _after_write(self, args, kwargs, _result) -> None:
        online, _spark, project, view = args[:4]
        snap = _current_snapshot(os.path.join(online.root, project, view))
        if snap is not None:
            self.gauges["online_store.rows_after_commit"].append(_snapshot_rows(snap))

    def _after_commit(self, args, _kwargs, _result) -> None:
        root = args[0].root
        snap = _current_snapshot(root)
        if snap is not None:
            written = _dir_bytes(snap) + os.path.getsize(os.path.join(root, MANIFEST))
            self.gauges["manifest.bytes_written"].append(written)

    def _after_memo(self, _args, _kwargs, result) -> None:
        hit = id(result) in self._memo_objs
        # keep the object alive so its id cannot be reused by another
        self._memo_objs[id(result)] = result
        self.gauges["pread.memo_hit"].append(1.0 if hit else 0.0)

    # -- reduction -----------------------------------------------------
    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's."""
        children: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(i, ())):
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(s["end"] - s["start"] - covered)
        return out

    def spark_counts(self) -> tuple[list[int], list[int], list[int]]:
        """Jobs, stages that ran tasks, and tasks, per operation, from the
        public StatusTracker (read after the listener bus has drained)."""
        time.sleep(1.0)
        tracker = self.spark.sparkContext.statusTracker()
        jobs, stages, tasks = [], [], []
        for group in self.op_groups:
            ids = tracker.getJobIdsForGroup(group)
            n_stages = n_tasks = 0
            for jid in ids:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks > 0:
                        n_stages += 1
                        n_tasks += st.numCompletedTasks
            jobs.append(len(ids))
            stages.append(n_stages)
            tasks.append(n_tasks)
        return jobs, stages, tasks

    def layer_metrics(self, keys_found_ratio: float) -> dict[str, tuple[float, str]]:
        """The per-layer metrics: ``*_s`` are medians per call (0 when the
        layer never ran), ``*.count``/``*.calls``/``*_per_op`` are means
        per benchmark operation."""
        dur: dict[str, list[float]] = defaultdict(list)
        self_t: dict[str, list[float]] = defaultdict(list)
        for s, st in zip(self.spans, self.self_times()):
            dur[s["name"]].append(s["end"] - s["start"])
            self_t[s["name"]].append(st)
        n_ops = max(1, len(self.op_groups))

        def med(xs):
            return statistics.median(xs) if xs else 0.0

        jobs, stages, tasks = self.spark_counts()
        m = {
            "feature_store.get_historical_features.call_s": (
                med(dur["feature_store.get_historical_features"]), "s"),
            "feature_store.get_online_features.self_s": (
                med(self_t["feature_store.get_online_features"]), "s"),
            "feature_store.materialize.call_s": (
                med(dur["feature_store.materialize"]), "s"),
            "asof_join.plan_s": (med(dur["asof_join.as_of_join"]), "s"),
        }
        for s in STRATEGIES:
            m[f"asof_join.strategy.{s}.count"] = (
                len(dur[f"asof_join.strategy.{s}"]) / n_ops, "count")
        memo = self.gauges["pread.memo_hit"]
        m.update({
            "dedup.latest_per_key.plan_s": (med(dur["dedup.latest_per_key"]), "s"),
            "online_store.online_write_batch_s": (
                med(dur["online_store.online_write_batch"]), "s"),
            "online_store.rows_after_commit": (
                med(self.gauges["online_store.rows_after_commit"]), "count"),
            "online_store.online_read_s": (med(dur["online_store.online_read"]), "s"),
            "online_store.keys_found_ratio": (keys_found_ratio, "ratio"),
            "manifest.commit_s": (med(dur["manifest.commit"]), "s"),
            "manifest.bytes_written": (med(self.gauges["manifest.bytes_written"]), "B"),
            "manifest.current_path.calls": (
                len(dur["manifest.current_path"]) / n_ops, "count"),
            "pread.read_parquet_memo.calls": (
                len(dur["pread.read_parquet_memo"]) / n_ops, "count"),
            "pread.memo_hit_ratio": (sum(memo) / len(memo) if memo else 0.0, "ratio"),
            "localframe.ensure_local_s": (med(dur["localframe.ensure_local"]), "s"),
            "registry.commit_s": (med(dur["registry.commit"]), "s"),
            "data_source.load_s": (med(dur["data_source.load"]), "s"),
            "spark.jobs_per_op": (sum(jobs) / n_ops, "count"),
            "spark.stages_per_op": (sum(stages) / n_ops, "count"),
            "spark.tasks_per_op": (sum(tasks) / n_ops, "count"),
        })
        return m

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [dict(s, self=st) for s, st in zip(self.spans, selfs)], f
            )
