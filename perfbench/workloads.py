"""The three workloads, each a closed loop of one client over the public
``FeatureStore`` API.

A workload's constructor does its untimed set-up (``apply``, warm-up
operations); ``step`` then runs one timed operation and returns it as
an :class:`Op`.  The oracle check of each step runs after its clock
stops.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import datagen
from datagen import FEATURE_REFS, HIST_DAYS, T0
from oracle import AsOfOracle, OnlineOracle, frames_equal

ENTITY_ROWS = 50_000
# untimed operations before the clock starts: the JVM is still compiling
# the hot paths during the first few
WARMUP_OPS = 2
# online batch sizes 1 / 10 / 100 with weights 6 / 3 / 1, as a fixed
# cycle led by the large batch: runs that serve a similar number of
# requests then serve a similar number of keys
BATCH_CYCLE = (100, 1, 10, 1, 1, 10, 1, 1, 10, 1)
UNKNOWN_KEY_SHARE = 0.10
REQUESTS_PER_COMMIT = 3
# keys held and keys drawn from the whole id range, checked after a backfill
FINAL_CHECK_KEYS = 500


@dataclass
class Op:
    kind: str  # "call", "commit" or "request"
    seconds: float
    items: int  # entity rows, source rows or keys
    ok: bool
    source_bytes: int = 0
    written_bytes: int = 0
    found: int = 0  # keys found, summed over views (requests only)
    looked_up: int = 0
    view: str = ""  # the view a commit wrote


def _day(d: int) -> pd.Timestamp:
    return T0 + pd.Timedelta(days=d)


def _objects(views: dict[str, datagen.ViewData]):
    from feast_spark import Entity, FeatureView, FileSource, ValueType

    objs = [Entity(name="user", join_key="user_id", value_type=ValueType.INT64)]
    for name, v in views.items():
        objs.append(
            FeatureView(
                name=name,
                entities=["user"],
                ttl=pd.Timedelta(days=v.spec.ttl_days).to_pytimedelta(),
                batch_source=FileSource(
                    path=v.source_dir,
                    event_timestamp_column="ts",
                    created_timestamp_column="created" if v.spec.created else "",
                ),
            )
        )
    return objs


def new_store(spark, root: str, views):
    """A FeatureStore with the default config, its files under ``root``."""
    from feast_spark import FeatureStore, RepoConfig

    os.makedirs(root, exist_ok=True)
    store = FeatureStore(
        spark,
        RepoConfig(
            registry_path=os.path.join(root, "registry.json"),
            online_store_path=os.path.join(root, "online"),
        ),
    )
    store.apply(_objects(views))
    return store


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class _FileLedger:
    """Bytes written under a directory since the last ``delta`` call:
    files that are new or whose (mtime, size) changed."""

    def __init__(self, root: str):
        self.root = root
        self.seen: dict[str, tuple[int, int]] = {}

    def delta(self) -> int:
        written = 0
        for d, _dirs, files in os.walk(self.root):
            for f in files:
                p = os.path.join(d, f)
                st = os.stat(p)
                sig = (st.st_mtime_ns, st.st_size)
                if self.seen.get(p) != sig:
                    self.seen[p] = sig
                    written += st.st_size
        return written


def _request_keys(rng: np.random.Generator, n: int) -> list[int]:
    keys = datagen.zipf_keys(rng, n)
    unknown = rng.random(n) < UNKNOWN_KEY_SHARE
    keys[unknown] = datagen.N_USERS + 1 + rng.integers(
        0, datagen.N_UNKNOWN, int(unknown.sum())
    )
    return [int(k) for k in keys]


class PitTraining:
    """Repeated point-in-time retrievals of fresh 200k-row entity frames."""

    def __init__(self, spark, root: str, views, seed: int):
        self.spark, self.root = spark, root
        self.rng = np.random.default_rng([seed, 1])
        self.store = new_store(spark, os.path.join(root, "store"), views)
        self.oracle = AsOfOracle(views)
        self.n = 0
        for _ in range(WARMUP_OPS):
            if not self.step().ok:
                raise RuntimeError("warm-up retrieval failed its oracle check")

    def step(self) -> Op:
        ent = datagen.entity_frame(self.rng, ENTITY_ROWS)
        path = os.path.join(self.root, f"entities-{self.n}.parquet")
        self.n += 1
        datagen.write_parquet(ent, path)
        entity_df = self.spark.read.parquet(path)
        self.spark.catalog.clearCache()

        def call():
            job = self.store.get_historical_features(
                entity_df, FEATURE_REFS, full_feature_names=True
            )
            return job.to_df()

        got, secs = _timed(call)
        want = self.oracle.expected(ent)
        ok = "rid" in got.columns and frames_equal(
            got.set_index("rid").sort_index(), want
        )
        os.remove(path)
        return Op("call", secs, len(got), ok)


class MaterializeBackfill:
    """Day-by-day materialization of every view into an initially empty
    online store; after the last day it starts again from empty."""

    def __init__(self, spark, root: str, views, seed: int):
        self.spark, self.root, self.views = spark, root, views
        self.names = list(views)
        self.rng = np.random.default_rng([seed, 2])
        self.oracle = OnlineOracle(views)
        self.cycle = -1
        # warm-up on a separate store, so the measured one starts empty
        warm = new_store(spark, os.path.join(root, "warm"), views)
        warm.materialize(_day(0).to_pydatetime(), _day(1).to_pydatetime())
        self._new_cycle()

    def _new_cycle(self) -> None:
        self.cycle += 1
        self.store = new_store(
            self.spark, os.path.join(self.root, f"cycle-{self.cycle}"), self.views
        )
        self.ledger = _FileLedger(self.store.config.online_store_path)
        self.oracle.reset()
        self.pending = [(d, n) for d in range(HIST_DAYS) for n in self.names]
        self.done: list[Op] = []

    def step(self) -> Op:
        if not self.pending:
            self.finish()
            self._new_cycle()
        d, name = self.pending.pop(0)
        _, secs = _timed(
            lambda: self.store.materialize(
                _day(d).to_pydatetime(), _day(d + 1).to_pydatetime(), [name]
            )
        )
        v = self.views[name]
        day_rows = v.history[(v.history["ts"] >= _day(d)) & (v.history["ts"] < _day(d + 1))]
        self.oracle.apply(name, day_rows)
        op = Op(
            "commit", secs, v.day_rows[d], True, source_bytes=v.day_bytes[d],
            written_bytes=self.ledger.delta(), view=name,
        )
        self.done.append(op)
        return op

    def finish(self) -> None:
        """Check the final snapshot of every view against the oracle, on
        a seeded sample of the keys it holds plus keys it does not; a
        view that differs fails every operation that wrote it."""
        held = np.unique(np.concatenate(
            [st.index.to_numpy() for st in self.oracle.state.values() if st is not None]
            or [np.zeros(0, dtype=np.int64)]
        ))
        keys = np.concatenate([
            self.rng.choice(held, min(len(held), FINAL_CHECK_KEYS), replace=False),
            self.rng.integers(1, datagen.N_USERS + datagen.N_UNKNOWN + 1, FINAL_CHECK_KEYS),
        ])
        keys = [int(k) for k in keys]
        resp = self.store.get_online_features(
            FEATURE_REFS, [{"user_id": k} for k in keys]
        )
        for name in self.names:
            sub = OnlineOracle({name: self.views[name]})
            sub.state[name] = self.oracle.state[name]
            ok, _ = sub.check(keys, resp)
            if not ok:
                for op in self.done:
                    if op.view == name:
                        op.ok = False


class OnlineServing:
    """Closed-loop online lookups over a fully materialized store, with
    one view committing one late hour every REQUESTS_PER_COMMIT requests."""

    def __init__(self, spark, root: str, views, seed: int):
        self.views = views
        self.names = list(views)
        self.rng = np.random.default_rng([seed, 3])
        self.store = new_store(spark, os.path.join(root, "store"), views)
        self.store.materialize(_day(0).to_pydatetime(), _day(HIST_DAYS).to_pydatetime())
        self.oracle = OnlineOracle(views)
        for name, v in views.items():
            self.oracle.apply(name, v.history)
        self.ledger = _FileLedger(self.store.config.online_store_path)
        self.ledger.delta()
        self.requests = self.commits = 0
        if not self._request(100).ok:  # warm-up
            raise RuntimeError("warm-up request failed its oracle check")
        self.requests = 0

    def _request(self, batch: int) -> Op:
        keys = _request_keys(self.rng, batch)
        resp, secs = _timed(
            lambda: self.store.get_online_features(
                FEATURE_REFS, [{"user_id": k} for k in keys]
            )
        )
        ok, found = self.oracle.check(keys, resp)
        self.requests += 1
        return Op("request", secs, batch, ok, found=found,
                  looked_up=batch * len(self.names))

    def _commit(self) -> Op:
        name = self.names[self.commits % len(self.names)]
        hour = self.commits // len(self.names) % 24
        self.commits += 1
        v = self.views[name]
        rows, nbytes = v.append_late_hour(hour)
        lo = _day(HIST_DAYS) + pd.Timedelta(hours=hour)
        _, secs = _timed(
            lambda: self.store.materialize(
                lo.to_pydatetime(), (lo + pd.Timedelta(hours=1)).to_pydatetime(), [name]
            )
        )
        self.oracle.apply(name, rows)
        return Op("commit", secs, 0, True, source_bytes=nbytes,
                  written_bytes=self.ledger.delta(), view=name)

    def step(self) -> Op:
        if self.requests and self.requests % REQUESTS_PER_COMMIT == 0 and (
            self.commits < self.requests // REQUESTS_PER_COMMIT
        ):
            return self._commit()
        return self._request(BATCH_CYCLE[self.requests % len(BATCH_CYCLE)])


WORKLOADS = {
    "pit_training": PitTraining,
    "materialize_backfill": MaterializeBackfill,
    "online_serving": OnlineServing,
}
