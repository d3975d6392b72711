"""Seeded input generator: three feature views as append-only parquet logs.

Every array comes from one ``numpy.random.Generator`` seeded by the
caller, so the same seed gives byte-identical inputs.  Each view is a
30-day history written as one parquet file per day, rows in event-time
order with several row groups per file (what an append-only event log
looks like, and what lets a time filter skip row groups).  One extra
"late" day per view is generated but kept in memory: the serving
workload appends it an hour at a time.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

T0 = pd.Timestamp("2024-01-01")
T0_US = T0.value // 1_000
DAY_US = 86_400 * 1_000_000
HOUR_US = 3_600 * 1_000_000
HIST_DAYS = 30
N_USERS = 50_000
# keys above N_USERS appear in no source: online requests for them are
# NOT_FOUND and retrieval rows for them get NULL features
N_UNKNOWN = 5_000
ZIPF_S = 0.8
ROW_GROUPS_PER_FILE = 6


@dataclass(frozen=True)
class ViewSpec:
    name: str
    rows: int  # history rows, before tie injection and dedup
    ttl_days: int
    features: tuple[str, ...]
    created: bool = False


# A quarter of the 2M / 1M / 0.5M rows a full-size run would use: at
# these sizes a retrieval call already costs seconds of mostly fixed
# Spark overhead, and every run must fit its set-up and enough timed
# operations into well under a minute.
VIEWS = (
    ViewSpec("v_a", 500_000, 2, ("a_f1", "a_f2")),
    ViewSpec("v_b", 250_000, 7, ("b_f1",), created=True),
    ViewSpec("v_c", 125_000, 30, ("c_f1",)),
)
# the four features every retrieval and online request asks for
FEATURE_REFS = ["v_a:a_f1", "v_a:a_f2", "v_b:b_f1", "v_c:c_f1"]


def zipf_keys(rng: np.random.Generator, n: int, n_keys: int = N_USERS) -> np.ndarray:
    """``n`` user ids in [1, n_keys] with Zipf(ZIPF_S) popularity; the
    popularity rank is shuffled so hot keys are not the small ids."""
    ranks = np.arange(1, n_keys + 1, dtype=np.float64)
    p = ranks ** -ZIPF_S
    p /= p.sum()
    ids = rng.permutation(n_keys).astype(np.int64) + 1
    return ids[rng.choice(n_keys, size=n, p=p)]


def _view_frame(
    rng: np.random.Generator, spec: ViewSpec, n: int, start_us: int, span_us: int
) -> pd.DataFrame:
    ts = T0_US + start_us + rng.integers(0, span_us, n)
    df = pd.DataFrame({"user_id": zipf_keys(rng, n), "ts": ts})
    if spec.created:
        df["created"] = ts + rng.integers(0, HOUR_US, n)
        # ~5% of rows get a twin with the same event time and a later or
        # earlier created time: the created column must break the tie
        twins = df.sample(frac=0.05, random_state=rng).copy()
        twins["created"] = twins["ts"] + rng.integers(0, HOUR_US, len(twins))
        df = pd.concat([df, twins], ignore_index=True)
        df = df.drop_duplicates(["user_id", "ts", "created"])
    else:
        df = df.drop_duplicates(["user_id", "ts"])
    for f in spec.features:
        if f == "a_f2":
            df[f] = rng.integers(0, 1_000, len(df))
        else:
            df[f] = np.round(rng.normal(0.0, 1.0, len(df)), 6)
    sort_cols = ["ts", "created"] if spec.created else ["ts"]
    df = df.sort_values(sort_cols, kind="stable").reset_index(drop=True)
    for c in ("ts", "created"):
        if c in df:
            df[c] = pd.to_datetime(df[c], unit="us")
    return df


def write_parquet(df: pd.DataFrame, path: str) -> int:
    """Write ``df`` as parquet with ROW_GROUPS_PER_FILE row groups;
    returns the file size."""
    table = pa.Table.from_pandas(df, preserve_index=False)
    # timestamps as UTC-adjusted micros: Spark reads them as TIMESTAMP
    table = table.cast(
        pa.schema(
            [
                pa.field(f.name, pa.timestamp("us", tz="UTC"))
                if pa.types.is_timestamp(f.type)
                else f
                for f in table.schema
            ]
        )
    )
    rg = max(1, -(-len(df) // ROW_GROUPS_PER_FILE))
    pq.write_table(table, path, row_group_size=rg)
    return os.path.getsize(path)


@dataclass
class ViewData:
    spec: ViewSpec
    source_dir: str
    history: pd.DataFrame  # every source row, event-time order
    late: pd.DataFrame  # the held-back day, event-time order
    day_bytes: list[int] = field(default_factory=list)  # file size per day
    day_rows: list[int] = field(default_factory=list)

    def late_hour(self, hour: int) -> pd.DataFrame:
        lo = T0 + pd.Timedelta(days=HIST_DAYS, hours=hour)
        hi = lo + pd.Timedelta(hours=1)
        return self.late[(self.late["ts"] >= lo) & (self.late["ts"] < hi)]

    def append_late_hour(self, hour: int) -> tuple[pd.DataFrame, int]:
        """Write one late hour as a new file of the source log; returns
        the appended rows and the file's size."""
        rows = self.late_hour(hour)
        path = os.path.join(self.source_dir, f"late-{hour:02d}.parquet")
        return rows, write_parquet(rows, path)


def generate(seed: int, root: str) -> dict[str, ViewData]:
    """Write every view's history under ``root/<view>/`` and return the
    in-memory copies the oracles are built from."""
    rng = np.random.default_rng(seed)
    out = {}
    for spec in VIEWS:
        hist = _view_frame(rng, spec, spec.rows, 0, HIST_DAYS * DAY_US)
        late = _view_frame(
            rng, spec, spec.rows // HIST_DAYS, HIST_DAYS * DAY_US, DAY_US
        )
        src = os.path.join(root, spec.name)
        os.makedirs(src)
        data = ViewData(spec, src, hist, late)
        day = ((hist["ts"] - T0) // pd.Timedelta(days=1)).to_numpy()
        bounds = np.searchsorted(day, np.arange(HIST_DAYS + 1))
        for d in range(HIST_DAYS):
            part = hist.iloc[bounds[d] : bounds[d + 1]]
            data.day_bytes.append(
                write_parquet(part, os.path.join(src, f"day-{d:02d}.parquet"))
            )
            data.day_rows.append(len(part))
        out[spec.name] = data
    return out


def entity_frame(
    rng: np.random.Generator, n: int, unknown_share: float = 0.02
) -> pd.DataFrame:
    """One retrieval request: ``n`` Zipf-keyed rows with timestamps in the
    last third of the history (a few keys unknown to every view)."""
    keys = zipf_keys(rng, n)
    unknown = rng.random(n) < unknown_share
    keys[unknown] = N_USERS + 1 + rng.integers(0, N_UNKNOWN, int(unknown.sum()))
    lo = HIST_DAYS * DAY_US * 2 // 3
    ts = T0_US + rng.integers(lo, HIST_DAYS * DAY_US, n)
    return pd.DataFrame(
        {
            "rid": np.arange(n, dtype=np.int64),
            "user_id": keys,
            "event_timestamp": pd.to_datetime(ts, unit="us"),
        }
    )

