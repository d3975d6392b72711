"""Expected outputs built from the generated data with pandas alone.

Nothing here imports ``feast_spark``: each oracle restates the
semantics the store promises (as-of join with ttl and created-time
tie-break; newest (event_ts, created) wins per key online) directly
over the in-memory copies of the generated sources.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from datagen import ViewData


def _order(view: ViewData) -> list[str]:
    return ["ts", "created"] if view.spec.created else ["ts"]


def dedup_event_ties(view: ViewData, df: pd.DataFrame) -> pd.DataFrame:
    """One row per (user_id, ts): the greatest created time wins."""
    if not view.spec.created:
        return df
    df = df.sort_values(_order(view), kind="stable")
    return df.drop_duplicates(["user_id", "ts"], keep="last")


class AsOfOracle:
    """Point-in-time answers for ``get_historical_features``."""

    def __init__(self, views: dict[str, ViewData]):
        self.views = views
        self._right = {
            name: dedup_event_ties(v, v.history)
            .sort_values("ts", kind="stable")
            .reset_index(drop=True)
            for name, v in views.items()
        }

    def expected(self, entities: pd.DataFrame) -> pd.DataFrame:
        """Feature columns named ``<view>__<feature>`` indexed by rid."""
        left = entities.sort_values("event_timestamp", kind="stable")
        out = left[["rid"]].copy()
        for name, v in self.views.items():
            right = self._right[name][["user_id", "ts", *v.spec.features]]
            got = pd.merge_asof(
                left[["rid", "user_id", "event_timestamp"]],
                right,
                left_on="event_timestamp",
                right_on="ts",
                by="user_id",
                direction="backward",
                allow_exact_matches=True,
                tolerance=pd.Timedelta(days=v.spec.ttl_days),
            )
            for f in v.spec.features:
                out[f"{name}__{f}"] = got[f].to_numpy()
        return out.set_index("rid").sort_index()


def frames_equal(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Same rows (by index) and bit-equal values; NULL equals NULL."""
    if len(got) != len(want) or not got.index.equals(want.index):
        return False
    for c in want.columns:
        if c not in got:
            return False
        a = got[c].to_numpy(dtype=np.float64, na_value=np.nan)
        b = want[c].to_numpy(dtype=np.float64, na_value=np.nan)
        if not np.array_equal(a, b, equal_nan=True):
            return False
    return True


class OnlineOracle:
    """What the online store must hold per view: for every key, the row
    with the greatest (ts[, created]) among all materialized rows."""

    def __init__(self, views: dict[str, ViewData]):
        self.views = views
        self.state: dict[str, pd.DataFrame | None] = dict.fromkeys(views)

    def apply(self, name: str, rows: pd.DataFrame) -> None:
        """Fold a materialized window's rows into the expected state."""
        v = self.views[name]
        cols = ["user_id", *_order(v), *v.spec.features]
        both = rows[cols]
        if self.state[name] is not None:
            both = pd.concat([self.state[name].reset_index(), both])
        both = both.sort_values(_order(v), kind="stable")
        self.state[name] = both.drop_duplicates("user_id", keep="last").set_index(
            "user_id"
        )

    def reset(self) -> None:
        self.state = dict.fromkeys(self.views)

    def check(self, keys: list[int], resp: dict) -> tuple[bool, int]:
        """Compare one ``get_online_features`` response with the state:
        values, and PRESENT exactly for the keys the state holds, else
        NOT_FOUND.  Returns (ok, keys found summed over views)."""
        if resp.get("user_id") != keys:
            return False, 0
        statuses = resp.get("__statuses", {})
        ok, found = True, 0
        for name, v in self.views.items():
            st = self.state[name]
            if st is None:
                hit = np.zeros(len(keys), dtype=bool)
            else:
                hit = np.asarray(pd.Index(keys).isin(st.index))
            found += int(hit.sum())
            for f in v.spec.features:
                vals, stat = resp.get(f), statuses.get(f)
                if vals is None or stat is None or len(vals) != len(keys):
                    return False, found
                want = (
                    np.full(len(keys), np.nan) if st is None
                    else st[f].reindex(keys).to_numpy(dtype=np.float64)
                )
                got = np.array([np.nan if x is None else float(x) for x in vals])
                stat = np.asarray(stat)
                ok &= bool(np.array_equal(got, want, equal_nan=True))
                ok &= bool(np.all((stat == "PRESENT") == hit))
                ok &= bool(np.all((stat == "NOT_FOUND") == ~hit))
        return ok, found
