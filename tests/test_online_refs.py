"""get_online_features resolves feature refs like batch retrieval: an
unknown on-demand feature raises, colliding output names raise, and an
on-demand view's auto-fetched sources are not part of the response.
Spark-free: the parquet store serves misses for a never-materialized
view from the driver, and the on-demand transform runs on pandas."""

from datetime import timedelta

import pandas as pd
import pytest

from feast_spark import Entity, FeatureView, OnDemandFeatureView, ValueType
from feast_spark.errors import (
    FeatureNameCollisionError,
    FeatureViewNotFoundError,
)
from feast_spark.feature import Feature
from feast_spark.feature_store import FeatureStore, RepoConfig


@pytest.fixture()
def store(tmp_path):
    st = FeatureStore(
        None,
        RepoConfig(
            project="p", registry_path=str(tmp_path / "registry.json"),
            online_store_path=str(tmp_path / "online"),
        ),
    )
    reg = st.registry
    reg.apply_entity(
        Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64)
    )
    for name in ("fv", "fv2"):
        reg.apply_feature_view(
            FeatureView(
                name=name, entities=["driver"], ttl=timedelta(days=1),
                features=[Feature("x", ValueType.DOUBLE)],
            )
        )
    reg.apply_on_demand_view(
        OnDemandFeatureView(
            name="od", sources=["fv:x"],
            features=[Feature("y", ValueType.DOUBLE)],
            transform=lambda df: pd.DataFrame(
                {"y": df["x"].astype("float64") * 2}
            ),
            mode="pandas",
        )
    )
    return st


def test_online_refs_resolve_like_batch_retrieval(store):
    rows = [{"driver_id": 1}, {"driver_id": 2}]
    with pytest.raises(FeatureViewNotFoundError, match="nope"):
        store.get_online_features(["od:nope"], rows)
    # od has no feature x: an unknown ref, not fv's x served silently
    with pytest.raises(FeatureViewNotFoundError, match="'x'"):
        store.get_online_features(["fv:x", "od:x"], rows)
    with pytest.raises(FeatureNameCollisionError):
        store.get_online_features(["fv:x", "fv2:x"], rows)

    out = store.get_online_features(["od:y"], rows)
    # the auto-fetched source fv:x is dropped, as in batch retrieval
    assert set(out) == {"driver_id", "y", "__statuses"}
    assert set(out["__statuses"]) == {"y"}
    assert out["y"] == [None, None]
    assert out["__statuses"]["y"] == ["NOT_FOUND", "NOT_FOUND"]

    # a source requested explicitly stays
    out = store.get_online_features(["fv:x", "od:y"], rows)
    assert set(out) == {"driver_id", "x", "y", "__statuses"}
