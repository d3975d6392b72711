"""A feature service may only project views the registry holds: deleting
a projected view is refused, a commit whose payload (merge included)
names a missing view is refused before the head is written, and a file
already written that way fails to load with an error naming both.
Spark-free: registry JSON only."""

import json
from datetime import timedelta

import pytest

from feast_spark import Entity, FeatureService, FeatureView, ValueType
from feast_spark.feature import Feature
from feast_spark.feature_store import FeatureStore, RepoConfig
from feast_spark.registry import Registry


def _view(name="fv"):
    return FeatureView(
        name=name, entities=["driver"], ttl=timedelta(days=1),
        features=[Feature("x", ValueType.DOUBLE)],
    )


def _registry_with_service(path):
    reg = Registry(path)
    reg.apply_entity(
        Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64)
    )
    fv = _view()
    reg.apply_feature_view(fv)
    reg.apply_feature_service(
        FeatureService(name="svc", features=[fv.with_projection(["x"])])
    )
    reg.commit()
    return reg


def test_delete_view_projected_by_a_service_is_refused(tmp_path):
    path = str(tmp_path / "registry.json")
    reg = _registry_with_service(path)
    with pytest.raises(ValueError, match=r"'fv'.*\['svc'\]"):
        reg.delete_feature_view("fv")
    assert "fv" in reg.feature_views
    # deleting the service first frees the view
    del reg.feature_services["svc"]
    reg.delete_feature_view("fv")
    reg.commit()
    assert Registry(path).feature_views == {}


def test_merge_refuses_a_service_on_a_concurrently_deleted_view(tmp_path):
    """Writer A deletes ``fv``; writer B, loaded before that commit,
    adds a service on ``fv``.  The per-object merge would combine the
    two; the commit refuses instead and leaves the head loadable."""
    path = str(tmp_path / "registry.json")
    reg = Registry(path)
    reg.apply_feature_view(_view())
    reg.commit()
    a, b = Registry(path), Registry(path)
    a.delete_feature_view("fv")
    a.commit()
    b.apply_feature_service(
        FeatureService(
            name="svc", features=[b.feature_views["fv"].with_projection(["x"])]
        )
    )
    with pytest.raises(ValueError, match="'svc'.*'fv'"):
        b.commit()
    head = Registry(path)
    assert head.feature_views == {} and head.feature_services == {}
    assert head.history_seqs() == [1, 2]


def test_loading_a_dangling_service_names_service_and_view(tmp_path):
    path = str(tmp_path / "registry.json")
    _registry_with_service(path)
    payload = json.loads(open(path).read())
    payload["feature_views"] = []
    with open(path, "w") as f:
        json.dump(payload, f)
    with pytest.raises(ValueError, match="'svc'.*'fv'"):
        Registry(path)


def test_store_teardown_clears_services_before_views(tmp_path):
    path = str(tmp_path / "registry.json")
    _registry_with_service(path)
    store = FeatureStore(
        None,
        RepoConfig(
            project="p", registry_path=path,
            online_store_path=str(tmp_path / "online"),
        ),
    )
    store.teardown()
    reg = Registry(path)
    assert reg.feature_views == {} and reg.feature_services == {}
