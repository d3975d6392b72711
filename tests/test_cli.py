"""CLI e2e in a temp repo (the reference's test_cli_local.py pattern)."""

from datetime import datetime

from pyspark.sql import Row

from feast_spark.cli import main, parse_repo
from feast_spark.online.store import encode_request_keys

REPO_TMPL = '''
from datetime import timedelta
from feast_spark import Entity, FeatureView, FileSource, ValueType

driver = Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64)
driver_stats = FeatureView(
    name="driver_stats",
    entities=["driver"],
    ttl=timedelta(days=2),
    batch_source=FileSource(path="{src}", event_timestamp_column="ts"),
)
'''


def test_cli_apply_and_list(spark, tmp_path, capsys):
    src = str(tmp_path / "stats.parquet")
    spark.createDataFrame(
        [Row(driver_id=1, ts=datetime(2024, 1, 5), conv=0.5)]
    ).write.parquet(src)
    repo_file = tmp_path / "repo.py"
    repo_file.write_text(REPO_TMPL.format(src=src))

    objs = parse_repo(str(repo_file))
    assert {type(o).__name__ for o in objs} == {"Entity", "FeatureView"}

    common = [
        "--registry", str(tmp_path / "reg.json"),
        "--online-path", str(tmp_path / "online"),
        "--master", "local[2]",
    ]
    assert main(common + ["apply", str(repo_file)]) == 0
    out = capsys.readouterr().out
    assert "applied Entity driver" in out
    assert "applied FeatureView driver_stats" in out

    assert main(common + ["materialize", "2024-01-01", "2024-02-01"]) == 0
    assert main(common + ["entities"]) == 0
    assert "driver\tINT64\tdriver_id" in capsys.readouterr().out
    assert main(common + ["feature-views"]) == 0
    assert "features=conv" in capsys.readouterr().out


def test_registry_dump_and_teardown(tmp_path, capsys):
    import json
    import os

    from feast_spark.cli import main

    repo = tmp_path / "repo.py"
    repo.write_text(
        "from feast_spark import Entity, ValueType\n"
        "driver = Entity(name='driver', join_key='driver_id', "
        "value_type=ValueType.INT64)\n"
    )
    reg = str(tmp_path / "registry.json")
    onl = str(tmp_path / "online")
    base = ["--registry", reg, "--online-path", onl, "--master", "local[2]"]
    assert main(base + ["apply", str(repo)]) == 0
    assert main(base + ["registry-dump"]) == 0
    dumped = capsys.readouterr().out
    payload = json.loads(dumped[dumped.index("{"):])
    assert payload["entities"][0]["name"] == "driver"
    assert main(base + ["teardown"]) == 0
    assert not os.path.exists(reg)
    assert not os.path.exists(reg + ".history")


def test_cli_expire_online(spark, tmp_path, monkeypatch):
    """expire-online sweeps stale rows through the CLI path."""
    from datetime import datetime, timedelta

    from pyspark.sql import Row

    import feast_spark.cli as cli
    from feast_spark import (
        Entity,
        FeatureStore,
        FeatureView,
        FileSource,
        RepoConfig,
        ValueType,
    )

    now = datetime(2021, 6, 10, 12)
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [Row(driver_id=1, value=1.0, ts=now - timedelta(days=30)),
         Row(driver_id=2, value=2.0, ts=now - timedelta(hours=1))]
    ).write.parquet(src)
    cfg = RepoConfig(
        project="t",
        registry_path=str(tmp_path / "r.json"),
        online_store_path=str(tmp_path / "online.db"),
        online_store_type="sqlite",
    )
    st = FeatureStore(spark, cfg)
    st.apply([
        Entity(name="driver", join_key="driver_id", value_type=ValueType.INT64),
        FeatureView(name="fv", entities=["driver"], ttl=timedelta(days=5),
                    batch_source=FileSource(path=src, event_timestamp_column="ts")),
    ])
    st.materialize(now - timedelta(days=60), now)

    monkeypatch.setattr(cli, "_store", lambda args: st)
    rc = cli.main([
        "--registry", cfg.registry_path, "expire-online",
        "--now", now.isoformat(),
    ])
    assert rc == 0
    # stale row gone, fresh row still served
    got = st.online_store.online_read(
        "t", "fv",
        encode_request_keys([{"driver_id": 1}, {"driver_id": 2}], ["driver_id"]),
        ["value"],
    )
    by_id = dict(zip([1, 2], got))
    assert by_id[1] is None  # not found
    assert by_id[2]["value"] == 2.0


def test_cli_version_and_init_scaffold(tmp_path, capsys, monkeypatch):
    """`init` scaffolds a working repo (reference cli.py init): the
    example file parses, applies, and materializes against the
    generated parquet; `version` prints the SDK version; re-init
    refuses to overwrite."""
    import feast_spark

    assert main(["version"]) == 0
    assert feast_spark.__version__ in capsys.readouterr().out

    monkeypatch.chdir(tmp_path)
    assert main(["init", "proj"]) == 0
    assert (tmp_path / "proj" / "example_repo.py").exists()
    assert (tmp_path / "proj" / "data" / "driver_stats.parquet").exists()

    # the scaffold uses a cwd-relative data path (the reference's
    # template shape); Spark resolves relative paths against the JVM's
    # launch cwd, not pytest's chdir — absolutize for the apply step
    repo_file = tmp_path / "proj" / "example_repo.py"
    repo_file.write_text(
        repo_file.read_text().replace(
            "data/driver_stats.parquet",
            str(tmp_path / "proj" / "data" / "driver_stats.parquet"),
        )
    )
    monkeypatch.chdir(tmp_path / "proj")
    common = [
        "--registry", str(tmp_path / "reg.json"),
        "--online-path", str(tmp_path / "online"),
        "--master", "local[2]",
    ]
    assert main(common + ["apply", "example_repo.py"]) == 0
    assert "applied FeatureView driver_hourly_stats" in capsys.readouterr().out
    assert main(common + ["materialize", "2024-01-01", "2024-02-01"]) == 0

    monkeypatch.chdir(tmp_path)
    assert main(["init", "proj"]) == 1  # refuses to overwrite
    assert main(["init", "proj2", "--minimal"]) == 0
    assert not (tmp_path / "proj2" / "data").exists()


def test_cli_doctor_reports_optional_capabilities(capsys):
    """`doctor` lists every optional capability with an ok/MISSING
    verdict and a fallback hint, without starting a SparkSession.
    Exit code is 0 only when everything optional is present (in this
    sandbox at least one media/rpc lib is absent -> 1)."""
    rc = main(["doctor"])
    out = capsys.readouterr().out
    for needle in (
        "grpc serving transport",
        "Redis online store",
        "DynamoDB online store",
        "Datastore online store",
        "image decode (multimodal)",
        "audio/video decode (multimodal)",
        "Kinesis source",
    ):
        assert needle in out, needle
    statuses = [
        ln.split()[0] for ln in out.splitlines() if "python module" in ln
    ]
    assert statuses and set(statuses) <= {"ok", "MISSING"}
    assert rc == (1 if "MISSING" in statuses else 0)
    # every MISSING line is followed by an actionable fallback hint
    lines = out.splitlines()
    for i, ln in enumerate(lines):
        if ln.startswith("MISSING"):
            assert lines[i + 1].lstrip().startswith("->"), ln
