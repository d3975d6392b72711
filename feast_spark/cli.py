"""CLI — the reference's `feast` command surface (cli.py +
repo_operations.py): apply a repo of Python definitions, materialize,
list registry objects.

    python -m feast_spark apply repo.py --registry registry.json
    python -m feast_spark materialize 2024-01-01 2024-02-01
    python -m feast_spark materialize-incremental 2024-02-01
    python -m feast_spark entities / feature-views

A "repo file" is a Python file whose module-level Entity / FeatureView /
FeatureService objects are applied (parse_repo,
repo_operations.py:94-111).
"""

from __future__ import annotations

import argparse
import importlib.util
import sys
from datetime import datetime

from feast_spark.entity import Entity
from feast_spark.feature_view import (
    FeatureService,
    FeatureView,
    OnDemandFeatureView,
)


def parse_repo(path: str) -> list:
    """Exec a repo definition file and collect declared objects."""
    spec = importlib.util.spec_from_file_location("__feast_repo__", path)
    if spec is None or spec.loader is None:
        raise ValueError(f"cannot load repo file {path!r}")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    objs = []
    for v in vars(module).values():
        if isinstance(
            v, (Entity, FeatureView, FeatureService, OnDemandFeatureView)
        ):
            objs.append(v)
    return objs


def _cli_spark(args):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(args.master)
        .appName("feast_spark-cli")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _store(args):
    from feast_spark.feature_store import FeatureStore, RepoConfig

    return FeatureStore(
        _cli_spark(args),
        RepoConfig(
            project=args.project,
            registry_path=args.registry,
            online_store_path=args.online_path,
        ),
    )


_EXAMPLE_REPO = '''\
"""Example feature repository — apply with

    python -m feast_spark apply example_repo.py
"""

from datetime import timedelta

from feast_spark import Entity, FeatureView, FileSource, ValueType

driver = Entity(name="driver", join_key="driver_id",
                value_type=ValueType.INT64)

driver_stats = FeatureView(
    name="driver_hourly_stats",
    entities=["driver"],
    ttl=timedelta(days=1),
    batch_source=FileSource(
        path="data/driver_stats.parquet",
        event_timestamp_column="event_timestamp",
        created_timestamp_column="created",
    ),
)
'''


def _init_repo(project_directory: str, minimal: bool) -> int:
    """Scaffold a repository: an example repo file plus (unless
    --minimal) a small deterministic driver-stats parquet, mirroring
    the reference's `feast init` local template
    (repo_operations.py init_repo + driver_test_data) without needing
    a SparkSession — the data is written with pyarrow."""
    import os

    os.makedirs(project_directory, exist_ok=True)
    repo_path = os.path.join(project_directory, "example_repo.py")
    if os.path.exists(repo_path):
        print(f"refusing to overwrite {repo_path}", file=sys.stderr)
        return 1
    with open(repo_path, "w") as f:
        f.write(_EXAMPLE_REPO if not minimal else '"""Empty feast_spark repo."""\n')
    if not minimal:
        from datetime import datetime, timedelta

        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(os.path.join(project_directory, "data"), exist_ok=True)
        base = datetime(2024, 1, 1)
        n = 24 * 14
        rows = {
            "driver_id": pa.array(
                [1000 + (i % 5) for i in range(n)], pa.int64()
            ),
            "event_timestamp": pa.array(
                [base + timedelta(hours=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "created": pa.array(
                [base + timedelta(hours=i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "conv_rate": pa.array(
                [((i * 37) % 100) / 100.0 for i in range(n)], pa.float64()
            ),
            "acc_rate": pa.array(
                [((i * 53) % 100) / 100.0 for i in range(n)], pa.float64()
            ),
            "avg_daily_trips": pa.array(
                [(i * 7) % 40 for i in range(n)], pa.int64()
            ),
        }
        pq.write_table(
            pa.table(rows),
            os.path.join(project_directory, "data", "driver_stats.parquet"),
        )
    print(f"initialized repository at {project_directory}/")
    return 0


_OPTIONAL_CAPABILITIES = [
    # (capability, python module to probe, what works without it)
    (
        "grpc serving transport",
        "grpc",
        "HTTP serving twin (feast_spark.serving) speaks the same "
        "payloads; install 'grpcio' for the reference's RPC surface",
    ),
    (
        "Redis online store",
        "redis",
        "parquet-snapshot and SQLite online stores work without it",
    ),
    (
        "DynamoDB online store",
        "boto3",
        "cloud-store protocol is tested against a fake; install "
        "'boto3' to run against AWS",
    ),
    (
        "Datastore online store",
        "google.cloud.datastore",
        "cloud-store protocol is tested against a fake; install "
        "'google-cloud-datastore' to run against GCP",
    ),
    (
        "image decode (multimodal)",
        "PIL",
        "binary plumbing, metadata, resize/frame-sample plans still "
        "run; install 'Pillow' to decode pixels",
    ),
    (
        "audio/video decode (multimodal)",
        "av",
        "binary plumbing and schemas still run; install 'av' (PyAV) "
        "to decode frames/samples",
    ),
]


def _doctor() -> int:
    """Report which OPTIONAL capabilities are available in this
    environment and what to install for the rest — the triage verb for
    'why does X raise NotImplementedError here?'.  Python-probeable
    dependencies are import-checked; JVM-side connectors are listed
    with their runtime requirement (checking them would need a live
    SparkSession, which doctor deliberately does not start)."""
    import importlib.util

    rc = 0
    for name, module, fallback in _OPTIONAL_CAPABILITIES:
        try:
            available = importlib.util.find_spec(module) is not None
        except (ImportError, ModuleNotFoundError):
            # probing "google.cloud.datastore" raises when the parent
            # namespace package itself is absent
            available = False
        status = "ok" if available else "MISSING"
        print(f"{status:8s}{name} (python module {module!r})")
        if not available:
            print(f"        -> {fallback}")
            rc = 1
    print(
        "runtime Kinesis source: needs the spark-sql-kinesis connector "
        "jar on the Spark classpath (checked when the stream loads); "
        "Kafka uses Spark's built-in connector"
    )
    return rc


def _doctor_index(args) -> int:
    """``doctor --index PATH``: health-check a persisted index via
    operators/index_advisor.index_advise — prints the health numbers
    and every crossed-bound recommendation; exit code 1 when there is
    UNAPPLIED advice to act on (cron-friendly, like plain ``doctor``).
    With ``--maintain``, mechanical advice (compact + vacuum) is
    applied in place and only what remains counts against the exit
    code."""
    from feast_spark.operators.index_advisor import index_advise, index_maintain

    spark = _cli_spark(args)
    if args.maintain:
        # index_maintain re-advises after applying, so report["advice"]
        # is exactly the still-unapplied advice
        report = index_maintain(spark, args.index, vacuum=args.vacuum)
    else:
        report = index_advise(spark, args.index)
    print(f"kind     {report['kind']} ({report['n_epochs']} epochs)")
    for key, val in sorted(report["health"].items()):
        print(f"         {key} = {val}")
    for action in report.get("applied", []):
        print(f"applied  {action}")
    if not report["advice"]:
        print("ok       inside every documented bound")
        return 0
    for item in report["advice"]:
        rec = (
            f" -> {item['param']}={item['recommended']}"
            if "param" in item
            else ""
        )
        print(f"ADVICE   {item['action']}{rec}: {item['reason']}")
    return 1


def _doctor_pair(args) -> int:
    """``doctor --pair BM25_PATH VEC_PATH``: report the hybrid pair's
    corpus alignment (the SAME ``check_corpus_alignment`` predicate
    serving enforces, so the cron verb can never diverge from it).
    Exit 1 on diverged tokens — a paired append crashed between its
    two commits and hybrid queries are failing loudly; repair by
    re-running the SAME slice with ``hybrid_index_append(...,
    resume=True)``.  Exit 2 on a missing/foreign path (distinct from
    misalignment so a cron never repairs a typo).  With ``--strict``,
    exit 3 when EITHER side is unstamped: unstamped sides are exempt
    from serving-time alignment checks (backward compatibility /
    rebuild window), so a cron watching a production pair that is
    SUPPOSED to be stamped wants the detection window itself to be
    loud — e.g. right after a vector-side rebuild drops the token.
    Close the window with ``paired_index.restamp_pair`` (after
    attesting the rebuilt side covers the pair's corpus) or with the
    next paired append.  Driver-only (two manifest reads) — no Spark
    session."""
    import warnings

    from feast_spark.operators.paired_index import check_corpus_alignment

    bm25_path, vec_path = args.pair
    try:
        with warnings.catch_warnings():
            # the CLI reports the mismatch itself (plus exit code); the
            # library's UserWarning would double-report on stderr
            warnings.simplefilter("ignore")
            rep = check_corpus_alignment(
                bm25_path, vec_path, on_mismatch="warn"
            )
    except ValueError as e:
        # missing/foreign path: NOT the misalignment exit code — a cron
        # must not repair a healthy pair over a typo
        print(f"error    {e}")
        return 2
    tb, tv = rep["bm25"], rep["vector"]
    print(f"bm25     corpus_epoch = {tb} ({bm25_path})")
    print(f"vector   corpus_epoch = {tv} ({vec_path})")
    if not rep["aligned"]:
        print(
            "MISALIGNED  a paired append crashed between its two "
            "commits; re-run the SAME slice with "
            "hybrid_index_append(..., resume=True)"
        )
        return 1
    if tb is None or tv is None:
        status = "UNSTAMPED" if args.strict else "ok       unstamped"
        print(
            f"{status} (no paired append yet, or one side "
            "rebuilt) — alignment checks are exempt until the next "
            "paired append (or restamp_pair) stamps both sides"
        )
        return 3 if args.strict else 0
    print("ok       corpus-aligned")
    return 0


def _doctor_provenance_orphans(args) -> int:
    """``doctor --provenance-orphans RUN_DIR``: list vacuum-immune
    tags that NO provenance record under the run directory references
    — the residue a hard kill (SIGKILL / power loss) between pin
    application and the provenance JSON write leaves behind
    (``snapshot_provenance``'s rollback covers exceptions, not process
    death; a GC-exempt tag with no record referencing it leaks storage
    silently forever).

    Layer discovery comes from the records themselves: every layer of
    ``provenance.record_layers`` named by ANY record (pinned or not) is
    audited, so the killed run's layers are found through its
    siblings' records.  A tag counts as referenced when a record names
    it as its ``pin_tag`` or carried it in a layer's recorded tag
    table at snapshot time — so manual pins (a dataset's ``v1``) only
    alarm until some snapshot has seen them.

    Exit discipline matches ``--pair``: 1 when orphan candidates exist
    (actionable — delete the tag with the layer's delete-tag verb
    after confirming no out-of-band process owns it, or re-run the
    killed ``snapshot_provenance``); 2 on a missing run dir or one
    with no readable provenance records (a cron must never "repair"
    over a typo); 0 when every tag on every referenced layer is
    accounted for.  Driver-only — a few JSON reads, no Spark
    session."""
    import json as _json
    import os

    from feast_spark.io import epochs as epochs_io
    from feast_spark.io.fs import LocalFS
    from feast_spark.provenance import (
        NEVER_MATERIALIZED, PROVENANCE_FORMAT, record_layers,
    )

    run_dir = args.provenance_orphans
    if not os.path.isdir(run_dir):
        print(f"error    {run_dir} is not a directory")
        return 2
    docs = []
    for base, _dirs, files in os.walk(run_dir):
        for f in sorted(files):
            if not f.endswith(".json"):
                continue
            p = os.path.join(base, f)
            try:
                doc = _json.loads(open(p, "rb").read())
            except (OSError, ValueError):
                continue
            if (
                isinstance(doc, dict)
                and doc.get("format") == PROVENANCE_FORMAT
            ):
                docs.append((p, doc))
    if not docs:
        print(
            f"error    no readable provenance records under {run_dir}"
        )
        return 2

    # (scope, layer root) -> set of referenced tag names
    referenced: dict[tuple[str, str], set[str]] = {}
    pins_seen = 0
    for _p, doc in docs:
        pin = doc.get("pin_tag")
        pins_seen += bool(pin)
        for scope, _name, root, seq, tags, _meta in record_layers(doc):
            if root is None:
                continue  # an online section recorded without its root
            known = referenced.setdefault((scope, root), set())
            known.update(tags)
            if pin and seq != NEVER_MATERIALIZED:
                known.add(pin)

    fs = LocalFS()
    print(
        f"docs     {len(docs)} provenance records "
        f"({pins_seen} pinned), {len(referenced)} layers referenced"
    )
    orphans = 0
    for (scope, root), known in sorted(referenced.items()):
        try:
            live = epochs_io.read_tags(root, fs)
        except (OSError, ValueError):
            print(f"skip     {scope} {root} — unreadable/deleted")
            continue
        stray = sorted(set(live) - known)
        for t in stray:
            print(
                f"ORPHAN   {scope} {root} tag {t!r} -> seq {live[t]} "
                "(no provenance record references it)"
            )
        orphans += len(stray)
        if not stray:
            print(
                f"ok       {scope} {root} — "
                f"{len(live)} tags, all referenced"
            )
    if orphans:
        print(
            f"ORPHANED {orphans} vacuum-immune tags lack a provenance "
            "record — a snapshot_provenance(pin_tag=...) was killed "
            "between pin application and its JSON write, or an "
            "out-of-band pin exists; delete with the layer's "
            "delete-tag verb or re-run the snapshot"
        )
        return 1
    print("ok       no orphaned pins")
    return 0


_KIND_SUBDIRS = {
    "bm25": ("postings", "stats"),
    "minhash": ("bands", "shingles"),
    "ivf": ("vectors",),
    "ivfpq": ("codes",),
}


def _doctor_history(args) -> int:
    """``doctor --history PATH``: print the commit log of whatever
    committed layer lives at PATH — a persisted INDEX (epoch
    manifests), a SNAPSHOT table (``io/manifest.py``: an online view or
    a dataset) or a REGISTRY file (``registry.py``, archived beside
    it) — one line per served commit: seq, a per-kind summary, pins,
    and whether it is still a readable ``as_of=`` target.  One walk
    for every kind: the layer's archive (``_history/commit_seq=N``)
    and tag table, both through ``io/epochs.py``.  The audit trail
    behind time travel, same discipline as ``DESCRIBE HISTORY`` on a
    Delta table.  Driver-only (tiny JSON reads) — no Spark session.
    Exit 2 on a missing/uncommitted path."""
    import os
    import posixpath
    from datetime import datetime, timezone

    from feast_spark.io import epochs as epochs_io
    from feast_spark.io.fs import LocalFS
    from feast_spark.registry import archive_root

    fs = LocalFS()
    path = args.history
    # a registry is a file whose archive and tags sit beside it
    head_file = path if os.path.isfile(path) else None
    root = archive_root(path) if head_file else path
    try:
        head = epochs_io.read_manifest(
            root, fs, (), kind="layer", head_file=head_file
        )
    except ValueError as e:
        print(f"error    {e}")
        return 2

    def _fmt_ts(m: dict) -> str:
        return datetime.fromtimestamp(
            m["committed_at"], tz=timezone.utc
        ).strftime("%Y-%m-%d %H:%M:%SZ")

    def _state(readable: bool) -> str:
        return "readable" if readable else "expired "

    if head_file:
        footer = "*=head; each seq is a Registry.load_as_of target"

        def summary(m: dict, _tags: list[str]) -> str:
            return (
                f"{_fmt_ts(m)}  entities={len(m.get('entities', []))} "
                f"views={len(m.get('feature_views', []))} "
                f"services={len(m.get('feature_services', []))}"
            )
    elif "current" in head:
        footer = (
            "*=head; 'readable' commits are valid as_of= targets "
            "(keep_versions GC bounds the window; tagged snapshots are "
            "GC-exempt until untagged)"
        )

        def summary(m: dict, tags: list[str]) -> str:
            readable = fs.exists(posixpath.join(root, m["current"]))
            pins = "  tags=" + ",".join(tags) if tags else ""
            return f"{_state(readable)} {_fmt_ts(m)}  {m['current']}{pins}"
    else:
        footer = (
            "*=head; 'readable' commits are valid as_of= targets "
            "(vacuum retain_last bounds the window; tagged commits are "
            "pinned until the tag is deleted)"
        )

        def summary(m: dict, tags: list[str]) -> str:
            kind, epochs = m.get("kind", "?"), m.get("epochs", [])
            subdirs = _KIND_SUBDIRS.get(kind)
            # an unrecognized kind's epoch layout is unknown: say so
            # instead of a vacuously-true 'readable' over no dirs
            state = "unknown " if subdirs is None else _state(all(
                fs.exists(posixpath.join(root, sub, f"epoch={e}"))
                for sub in subdirs
                for e in epochs
            ))
            stamps = "".join(
                f" {k}={m[k]}"
                for k in ("corpus_epoch", "stream_epoch")
                if k in m
            )
            tagtxt = f" tags={tags}" if tags else ""
            return f"{state} kind={kind:<7} epochs={epochs}{stamps}{tagtxt}"

    manifests = epochs_io.served_manifests(root, fs, head_file)
    if not manifests:
        print(
            f"no archived commits — {path} predates commit logging (its "
            "next commit starts the log) or vacuum expired them all"
        )
        return 0
    tags_by_seq: dict[int, list[str]] = {}
    for name, seq in sorted(epochs_io.read_tags(root, fs).items()):
        tags_by_seq.setdefault(seq, []).append(name)
    head_seq = epochs_io.commit_seq_of(head)
    for m in manifests:
        s = m["commit_seq"]
        mark = "*" if s == head_seq else " "
        print(f"{mark}seq={s:<4} {summary(m, tags_by_seq.get(s, []))}")
    print(footer)
    return 0


def _cmd_provenance(args) -> int:
    """``provenance snapshot OUT.json [--index NAME=PATH ...] [--note]``
    stamps every layer's committed coordinate (provenance.py) —
    registry seq, per-view online snapshot seq, per-index commit_seq +
    tags — a few JSON reads, NO Spark session.  ``provenance describe
    RUN.json`` prints a stamped record and verifies every pin is still
    a replayable target: the registry through ``RunReplay.registry``
    (its archive, else the embedded payload), every other layer of
    ``provenance.record_layers`` against its own archive and tag
    table; exit 1 when any pin has been GC'd past its layer's
    retention window, exit 2 on a bad path/argument."""
    import json as _json
    from types import SimpleNamespace

    from feast_spark.io import epochs as epochs_io
    from feast_spark.io.fs import LocalFS
    from feast_spark.online.store import OnlineStore
    from feast_spark.registry import Registry

    fs = LocalFS()
    if args.action == "snapshot":
        def _parse_specs(specs: list[str], flag: str) -> dict | None:
            out = {}
            for spec in specs:
                name, sep, spath = spec.partition("=")
                if not sep or not name or not spath:
                    print(
                        f"error    {flag} expects NAME=PATH, got {spec!r}"
                    )
                    return None
                out[name] = spath
            return out

        index_paths = _parse_specs(args.index, "--index")
        dataset_paths = _parse_specs(args.dataset, "--dataset")
        if index_paths is None or dataset_paths is None:
            return 2
        # snapshot_provenance only reads committed JSON heads, so the
        # CLI feeds it a Spark-free store shim
        store = SimpleNamespace(
            registry=Registry(args.registry),
            online_store=OnlineStore(args.online_path),
            config=SimpleNamespace(project=args.project),
        )
        from feast_spark.provenance import snapshot_provenance

        try:
            doc = snapshot_provenance(
                store, index_paths=index_paths, note=args.note,
                path=args.path, pin_tag=args.pin,
                dataset_paths=dataset_paths,
            )
        except ValueError as e:
            print(f"error    {e}")
            return 2
        pinned = f", pinned as {args.pin!r}" if args.pin else ""
        print(
            f"wrote {args.path}: registry seq={doc['registry']['seq']}, "
            f"{len(doc['online'].get('views', {}))} online views, "
            f"{len(doc['indexes'])} indexes, "
            f"{len(doc['datasets'])} datasets{pinned}"
        )
        return 0

    # describe: print + verify replayability of every pin
    from feast_spark.provenance import (
        NEVER_MATERIALIZED, RunReplay, load_provenance, record_layers,
    )

    try:
        doc = load_provenance(args.path, fs=fs)
    except (ValueError, FileNotFoundError) as e:
        print(f"error    {e}")
        return 2
    print(_json.dumps(doc, indent=1))
    run = RunReplay(doc, registry_fs=fs)
    expired = 0
    pin = doc.get("pin_tag")
    seq = doc["registry"]["seq"]
    if seq is not None:
        try:
            run.registry
            how = (
                " from the embedded payload" if run.registry_from_payload
                else ""
            )
            print(f"ok       registry seq={seq} replayable{how}")
        except ValueError as e:
            expired += 1
            print(f"expired  registry seq={seq}: {e}")
    online = doc["online"]
    if "views" not in online:
        print(
            f"warn     online store ({online['type']}) keeps no "
            "history — not replayable"
        )
    # the doc records the online root (like the registry path), so
    # verification does not depend on the --online-path flag matching
    # what the snapshot used; old records fall back to it
    for scope, name, root, lseq, tags, _meta in record_layers(
        doc, args.online_path
    ):
        label = "seq" if scope == "online" else "commit_seq"
        if lseq == NEVER_MATERIALIZED:
            print(f"ok       {scope} {name}: pre-history (seq 0)")
            continue
        try:
            epochs_io.read_manifest(root, fs, (), kind=scope, as_of_seq=lseq)
        except ValueError as e:
            expired += 1
            print(f"expired  {scope} {name} {label}={lseq}: {e}")
            continue
        print(f"ok       {scope} {name} {label}={lseq} replayable")
        # the doc records each layer's tag map, so a pin deleted or
        # re-pointed since the snapshot is caught before a replay fails
        if not (pin and tags.get(pin) == lseq):
            continue
        live = epochs_io.read_tags(root, fs).get(pin)
        if live == lseq:
            print(f"ok       {scope} {name} pin {pin!r} -> {label}={lseq}")
        else:
            expired += 1
            print(
                f"missing  {scope} {name} pin {pin!r}: live tag is "
                f"{live!r} (deleted or re-pointed)"
            )
    # streaming watermarks recorded at snapshot time: "this run
    # trained on data ingested through epoch E" per layer
    for scope, section in (
        ("online", "online"), ("index", "indexes"), ("dataset", "datasets")
    ):
        for name, m in sorted(run.ingest_meta[section].items()):
            stamps = " ".join(
                f"{k}={m[k]}" for k in ("stream_epoch", "corpus_epoch")
                if k in m
            )
            if stamps:
                print(f"ingested {scope} {name} through {stamps}")
    return 1 if expired else 0


def _cmd_dataset_diff(args) -> int:
    """``dataset-diff ROOT A B [--key COL ...]`` — the audit verb over
    a versioned training dataset (datasets.diff_dataset): counts +
    sample keys, rows never reach the driver.  A/B accept commit seqs
    or tag names (``june-run``)."""
    from feast_spark.datasets import diff_dataset

    def _ref(s: str) -> int | str:
        return int(s) if s.isdigit() else s

    from pyspark.errors import AnalysisException

    try:
        out = diff_dataset(
            _cli_spark(args), args.root, _ref(args.a), _ref(args.b),
            key_cols=args.key or None, sample=args.sample,
        )
    except (ValueError, AnalysisException) as e:
        # AnalysisException: e.g. --key naming a column the dataset
        # lacks — the same friendly error/exit-2 path as a bad ref,
        # not a JVM stack trace
        print(f"error    {e}")
        return 2
    for k in ("added", "removed", "changed"):
        if k in out:
            line = f"{k:<8} {out[k]}"
            samples = out.get(f"sample_{k}")
            if samples:
                line += "   e.g. " + ", ".join(str(s) for s in samples)
            print(line)
    return 0


def _cmd_tag(args) -> int:
    """``tag PATH [NAME] [--seq N] [--delete] [--list]``: pin / unpin /
    list named commits of any committed layer — a persisted INDEX, an
    ONLINE snapshot table or a versioned DATASET root all share the
    io/epochs.py tag table.  A tagged commit is exempt from every
    vacuum/GC retention window until the tag is deleted, so 'the corpus
    the June model trained on' stays an ``as_of="name"`` target while
    daily vacuums reclaim everything else.  Defaults to pinning the
    CURRENT head commit.  Exit 2 on a missing path, an unarchived seq,
    or an unknown tag name."""
    from feast_spark.io import epochs as epochs_io
    from feast_spark.io.fs import LocalFS

    fs = LocalFS()
    path = args.index_path
    try:
        head = epochs_io.read_manifest(path, fs, required_keys=(), kind="table")
    except ValueError as e:
        print(f"error    {e}")
        return 2
    if args.list:
        tags = epochs_io.read_tags(path, fs)
        if not tags:
            print("no tags")
        for name in sorted(tags):
            print(f"{name} -> commit_seq={tags[name]}")
        return 0
    if not args.name:
        print("error    NAME is required unless --list")
        return 2
    try:
        if args.delete:
            epochs_io.delete_tag(path, fs, args.name)
            print(f"deleted  {args.name}")
        else:
            seq = args.seq if args.seq is not None else head.get("commit_seq")
            if seq is None:
                print(
                    "error    head manifest predates commit_seq; commit "
                    "once to start the history log, then tag"
                )
                return 2
            epochs_io.tag_commit(path, fs, args.name, seq)
            print(f"tagged   {args.name} -> commit_seq={seq}")
    except ValueError as e:
        print(f"error    {e}")
        return 2
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="feast_spark")
    p.add_argument("--registry", default="registry.json")
    p.add_argument("--online-path", default="online_store")
    p.add_argument("--project", default="default")
    p.add_argument("--master", default="local[*]")
    sub = p.add_subparsers(dest="cmd", required=True)

    sp = sub.add_parser("apply", help="apply a repo definition file")
    sp.add_argument("repo_file")

    sp = sub.add_parser("materialize")
    sp.add_argument("start")
    sp.add_argument("end")
    sp.add_argument("--views", nargs="*", default=None)

    sp = sub.add_parser("materialize-incremental")
    sp.add_argument("end")
    sp.add_argument("--views", nargs="*", default=None)

    sp = sub.add_parser(
        "expire-online",
        help="TTL sweep: reclaim online rows older than each view's ttl",
    )
    sp.add_argument("--now", default=None,
                    help="ISO timestamp to expire against (default: now)")

    sub.add_parser("entities", help="list registry entities")
    sub.add_parser("feature-views", help="list registry feature views")
    sp = sub.add_parser(
        "registry-dump",
        help="print the raw registry JSON; --as-of SEQ prints the "
        "archived version committed at that seq (registry.py history)",
    )
    sp.add_argument(
        "--as-of", type=int, default=None, metavar="SEQ",
        help="archived registry version to print instead of head",
    )
    sp = sub.add_parser(
        "registry-export",
        help="write the registry as reference-compatible "
        "feast.core.Registry protobuf bytes",
    )
    sp.add_argument("out_path")
    sub.add_parser(
        "teardown", help="delete the online store and registry (cli.py teardown)"
    )
    sub.add_parser("version", help="print the SDK version (cli.py version)")
    sp = sub.add_parser(
        "doctor",
        help="report optional capabilities (grpc/redis/cloud stores/"
        "media decode) available in this environment; with --index, "
        "health-check a persisted index instead "
        "(operators/index_advisor.py)",
    )
    sp.add_argument(
        "--index", default=None, metavar="PATH",
        help="path of a persisted bm25/minhash/ivf/ivfpq index to advise on",
    )
    sp.add_argument(
        "--maintain", action="store_true",
        help="with --index: APPLY the mechanical advice (compact); "
        "rebuild advice is still only reported",
    )
    sp.add_argument(
        "--vacuum", action="store_true",
        help="with --maintain: also reclaim superseded directories — "
        "only safe once readers of the previous manifest have drained",
    )
    sp.add_argument(
        "--pair", nargs=2, default=None,
        metavar=("BM25_PATH", "VEC_PATH"),
        help="check a hybrid retrieval pair's corpus alignment "
        "(operators/paired_index.py): exit 1 when the committed "
        "corpus_epoch tokens diverge — a paired append crashed "
        "between its two commits; exit 2 on a bad path",
    )
    sp.add_argument(
        "--strict", action="store_true",
        help="with --pair: also exit 3 when either side is UNSTAMPED "
        "— the state in which alignment checks are exempt (e.g. after "
        "a rebuild dropped the token), which a cron watching a "
        "stamped production pair should treat as its own alarm",
    )
    sp.add_argument(
        "--history", default=None, metavar="PATH",
        help="print the commit log of a persisted index, a snapshot "
        "table (online view, dataset) or a registry file (archived "
        "manifests under _history/): seq, a per-kind summary, tags, and "
        "whether each commit is still a readable as_of= target",
    )
    sp.add_argument(
        "--provenance-orphans", default=None, metavar="RUN_DIR",
        help="audit the layers referenced by RUN_DIR's provenance "
        "records for vacuum-immune tags no record references — the "
        "residue of a snapshot_provenance(pin_tag=...) killed between "
        "pin application and its JSON write; exit 1 on orphans, 2 on "
        "a bad/recordless dir",
    )
    sp = sub.add_parser(
        "tag",
        help="pin/unpin/list named commits, layer-agnostic: a "
        "persisted index (io/epochs.py tag table) or an online "
        "snapshot table / versioned dataset root (io/manifest.py "
        "tags); a tagged commit stays a readable as_of= target "
        "through every vacuum/GC until the tag is deleted",
    )
    sp.add_argument("index_path")
    sp.add_argument("name", nargs="?", default=None)
    sp.add_argument(
        "--seq", type=int, default=None,
        help="commit_seq to pin (default: the current head commit)",
    )
    sp.add_argument("--delete", action="store_true",
                    help="delete NAME instead of creating it")
    sp.add_argument("--list", action="store_true",
                    help="list the committed tags")
    sp = sub.add_parser(
        "provenance",
        help="training-run provenance (provenance.py): 'snapshot "
        "OUT.json' stamps every layer's committed coordinate "
        "(registry seq, per-view online snapshot seq, per-index "
        "commit_seq + tags; no Spark session); 'describe RUN.json' "
        "prints a record and verifies every pin is still replayable "
        "(exit 1 when any pin was GC'd past its retention window)",
    )
    sp.add_argument("action", choices=["snapshot", "describe"])
    sp.add_argument(
        "path", help="provenance JSON to write (snapshot) or read "
        "(describe)",
    )
    sp.add_argument(
        "--index", action="append", default=[], metavar="NAME=PATH",
        help="persisted index to record (repeatable; snapshot only)",
    )
    sp.add_argument(
        "--dataset", action="append", default=[], metavar="NAME=PATH",
        help="versioned dataset (datasets.py commit root) to record "
        "(repeatable; snapshot only)",
    )
    sp.add_argument("--note", default=None,
                    help="free-form run tag (model name, run id)")
    sp.add_argument(
        "--pin", default=None, metavar="TAG",
        help="snapshot only: tag every recorded index commit and "
        "online snapshot with TAG, making the run's pins vacuum-"
        "immune until the tags are deleted",
    )

    sp = sub.add_parser(
        "dataset-diff",
        help="what moved between two commits of a versioned dataset "
        "(datasets.diff_dataset): added/removed(/changed with --key) "
        "counts + sample keys; a/b are commit seqs or tag names",
    )
    sp.add_argument("root", help="dataset root (io/manifest.py table)")
    sp.add_argument("a", help="older commit seq or tag")
    sp.add_argument("b", help="newer commit seq or tag")
    sp.add_argument(
        "--key", action="append", default=[], metavar="COL",
        help="key column (repeatable): enables the keyed "
        "added/removed/changed classification",
    )
    sp.add_argument("--sample", type=int, default=5,
                    help="example keys per bucket (default 5)")

    sp = sub.add_parser(
        "init",
        help="scaffold a new repository with example data + definitions "
        "(cli.py init / repo_operations.init_repo)",
    )
    sp.add_argument("project_directory", nargs="?", default="feature_repo")
    sp.add_argument(
        "--minimal", action="store_true",
        help="write only an empty repo file, no example data",
    )

    args = p.parse_args(argv)

    if args.cmd == "version":
        import feast_spark

        print(f"feast_spark SDK version: {feast_spark.__version__}")
        return 0
    if args.cmd == "tag":
        return _cmd_tag(args)
    if args.cmd == "provenance":
        return _cmd_provenance(args)
    if args.cmd == "dataset-diff":
        return _cmd_dataset_diff(args)
    if args.cmd == "init":
        return _init_repo(args.project_directory, args.minimal)
    if args.cmd == "doctor":
        if args.index is None and (args.maintain or args.vacuum):
            p.error("--maintain/--vacuum require --index PATH")
        if args.vacuum and not args.maintain:
            # _doctor_index only consults --vacuum inside the maintain
            # branch; silently ignoring the flag would look like a
            # vacuum that found nothing
            p.error("--vacuum requires --maintain")
        if args.pair is not None and args.index is not None:
            p.error("--pair and --index are mutually exclusive")
        if args.history is not None and (
            args.index is not None or args.pair is not None
        ):
            p.error("--history is mutually exclusive with --index/--pair")
        if args.strict and args.pair is None:
            # silently ignoring --strict would look like a strict run
            p.error("--strict requires --pair")
        if args.provenance_orphans is not None:
            if (
                args.index is not None or args.pair is not None
                or args.history is not None
            ):
                p.error(
                    "--provenance-orphans is mutually exclusive with "
                    "--index/--pair/--history"
                )
            return _doctor_provenance_orphans(args)
        if args.history is not None:
            return _doctor_history(args)
        if args.pair is not None:
            return _doctor_pair(args)
        if args.index is not None:
            return _doctor_index(args)
        return _doctor()

    if args.cmd == "apply":
        store = _store(args)
        objs = parse_repo(args.repo_file)
        store.apply(objs)
        for o in objs:
            kind = type(o).__name__
            print(f"applied {kind} {o.name}")
        return 0
    if args.cmd == "materialize":
        store = _store(args)
        start = datetime.fromisoformat(args.start)
        end = datetime.fromisoformat(args.end)
        store.materialize(start, end, args.views)
        print(f"materialized [{start}, {end}) into online store")
        return 0
    if args.cmd == "materialize-incremental":
        store = _store(args)
        end = datetime.fromisoformat(args.end)
        store.materialize_incremental(end, args.views)
        print(f"materialized incrementally up to {end}")
        return 0
    if args.cmd == "expire-online":
        store = _store(args)
        now = datetime.fromisoformat(args.now) if args.now else None
        swept = store.expire_online_features(now=now)
        for view, n in sorted(swept.items()):
            print(f"{view}\texpired={n}")
        return 0
    if args.cmd == "entities":
        store = _store(args)
        for e in store.registry.list_entities():
            print(f"{e.name}\t{e.value_type.name}\t{e.join_key}")
        return 0
    if args.cmd == "feature-views":
        store = _store(args)
        for v in store.registry.list_feature_views():
            feats = ",".join(v.feature_names)
            print(f"{v.name}\tentities={','.join(v.entities)}\tfeatures={feats}")
        return 0
    if args.cmd == "registry-export":
        store = _store(args)
        payload = store.export_registry_proto(args.out_path)
        print(f"wrote {len(payload)} bytes to {args.out_path}")
        return 0
    if args.cmd == "registry-dump":
        import json

        from feast_spark.registry import Registry

        try:
            payload = Registry.read_payload(args.registry, args.as_of)
        except ValueError as e:
            print(e, file=sys.stderr)
            return 1
        print(json.dumps(payload, indent=1))
        return 0
    if args.cmd == "teardown":
        import os
        import shutil

        from feast_spark.registry import archive_root

        if os.path.isdir(args.online_path):
            shutil.rmtree(args.online_path)
            print(f"removed online store {args.online_path}")
        if os.path.exists(args.registry):
            os.unlink(args.registry)
            print(f"removed registry {args.registry}")
        if os.path.isdir(archive_root(args.registry)):
            shutil.rmtree(archive_root(args.registry))
            print(f"removed registry history {archive_root(args.registry)}")
        return 0
    return 1


if __name__ == "__main__":
    sys.exit(main())
