"""Training-run provenance: one JSON recording the exact committed
coordinates of every layer at training time, and the verb that re-pins
all of them for a faithful replay.

Every layer travels in time through the one commit core,
``io/epochs.py`` (registry versions, ``registry.py load_as_of``; index
manifests, ``as_of=``; online snapshots and datasets,
``io/manifest.py path_as_of``), and they answer "what was live when
model X trained" only if someone recorded the coordinates AT training
time.  :func:`snapshot_provenance` is that record — the
MLflow-run-tag / Delta-commit-pin discipline applied across all layers
at once:

    prov = store.snapshot_provenance(
        index_paths={"bm25": bm25_path}, path=run_dir + "/provenance.json"
    )
    # ... later, regardless of what was applied/materialized/appended:
    run = store.describe_run(run_dir + "/provenance.json")
    run.registry                         # definitions live at training
    store.get_online_features(..., as_of=run.online_as_of, now=...)
    bm25_index_topk(..., as_of=run.index_as_of["bm25"])

The snapshot reads ONLY committed heads (registry seq, per-view online
manifest seq, per-index and per-dataset commit_seq + tags) — no Spark
job, a few JSON reads — so stamping every training run is
control-plane cheap.  Replay durability is the layers' own retention
windows (the registry's newest 50 versions / ``keep_versions`` /
``*_index_vacuum retain_last``) — unless the run is PINNED:
``pin_tag="june-run"`` tags every recorded online snapshot, index
commit and dataset commit (tagged commits are GC/vacuum-exempt until
deleted), and ``embed_registry`` (default) copies the small registry
payload into the JSON itself, so a pinned run replays for as long as
someone keeps its provenance file and tags.

:func:`record_layers` is the one list of a record's tag-capable layers
(online views, indexes, datasets, each with its epoch root): the pin
loop, ``provenance describe``, ``doctor --provenance-orphans`` and
:attr:`RunReplay.ingest_meta` all walk it, and every check goes
through ``io/epochs.py`` (``read_manifest(as_of_seq=)``,
``read_tags``, ``tag_commit``).  The registry has no tags and is
checked through :attr:`RunReplay.registry`, so a version the archive
window expired still replays from the embedded payload.

The reference keeps no cross-layer run record (its registry is a
single mutable proto, sdk/python/feast/registry.py); this extends its
``feast registry-dump`` operational surface with the reproducible-run
story a 100 TB training pipeline audits against.
"""

from __future__ import annotations

import json
import posixpath
import time
from datetime import datetime, timezone

from feast_spark.io import epochs as epochs_io
from feast_spark.io.fs import LocalFS, StoreFS

#: bumped when the JSON layout changes incompatibly
PROVENANCE_FORMAT = 1

#: online commit seq recorded for a view that had never been
#: materialized when the snapshot was taken: "before the first commit"
#: (seq numbering starts at 1).  ``get_online_features(as_of=0)``
#: replays the empty pre-history state (NOT_FOUND rows) — exactly what
#: serving returned then.
NEVER_MATERIALIZED = 0

#: the record section holding each layer scope
_SECTION = {"online": "online", "index": "indexes", "dataset": "datasets"}


def record_layers(doc: dict, online_root: str | None = None):
    """Every tag-capable layer of provenance record ``doc``, as
    ``(scope, name, root, seq, tags, meta)``: each online view (root
    ``<online path>/<project>/<view>``), then each index, then each
    dataset, names sorted within a scope.  ``online_root`` stands in
    for a record that predates the recorded online path; with neither,
    an online root is None.  The registry is not among them: it has no
    tags, and it replays through :attr:`RunReplay.registry`."""
    online = doc["online"]
    oroot = online.get("path") or online_root
    for view, seq in sorted(online.get("views", {}).items()):
        yield (
            "online", view,
            posixpath.join(oroot, doc["project"], view) if oroot else None,
            seq, online.get("tags", {}).get(view, {}),
            online.get("meta", {}).get(view, {}),
        )
    for scope in ("index", "dataset"):
        for name, info in sorted(doc.get(_SECTION[scope], {}).items()):
            yield (
                scope, name, info["path"], info["commit_seq"],
                info.get("tags", {}), info.get("meta", {}),
            )


def snapshot_provenance(
    store,
    index_paths: dict[str, str] | None = None,
    note: str | None = None,
    path: str | None = None,
    index_fs: StoreFS | None = None,
    pin_tag: str | None = None,
    embed_registry: bool = True,
    dataset_paths: dict[str, str] | None = None,
) -> dict:
    """Record the committed head coordinates of every layer of
    ``store`` (a :class:`~feast_spark.feature_store.FeatureStore`),
    plus the named indexes in ``index_paths`` ({name: index_root}) and
    the named versioned datasets in ``dataset_paths`` ({name:
    dataset_root}, datasets.py — the training DataFrames themselves).

    Returns the provenance dict; ``path`` additionally writes it as
    JSON (atomic write through the registry's filesystem).  ``note``
    is a free-form caller tag (model name, run id).

    ``pin_tag`` makes the run's pins VACUUM-IMMUNE: every layer of
    :func:`record_layers` with a commit (each materialized view's
    snapshot, each index commit, each dataset commit) is tagged in its
    io/epochs.py tag table, so daily vacuums / ``keep_versions`` GC can
    never expire what this run replays — delete the tags when the run
    is retired.

    ``embed_registry`` (default on) copies the registry's archived
    payload INTO the record: registry retention is count-based
    (the ``Registry.KEEP_HISTORY`` newest versions), so a runaway
    apply loop could otherwise prune a pinned run's version — the
    embedded copy makes the registry pin durable for the lifetime of
    the JSON itself (definitions are small; the layers that hold DATA
    pin by reference + tag instead).
    """
    if pin_tag is not None:
        # checked BEFORE any layer is touched, so a bad name cannot
        # fail mid-loop after some layers were tagged
        epochs_io.check_tag_name(pin_tag, "pin_tag")

    reg = store.registry
    registry_seq = None
    registry_payload = None
    if reg.fs.exists(reg.path):
        registry_payload = json.loads(reg.fs.read_bytes(reg.path))
        # a head from before the commit core counts with a legacy seq
        registry_seq = epochs_io.commit_seq_of(registry_payload) or None

    project = store.config.project
    ostore = store.online_store
    online: dict = {"type": type(ostore).__name__}
    if getattr(ostore, "supports_time_travel", False):
        # the root is recorded so `provenance describe` can verify the
        # online pins from the document alone, like the registry path
        online["path"] = getattr(ostore, "root", None)
        views = {}
        views_meta: dict[str, dict] = {}
        for view in reg.list_feature_views():
            table = ostore.table(project, view.name)
            head = epochs_io.current_head(table.root, table.fs)
            seq = epochs_io.commit_seq_of(head)
            if head and not seq:
                # the view WAS serving real values: recording it as
                # never-materialized would make a later replay silently
                # serve NOT_FOUND — fake reproducibility
                raise ValueError(
                    f"online table {project}/{view.name} has a manifest "
                    "but no commit log — it predates commit logging, so "
                    "its serving state has no replayable coordinate; "
                    "materialize once to start the log"
                )
            views[view.name] = seq if head else NEVER_MATERIALIZED
            # last-commit manifest meta: the streaming sink's
            # stream_epoch watermark — "ingested through epoch E", the
            # missing coordinate for a view fed by a query that never
            # stops writing
            if head.get("meta"):
                views_meta[view.name] = head["meta"]
        online["views"] = views
        if views_meta:
            online["meta"] = views_meta
    else:
        # KV backends overwrite in place — recorded honestly so replay
        # raises instead of silently serving head
        online["supports_time_travel"] = False

    ifs = index_fs or LocalFS()
    indexes = {}
    for name, ipath in (index_paths or {}).items():
        manifest = epochs_io.read_manifest(ipath, ifs)
        indexes[name] = {
            "path": ipath,
            "commit_seq": manifest["commit_seq"],
            "kind": manifest.get("kind"),
        }
        # streaming sidecar watermarks (index co-sinks stamp
        # stream_epoch; paired sinks add the corpus_epoch pair token)
        meta = {
            k: manifest[k]
            for k in ("stream_epoch", "corpus_epoch")
            if k in manifest
        }
        if meta:
            indexes[name]["meta"] = meta

    datasets = {}
    for name, droot in (dataset_paths or {}).items():
        head = epochs_io.current_head(droot, ifs)
        seq = epochs_io.commit_seq_of(head)
        if not seq:
            raise ValueError(
                f"no committed dataset at {droot} — commit it with "
                "RetrievalJob.to_dataset / datasets.commit_dataset "
                "before recording it"
            )
        datasets[name] = {"path": droot, "commit_seq": seq}
        if head.get("meta"):
            datasets[name]["meta"] = head["meta"]

    doc = {
        "format": PROVENANCE_FORMAT,
        "created_at": datetime.now(timezone.utc).isoformat(),
        "created_at_epoch_s": time.time(),
        "note": note,
        "pin_tag": pin_tag,
        "project": project,
        "registry": {"path": reg.path, "seq": registry_seq},
        "online": online,
        "indexes": indexes,
        "datasets": datasets,
    }

    def fs_of(scope: str) -> StoreFS:
        return ostore.fs if scope == "online" else ifs

    # pins are applied only after EVERY coordinate was read and
    # validated above — a failure before this point leaves no orphaned
    # vacuum-immune tags behind
    if pin_tag is not None:
        _pin(doc, pin_tag, fs_of)
    # the record carries each layer's tag table, so `provenance
    # describe` can verify a pin, not just the seq: an index or dataset
    # entry always, the online section only for views with tags
    online_tags = {}
    for scope, name, root, _seq, _tags, _meta in record_layers(doc):
        tags = epochs_io.read_tags(root, fs_of(scope))
        if scope != "online":
            doc[_SECTION[scope]][name]["tags"] = tags
        elif tags:
            online_tags[name] = tags
    if online_tags:
        online["tags"] = online_tags

    if embed_registry and registry_payload is not None:
        doc["registry"]["payload"] = registry_payload
    if path is not None:
        reg.fs.write_bytes_atomic(
            path, json.dumps(doc, indent=1).encode()
        )
    return doc


def _pin(doc: dict, pin_tag: str, fs_of) -> None:
    """Tag every committed layer of ``doc`` with ``pin_tag``.  A failure
    pinning layer N (e.g. a concurrent vacuum GC'd a recorded seq
    between the coordinate read and the tag call) undoes the tags
    already applied to layers 1..N-1 — otherwise they would sit
    vacuum-immune forever with NO provenance file referencing them (the
    JSON is only written afterwards).  Each undo restores the tag's
    PRIOR state: deleted if it did not exist, re-pointed if this call
    overwrote an existing pin."""
    undo: list = []
    try:
        for scope, _name, root, seq, _tags, _meta in record_layers(doc):
            if seq == NEVER_MATERIALIZED:
                continue
            fs = fs_of(scope)
            prior = epochs_io.read_tags(root, fs).get(pin_tag)
            epochs_io.tag_commit(root, fs, pin_tag, seq)
            undo.append((root, fs, prior))
    except BaseException:
        for root, fs, prior in reversed(undo):
            try:
                if prior is None:
                    epochs_io.delete_tag(root, fs, pin_tag)
                else:
                    epochs_io.tag_commit(root, fs, pin_tag, prior)
            except Exception:
                pass  # best-effort: never mask the original error
        raise


def load_provenance(path: str, fs: StoreFS | None = None) -> dict:
    """Read a provenance JSON written by :func:`snapshot_provenance`.
    Rejects unknown ``format`` versions loudly rather than mis-pinning
    a replay."""
    fs = fs or LocalFS()
    doc = json.loads(fs.read_bytes(path))
    if doc.get("format") != PROVENANCE_FORMAT:
        raise ValueError(
            f"unsupported provenance format {doc.get('format')!r} at "
            f"{path} (this build reads format {PROVENANCE_FORMAT})"
        )
    return doc


class RunReplay:
    """The re-pinned view of one recorded training run — every layer
    resolved to the coordinate the provenance recorded.

    ``registry`` lazily loads the archived registry version
    (:meth:`feast_spark.registry.Registry.load_as_of` — read-only).
    ``online_as_of`` is the per-view pin map to pass straight to
    ``get_online_features(as_of=...)``.  ``index_as_of`` maps index
    name -> archived commit_seq for the ``as_of=`` arg of any index
    read verb.  Accessors raise the layers' own honest
    retention-window errors when a pin has been GC'd.
    """

    def __init__(self, doc: dict, registry_fs: StoreFS | None = None):
        self.doc = doc
        self._registry_fs = registry_fs
        self._registry = None
        #: set once :attr:`registry` resolved from the embedded payload
        self.registry_from_payload = False

    @property
    def registry(self):
        from feast_spark.registry import Registry

        if self._registry is None:
            info = self.doc["registry"]
            if info["seq"] is None:
                raise ValueError(
                    "the provenance snapshot predates the registry's "
                    "first commit — there is no version to replay"
                )
            try:
                self._registry = Registry.load_as_of(
                    info["path"], info["seq"], fs=self._registry_fs
                )
            except ValueError:
                # the archive window expired the version — fall back
                # to the payload embedded at snapshot time (the whole
                # point of embed_registry: the registry pin is durable
                # for the lifetime of the provenance JSON)
                if "payload" not in info:
                    raise
                self._registry = Registry.from_payload(
                    info["payload"], path=info["path"],
                    fs=self._registry_fs, seq=info["seq"],
                )
                self.registry_from_payload = True
        return self._registry

    @property
    def online_as_of(self) -> dict[str, int]:
        online = self.doc["online"]
        if "views" not in online:
            raise ValueError(
                f"the recorded online store ({online['type']}) keeps no "
                "history — the run's online state cannot be replayed"
            )
        return dict(online["views"])

    @property
    def index_as_of(self) -> dict[str, int]:
        return {
            name: info["commit_seq"]
            for name, info in self.doc["indexes"].items()
        }

    def index_path(self, name: str) -> str:
        return self.doc["indexes"][name]["path"]

    @property
    def ingest_meta(self) -> dict:
        """Per-layer streaming watermarks recorded at snapshot time —
        ``{"online": {view: meta}, "indexes": {name: meta},
        "datasets": {name: meta}}``, where meta carries the sink's
        ``stream_epoch`` (and for paired index sinks ``corpus_epoch``).
        For a run fed by continuous ingestion this states "this run
        trained on data ingested through epoch E" per layer — the
        coordinate a snapshot seq alone cannot express when the head
        advances every micro-batch."""
        out: dict = {"online": {}, "indexes": {}, "datasets": {}}
        for scope, name, _root, _seq, _tags, meta in record_layers(self.doc):
            if meta:
                out[_SECTION[scope]][name] = meta
        return out

    @property
    def dataset_as_of(self) -> dict[str, int]:
        return {
            name: info["commit_seq"]
            for name, info in self.doc.get("datasets", {}).items()
        }

    def read_dataset(self, spark, name: str, fs=None):
        """The exact training rows this run committed under ``name`` —
        ``datasets.read_dataset`` at the recorded commit seq."""
        from feast_spark.datasets import read_dataset

        info = self.doc["datasets"][name]
        return read_dataset(
            spark, info["path"], as_of=info["commit_seq"], fs=fs
        )

    def dataset_drift(
        self, spark, name: str, key_cols: list[str] | None = None,
        fs=None, sample: int = 5,
    ) -> dict:
        """What changed in dataset ``name`` SINCE this run trained:
        ``datasets.diff_dataset`` between the recorded commit and the
        current head — the first question when a model's metrics move
        and the training set is suspected ("what did the July re-run
        change vs June's pinned rows?").  Returns the diff counts (+
        sample keys with ``key_cols``) plus ``from_seq``/``to_seq``;
        requires the recorded commit to still be resolvable (pinned
        runs always are)."""
        from feast_spark.datasets import dataset_history, diff_dataset

        info = self.doc["datasets"][name]
        hist = dataset_history(info["path"], fs=fs)
        if not hist:
            raise ValueError(
                f"no commit history at {info['path']} — the dataset "
                "was deleted or never committed"
            )
        head = hist[-1]["seq"]
        out = diff_dataset(
            spark, info["path"], info["commit_seq"], head,
            key_cols=key_cols, fs=fs, sample=sample,
        )
        out["from_seq"], out["to_seq"] = info["commit_seq"], head
        return out
