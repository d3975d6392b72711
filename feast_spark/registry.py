"""File-backed registry of declared objects.

The reference persists a protobuf registry file on local/GCS/S3 with a
cache TTL (sdk/python/feast/registry.py:39-77,444-611: one
RegistryStore subclass per SDK — Local/GCS/S3).  Here: one JSON file
holding entities + feature views + services + on-demand views +
materialization intervals (M1/M2).  Remote storage goes through ONE
implementation — ``StoreFS``/``HadoopFS`` over the cluster's Hadoop
connectors — so ``s3a://``, ``gs://``, ``hdfs://``, ``abfss://`` all
work with zero extra Python SDKs (the scheme dispatch lives in
``FeatureStore``).  ``refresh()`` re-reads the backing object so
long-lived sessions see other writers' commits, the reference's
cache-TTL refresh path (registry.py:110-126).

Commits go through the one commit protocol, ``io/epochs.py``: the
file is the head (with ``commit_seq`` and ``committed_at``), and each
commit is archived under ``<path>.history/_history/commit_seq=N.json``
— so :meth:`Registry.load_as_of` answers "which definitions were live
when model X trained" for the newest :attr:`Registry.KEEP_HISTORY`
versions (the reference keeps no registry history).

A commit is a compare-and-swap on the seq the registry loaded.  After
a lost race it re-reads the head and merges per object (section,
name) against what it loaded: a change only one side made wins, and
an object both sides changed differently raises
``ConcurrentCommitError`` with the head untouched.  So two ``apply``
runs against one file both land, as in the reference, which re-reads
its registry before each change (registry.py:390-393,473-501).
"""

from __future__ import annotations

import json
from datetime import datetime

from feast_spark.entity import Entity
from feast_spark.errors import EntityNotFoundError, FeatureViewNotFoundError
from feast_spark.feature_view import (
    FeatureService,
    FeatureView,
    OnDemandFeatureView,
)
from feast_spark.io import epochs as epochs_io
from feast_spark.io.epochs import COMMIT_ATTEMPTS, ConcurrentCommitError
from feast_spark.io.fs import LocalFS, StoreFS

#: the payload's object lists; each is also a ``{name: object}``
#: attribute of :class:`Registry`
_SECTIONS = (
    "entities", "feature_views", "feature_services", "on_demand_views",
)


def archive_root(path: str) -> str:
    """The epoch root holding the archive (and tag table) of the
    registry at ``path``."""
    return f"{path}.history"


def _canonical(payload: dict) -> dict[tuple[str, str], str]:
    """``{(section, name): canonical JSON}`` — what the merge compares."""
    return {
        (section, d["name"]): json.dumps(d, sort_keys=True)
        for section in _SECTIONS
        for d in payload.get(section, [])
    }


def _check_projections(payload: dict, path: str) -> None:
    """Raise if a feature service in ``payload`` projects a view the
    payload does not hold."""
    views = {d["name"] for d in payload.get("feature_views", [])}
    for s in payload.get("feature_services", []):
        for p in s.get("projections", []):
            if p["view"] not in views:
                raise ValueError(
                    f"registry at {path}: feature service {s['name']!r} "
                    f"projects feature view {p['view']!r}, which the "
                    "registry does not hold"
                )


class Registry:
    def __init__(self, path: str, fs: StoreFS | None = None):
        self.path = path
        self.fs = fs or LocalFS()
        # the loaded head's seq and objects: the CAS base and merge base
        self._seq = 0
        self._base: dict[tuple[str, str], str] = {}
        self.entities: dict[str, Entity] = {}
        self.feature_views: dict[str, FeatureView] = {}
        self.feature_services: dict[str, FeatureService] = {}
        self.on_demand_views: dict[str, OnDemandFeatureView] = {}
        if self.fs.exists(path):
            self._load()

    # -- apply / reconcile (M1, repo_operations.py:114-240) ------------
    def apply_entity(self, entity: Entity) -> None:
        self.entities[entity.name] = entity

    def apply_feature_view(self, view: FeatureView) -> None:
        existing = self.feature_views.get(view.name)
        if existing is not None and not view.materialization_intervals:
            # keep bookkeeping across re-applies
            view.materialization_intervals = existing.materialization_intervals
        self.feature_views[view.name] = view

    def apply_feature_service(self, service: FeatureService) -> None:
        self.feature_services[service.name] = service

    def apply_on_demand_view(self, view: OnDemandFeatureView) -> None:
        self.on_demand_views[view.name] = view

    def get_on_demand_view(self, name: str) -> OnDemandFeatureView:
        if name not in self.on_demand_views:
            raise FeatureViewNotFoundError(name)
        return self.on_demand_views[name]

    def delete_entity(self, name: str) -> None:
        if name not in self.entities:
            raise EntityNotFoundError(name)
        del self.entities[name]

    def delete_feature_view(self, name: str) -> None:
        if name not in self.feature_views:
            raise FeatureViewNotFoundError(name)
        users = sorted(
            s.name for s in self.feature_services.values()
            if any(p.view.name == name for p in s.features)
        )
        if users:
            raise ValueError(
                f"feature view {name!r} is projected by feature services "
                f"{users} — delete or re-apply them first"
            )
        del self.feature_views[name]

    # -- getters -------------------------------------------------------
    def get_entity(self, name: str) -> Entity:
        if name not in self.entities:
            raise EntityNotFoundError(name)
        return self.entities[name]

    def get_feature_view(self, name: str) -> FeatureView:
        if name not in self.feature_views:
            raise FeatureViewNotFoundError(name)
        return self.feature_views[name]

    def get_feature_service(self, name: str) -> FeatureService:
        return self.feature_services[name]

    def list_entities(self) -> list[Entity]:
        return list(self.entities.values())

    def list_feature_views(self) -> list[FeatureView]:
        return list(self.feature_views.values())

    # -- materialization intervals (M2, registry.py:215-258) -----------
    def apply_materialization(
        self, view_name: str, start: datetime, end: datetime
    ) -> None:
        view = self.get_feature_view(view_name)
        view.materialization_intervals.append((start, end))

    # -- persistence ---------------------------------------------------

    #: archived versions kept: definitions are small JSON, and the
    #: window exists so a runaway apply loop cannot grow the archive
    #: unboundedly
    KEEP_HISTORY = 50

    def _payload(self) -> dict:
        return {
            section: [o.to_dict() for o in getattr(self, section).values()]
            for section in _SECTIONS
        }

    def commit(self) -> None:
        """Publish the in-memory state as the next version: one atomic
        write of the head (temp + rename locally/HDFS, single-object PUT
        on object stores), archived first.  Afterwards the in-memory
        state is what was committed, merge included."""
        for _ in range(COMMIT_ATTEMPTS):
            payload = self._payload()
            # a merge can pair one writer's view deletion with another
            # writer's new service on that view: refuse before the head
            # is written, or every later load of the file would fail
            _check_projections(payload, self.path)
            try:
                head = epochs_io.commit_manifest(
                    archive_root(self.path), self.fs,
                    {**payload, "commit_seq": self._seq},
                    head_file=self.path,
                )
            except ConcurrentCommitError:
                self._merge(Registry(self.path, self.fs))
                continue
            self._seq, self._base = head["commit_seq"], _canonical(payload)
            epochs_io.vacuum(
                archive_root(self.path), self.fs, self.KEEP_HISTORY,
                lambda: self.read_payload(self.path, fs=self.fs),
                None, head_file=self.path,
            )
            return
        raise ConcurrentCommitError(
            f"registry at {self.path} lost {COMMIT_ATTEMPTS} commit races "
            "in a row — is an apply loop running elsewhere?"
        )

    def _merge(self, theirs: "Registry") -> None:
        """Fold the committed head ``theirs`` in, per (section, name)
        against the loaded base; raise, changing nothing, if both sides
        changed one object differently.  Where the sides agree, keep
        this registry's object: an applied on-demand view carries its
        transform, a loaded one does not."""
        mine = _canonical(self._payload())
        take = []
        for key in self._base.keys() | mine.keys() | theirs._base.keys():
            base, m = self._base.get(key), mine.get(key)
            t = theirs._base.get(key)
            if m == t or t == base:
                continue
            if m != base:
                raise ConcurrentCommitError(
                    f"registry at {self.path}: {key[0]} {key[1]!r} was "
                    "changed both here and by a concurrent commit "
                    f"(commit_seq={theirs._seq}) — refresh and re-apply"
                )
            take.append(key)
        for section, name in take:
            objs, head_objs = getattr(self, section), getattr(theirs, section)
            if name in head_objs:
                objs[name] = head_objs[name]
            else:
                del objs[name]
        self._seq, self._base = theirs._seq, theirs._base

    def history_seqs(self) -> list[int]:
        """Sorted archived registry versions (the load_as_of targets)."""
        return epochs_io.served_seqs(
            archive_root(self.path), self.fs, head_file=self.path
        )

    @classmethod
    def read_payload(
        cls, path: str, seq: int | None = None, fs: StoreFS | None = None
    ) -> dict:
        """The committed head's payload, or version ``seq``'s archived
        one; raises with the archived range when ``seq`` is not served
        (expired, never committed, or archived before this layout)."""
        fs = fs or LocalFS()
        try:
            return epochs_io.read_manifest(
                archive_root(path), fs, (), kind="registry", as_of_seq=seq,
                head_file=path,
            )
        except ValueError:
            if seq is None:
                raise
            seqs = epochs_io.served_seqs(
                archive_root(path), fs, head_file=path
            )
            window = (
                f"archived seqs {seqs[0]}..{seqs[-1]}" if seqs
                else "no archived versions"
            )
            raise ValueError(
                f"no registry version seq={seq} at {path}: {window} (the "
                f"newest {cls.KEEP_HISTORY} versions are kept)"
            ) from None

    @classmethod
    def load_as_of(
        cls,
        path: str,
        as_of: int | datetime,
        fs: StoreFS | None = None,
    ) -> "Registry":
        """A read-only snapshot of the registry as committed at seq
        ``as_of`` (int) or at wall-clock instant ``as_of`` (datetime,
        naive = UTC — the latest commit at-or-before it).  Calling
        :meth:`commit` on the snapshot is refused: republishing an old
        version as head must be an explicit apply, not an accident."""
        fs = fs or LocalFS()
        if isinstance(as_of, datetime):
            payload = epochs_io.manifest_at(
                epochs_io.served_manifests(
                    archive_root(path), fs, head_file=path
                ),
                as_of, path, "registry version",
            )
        else:
            payload = cls.read_payload(path, as_of, fs)
        return cls.from_payload(payload, path=path, fs=fs)

    @classmethod
    def from_payload(
        cls,
        payload: dict,
        path: str = "<embedded>",
        fs: StoreFS | None = None,
        seq: int | None = None,
    ) -> "Registry":
        """A read-only Registry built from an archived payload dict —
        the deserialization half of :meth:`load_as_of`, also used to
        resurrect the registry EMBEDDED in a provenance record
        (provenance.py) after the archive window expired its version.
        Commit is refused, as on :meth:`load_as_of` snapshots."""
        reg = cls.__new__(cls)
        reg.path = path
        reg.fs = fs or LocalFS()
        reg._load_payload(payload)
        reg._frozen_seq = seq if seq is not None else payload.get("commit_seq")

        def _refuse_commit() -> None:
            raise RuntimeError(
                f"this Registry is a read-only as_of={reg._frozen_seq} "
                "snapshot; load the live registry to apply changes"
            )

        reg.commit = _refuse_commit  # type: ignore[method-assign]
        return reg

    def refresh(self) -> None:
        """Re-read the backing object (reference registry.py:110-126):
        long-lived sessions pick up commits from other writers."""
        if self.fs.exists(self.path):
            self._load()

    def _load(self) -> None:
        payload = self.read_payload(self.path, fs=self.fs)
        self._load_payload(payload)
        self._seq = epochs_io.commit_seq_of(payload)
        self._base = _canonical(self._payload())

    def _load_payload(self, payload: dict) -> None:
        def by_name(cls, section):
            return {
                d["name"]: cls.from_dict(d) for d in payload.get(section, [])
            }

        self.entities = by_name(Entity, "entities")
        self.feature_views = by_name(FeatureView, "feature_views")
        # services need views resolved
        _check_projections(payload, self.path)
        self.feature_services = {}
        for s in payload.get("feature_services", []):
            projections = [
                self.feature_views[p["view"]].with_projection(p["features"])
                for p in s.get("projections", [])
            ]
            self.feature_services[s["name"]] = FeatureService(
                name=s["name"], features=projections, tags=s.get("tags", {})
            )
        # transforms are code: loaded entries are metadata-only until
        # re-applied from the repo file (OnDemandFeatureView docstring)
        self.on_demand_views = by_name(OnDemandFeatureView, "on_demand_views")
