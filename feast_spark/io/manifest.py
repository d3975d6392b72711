"""Versioned parquet snapshot table: the online store's and every
incrementally-maintained rollup table's (sketches, decayed feature
state, training datasets) client of the one commit protocol,
``io/epochs.py``.

    <root>/
        _MANIFEST.json              head: {"current": "v_00000003",
                                    "format", "keep_versions",
                                    ["meta"], "commit_seq",
                                    "committed_at"}
        _history/commit_seq=N.json  every commit, archived
        _TAGS.json                  named pins {name: commit_seq}
        v_00000001/ ...             immutable parquet snapshots

A writer (1) writes the new snapshot into a fresh ``v_<n>`` directory
numbered past every existing one — committed or orphaned, so a crashed
writer's leftovers are never overwritten — then (2) publishes it with
``epochs.commit_manifest`` (no directory renames anywhere, so it holds
on S3/GCS/ABFS semantics).  Readers resolve the head first; they see
the old complete snapshot or the new complete snapshot, never a
partial write.

A writer that read, modified and wrote passes the seq it read as
``base_seq``: if another writer committed in between, the commit
raises ``ConcurrentCommitError`` and deletes its own staged directory,
instead of silently publishing a snapshot without the other writer's
rows.  Without a base the snapshot overwrites.

After each flip, retention runs the core's expire-then-delete sequence
(``epochs.vacuum``) with the last ``keep_versions`` commits, the head
and every tagged commit as the keep set.  It is best-effort: a failed
delete is retried by the next commit or :meth:`vacuum`.
"""

from __future__ import annotations

import posixpath
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession

from feast_spark.io import epochs as epochs_io
from feast_spark.io.epochs import ConcurrentCommitError
from feast_spark.io.fs import LocalFS, StoreFS

#: GC window when neither the caller nor the manifest names one
DEFAULT_KEEP_VERSIONS = 2


def _version_no(version: str | None) -> int | None:
    if version and version.startswith("v_") and version[2:].isdigit():
        return int(version[2:])
    return None


class ManifestedParquetTable:
    """A versioned parquet directory with atomic manifest-flip commits."""

    def __init__(
        self,
        root: str,
        fs: StoreFS | None = None,
        keep_versions: int | None = None,
    ):
        """``keep_versions=None`` (default) defers to the window the
        table was COMMITTED with — each commit persists its effective
        ``keep_versions`` in the manifest, so a later ``vacuum()`` (or
        a commit from a differently-configured process) honors the
        committer's retention instead of silently shrinking it to a
        caller-side default and deleting snapshots the original
        retention meant to keep.  An explicit int overrides."""
        self.root = root
        self.fs = fs or LocalFS()
        self._keep_arg = None if keep_versions is None else max(1, keep_versions)

    def stored_keep_versions(self) -> int | None:
        """The window persisted by the last commit, or None for a
        manifest predating window persistence (callers with a
        layer-specific historical default use this to avoid silently
        shrinking such a table's retention to the global default)."""
        return self._read_manifest().get("keep_versions")

    def _effective_keep(self, manifest: dict) -> int:
        if self._keep_arg is not None:
            return self._keep_arg
        stored = manifest.get("keep_versions")
        return max(1, stored) if stored else DEFAULT_KEEP_VERSIONS

    def _read_manifest(self) -> dict:
        return epochs_io.current_head(self.root, self.fs)

    def head(self) -> tuple[str | None, int]:
        """``(snapshot path, commit seq)`` from ONE head read: the base
        a read-modify-write reads from and passes back as
        ``commit(..., base_seq=seq)``.  ``(None, 0)`` before the first
        commit."""
        m = self._read_manifest()
        path = posixpath.join(self.root, m["current"]) if m else None
        return path, epochs_io.commit_seq_of(m)

    def current_path(self) -> str | None:
        return self.head()[0]

    def _next_version(self) -> str:
        versions = [
            int(d[2:])
            for d in self.fs.list_subdirs(self.root)
            if d.startswith("v_") and d[2:].isdigit()
        ]
        return f"v_{(max(versions) + 1 if versions else 1):08d}"

    def read(
        self, spark: SparkSession, as_of: int | str | datetime | None = None
    ) -> DataFrame | None:
        if as_of is not None:
            return spark.read.parquet(self.path_as_of(as_of))
        current = self.current_path()
        if current is None:
            return None
        return spark.read.parquet(current)

    def current_meta(self) -> dict:
        """Caller-supplied metadata recorded with the last commit (e.g.
        the streaming epoch watermark); empty before the first commit."""
        return self._read_manifest().get("meta", {})

    def commit(
        self,
        df: DataFrame,
        meta: dict | None = None,
        base_seq: int | None = None,
    ) -> int:
        """Write a new snapshot and flip the manifest to it; returns
        the commit seq (minted UNDER the manifest lock — re-reading
        ``history()[-1]`` after the fact could return a concurrent
        committer's seq, a wrong provenance coordinate).

        ``base_seq`` is the head seq ``df`` was derived from
        (:meth:`head`): if the head has moved since, the commit raises
        ``ConcurrentCommitError`` and leaves the head, the archive and
        the ``v_*`` listing as they were.  ``None`` overwrites.

        ``meta`` MERGES over the previous commit's meta (it does not
        replace it): a manual ``update()`` between streaming
        micro-batches — backfill, a late slice — must not wipe the
        streaming epoch watermark, or an at-least-once replay of an
        already-applied epoch after a restart would be re-folded
        (double-counting).  Pass an explicit ``{"key": None}`` to
        delete a meta key."""
        version = self._next_version()
        df.write.mode("errorifexists").parquet(
            posixpath.join(self.root, version)
        )
        return self._publish(version, meta, base_seq)

    def _publish(
        self, version: str, meta: dict | None, base_seq: int | None
    ) -> int:
        try:
            head = self._flip(version, meta, base_seq)
        except ConcurrentCommitError:
            # never published: the staged snapshot goes with the loser
            self.fs.delete(posixpath.join(self.root, version))
            raise
        try:
            self._vacuum(head["keep_versions"])
        except Exception:
            pass  # GC is best-effort; the next commit or vacuum() retries
        return head["commit_seq"]

    def _flip(
        self, version: str, meta: dict | None, base_seq: int | None
    ) -> dict:
        while True:
            prev = self._read_manifest()
            manifest = {
                "current": version,
                "format": "parquet",
                # the committer's retention is part of the table's
                # contract: persisted so vacuum() and other processes
                # honor it by default
                "keep_versions": self._effective_keep(prev),
                "commit_seq": (
                    epochs_io.commit_seq_of(prev) if base_seq is None
                    else base_seq
                ),
            }
            merged = {**prev.get("meta", {}), **(meta or {})}
            merged = {k: v for k, v in merged.items() if v is not None}
            if merged:
                manifest["meta"] = merged
            try:
                return epochs_io.commit_manifest(self.root, self.fs, manifest)
            except ConcurrentCommitError:
                if base_seq is not None:
                    raise
                # no base: only meta and the window derive from the
                # head, so re-merge them over the new head and flip again

    def history(self) -> list[dict]:
        """The retained commit log, oldest first: one
        ``{"seq", "version", "committed_at"}`` entry per archived
        commit (the ``keep_versions`` window, plus every tagged commit)
        — the resolvable time-travel targets."""
        return [
            {
                "seq": m["commit_seq"], "version": m["current"],
                "committed_at": m["committed_at"],
            }
            for m in epochs_io.served_manifests(self.root, self.fs)
        ]

    def tags(self) -> dict[str, int]:
        """Named commit pins ``{name: seq}``.  A tagged snapshot is
        exempt from ``keep_versions`` GC until its tag is deleted, so a
        provenance-pinned online state ("the snapshots the June model
        served from") survives daily materializations."""
        return epochs_io.read_tags(self.root, self.fs)

    def tag(self, name: str, seq: int | None = None) -> int:
        """Pin commit ``seq`` (default: head) under ``name``; returns
        the pinned seq (``epochs.tag_commit``)."""
        if seq is None:
            seq = self.head()[1]
            if not seq:
                raise ValueError(
                    f"no commit history at {self.root} — commit once to "
                    "start the log, then tag"
                )
        epochs_io.tag_commit(self.root, self.fs, name, seq)
        return int(seq)

    def delete_tag(self, name: str) -> None:
        """Unpin ``name``; its snapshot rejoins the GC window at the
        next commit (or an explicit :meth:`vacuum`)."""
        epochs_io.delete_tag(self.root, self.fs, name)

    def vacuum(self) -> list[str]:
        """Re-run GC against the CURRENT head without committing a new
        snapshot: reclaim versions a deleted tag left behind (GC
        otherwise only runs inside a commit, so an unpinned snapshot on
        a cold table would linger until someone writes).  Same keep
        rules as the commit path.  Returns the deleted version dirs."""
        head = self._read_manifest()
        return self._vacuum(self._effective_keep(head)) if head else []

    def _vacuum(self, keep: int) -> list[str]:
        def sweep(head, _protected, retained):
            # retained is seq-ordered and ends with the sliding window;
            # versions numbered above its oldest are never deleted — a
            # concurrent writer may be staging one right now
            window = [_version_no(m.get("current")) for m in retained[-keep:]]
            if None in window or not window:
                return []
            live = {m.get("current") for m in [head, *retained]}
            deleted = []
            for d in sorted(self.fs.list_subdirs(self.root)):
                n = _version_no(d)
                if n is not None and n < min(window) and d not in live:
                    try:
                        self.fs.delete(posixpath.join(self.root, d))
                        deleted.append(d)
                    except Exception:
                        pass  # best-effort; the next GC retries
            return deleted

        return epochs_io.vacuum(
            self.root, self.fs, keep, self._read_manifest, sweep
        )[1]

    def path_as_of(self, as_of: int | str | datetime) -> str:
        """The snapshot directory serving reads resolved at commit seq
        ``as_of`` (int), tag name ``as_of`` (str — a :meth:`tag` pin),
        or at wall-clock instant ``as_of`` (datetime, naive = UTC): the
        latest commit at-or-before that instant — Delta's ``TIMESTAMP
        AS OF``, possible because snapshots are immutable and GC keeps
        ``keep_versions`` of them (plus every tagged commit).  Raises
        with the surviving window when the target is older than
        retention (GC'd snapshots are gone; the error is honest).  An
        instant at or past the last commit resolves to HEAD — head is
        what serving returned at every instant since that commit
        (pinned by tests; int seqs, by contrast, raise when unknown)."""
        if isinstance(as_of, datetime):
            m = epochs_io.manifest_at(
                epochs_io.served_manifests(self.root, self.fs), as_of,
                self.root, "snapshot",
            )
            return posixpath.join(self.root, m["current"])
        seq = epochs_io.resolve_as_of(self.root, self.fs, as_of)
        try:
            m = epochs_io.read_manifest(
                self.root, self.fs, ("current",), kind="snapshot",
                as_of_seq=seq,
            )
        except ValueError:
            hist = self.history()
            if not hist:
                raise ValueError(
                    f"no commit history at {self.root} — the table "
                    "predates commit logging (its next commit starts the "
                    "log) or was never committed"
                ) from None
            if any(e["seq"] == seq for e in hist):
                raise  # archived, but not a snapshot manifest
            raise ValueError(
                f"no snapshot at {self.root} for commit seq={seq}: "
                f"retained seqs {', '.join(str(e['seq']) for e in hist)} "
                "(keep_versions GC reclaims untagged snapshots)"
            ) from None
        return posixpath.join(self.root, m["current"])
